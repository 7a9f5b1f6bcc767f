package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

import graft.chat.Conversations
import graft.sources.Sources

/** S5 hub-export compatibility (VERDICT r6 #8): `Sources.publish` must
  * emit a parquet layout HF `datasets` can ingest — a directory of plain
  * parquet files whose schema uses only Arrow-1:1 types, with the chat
  * `conversation` column as list<struct<content, do_train, role>>
  * (the exact nested feature shape the reference pushes to the hub,
  * main.py:74). Pinned structurally, no network needed.
  */
class SourcesSpec extends AnyFunSuite with SharedSession {

  test("published chatml parquet keeps the hub-ingestible nested shape") {
    val out = tmp("publish_spec")
    val flagship = graft.chat.ChatPipeline
      .flagship(spark, "/root/testdata/sf0.001")
    Sources.publish(flagship, out)

    // directory of plain *.parquet part files (what
    // datasets.load_dataset("parquet", data_files=...) globs)
    val files = new java.io.File(out).listFiles()
      .filter(_.getName.endsWith(".parquet"))
    assert(files.nonEmpty, "no parquet part files published")

    val re = spark.read.parquet(out)
    // round-trip schema is EXACTLY the chat data model
    assert(re.schema("conversation").dataType ===
      ArrayType(Conversations.MessageType))
    assert(re.schema("source").dataType === StringType)
    // every leaf type maps 1:1 to Arrow (no Spark-only logical types)
    val leafTypes = scala.collection.mutable.Set.empty[DataType]
    def walk(dt: DataType): Unit = dt match {
      case s: StructType => s.fields.foreach(f => walk(f.dataType))
      case a: ArrayType => walk(a.elementType)
      case m: MapType => walk(m.keyType); walk(m.valueType)
      case leaf => leafTypes += leaf
    }
    walk(re.schema)
    val arrowSafe: Set[DataType] = Set(StringType, BooleanType, LongType,
      IntegerType, DoubleType, FloatType, BinaryType, DateType,
      TimestampType)
    assert(leafTypes.forall(arrowSafe.contains),
      s"non-Arrow-1:1 leaf types published: $leafTypes")
    // and the rows themselves survive
    assert(re.count() === flagship.count())
  }

  test("snapshotDiff: added/removed/changed only, unchanged silent") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    val old = Seq((1L, "same"), (2L, "before"), (3L, "gone"),
      (4L, null: String)).toDF("doc_id", "text")
    val neu = Seq((1L, "same"), (2L, "after"), (5L, "fresh"),
      (4L, "")).toDF("doc_id", "text")
    val r = graft.sources.Sources.snapshotDiff(old, neu, "doc_id", "text")
      .orderBy(col("doc_id"))
      .collect().map(x => (x.getLong(0), x.getString(1))).toSeq
    // id 4: null and "" hash identically through the coalesce — unchanged
    assert(r == Seq((2L, "changed"), (3L, "removed"), (5L, "added")))
  }
}
