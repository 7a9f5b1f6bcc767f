package graft.text

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.types.{BooleanType, DataType, LongType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Ships the needle list with the plan; the automaton itself is
  * `@transient lazy` — rebuilt once per JVM (driver or executor) on first
  * use, never serialized.
  */
final class AhoHolder(val needles: Array[String]) extends Serializable {
  // resolved through the JVM-global ByteDfa cache: this holder is
  // deserialized once PER TASK, so building here directly would rebuild
  // the automaton per task (the dominant cost of the whole filter at
  // 32 tasks — r18 measurement, PERF.md)
  @transient private lazy val dfa = ByteDfa.forNeedles(needles)
  // Locale.ROOT: default-locale toLowerCase diverges under tr-TR ('I' →
  // dotless 'ı'), which would stop ASCII needles like "ai" from matching.
  // Fully-ASCII haystacks (the common case) never lowercase at all: the
  // DFA scans UTF8String bytes in place with A–Z→a–z fused into the
  // transition — zero allocation per row. Non-ASCII haystacks must lower
  // through String — unicode case mapping can change byte length and even
  // produce ASCII (U+212A KELVIN SIGN → 'k'), which a byte map can't see.
  def containsAnyLower(s: UTF8String): Boolean =
    if (s.isFullAscii) dfa.containsBytes(s)
    else dfa.containsBytes(UTF8String.fromString(
      s.toString.toLowerCase(java.util.Locale.ROOT)))
  def countAllLower(s: UTF8String): Long =
    if (s.isFullAscii) dfa.countBytes(s)
    else dfa.countBytes(UTF8String.fromString(
      s.toString.toLowerCase(java.util.Locale.ROOT)))
}

/** Codegen'd Catalyst expressions for the multi-substring filters — unlike
  * a ScalaUDF these stay inside WholeStageCodegen: no encoder boxing, no
  * InternalRow↔Row conversion, null handling inherited from
  * `UnaryExpression`. Generated code calls straight into the holder added
  * as a codegen reference object.
  */
trait AhoExpr extends UnaryExpression {
  def holder: AhoHolder
  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == StringType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"requires string, got ${child.dataType}")
}

/** `lower(child) contains any needle` (check_ethics shape). */
case class ContainsAnyExpr(child: Expression, holder: AhoHolder)
    extends AhoExpr {
  override def dataType: DataType = BooleanType
  override def nullSafeEval(v: Any): Any =
    holder.containsAnyLower(v.asInstanceOf[UTF8String])
  override protected def doGenCode(ctx: CodegenContext,
      ev: ExprCode): ExprCode = {
    val h = ctx.addReferenceObj("aho", holder, "graft.text.AhoHolder")
    defineCodeGen(ctx, ev, c => s"$h.containsAnyLower($c)")
  }
  override protected def withNewChildInternal(c: Expression): Expression =
    copy(child = c)
}

/** Σ non-overlapping needle occurrence counts in lower(child)
  * (check_nsfw_words shape).
  */
case class CountMatchesExpr(child: Expression, holder: AhoHolder)
    extends AhoExpr {
  override def dataType: DataType = LongType
  override def nullSafeEval(v: Any): Any =
    holder.countAllLower(v.asInstanceOf[UTF8String])
  override protected def doGenCode(ctx: CodegenContext,
      ev: ExprCode): ExprCode = {
    val h = ctx.addReferenceObj("aho", holder, "graft.text.AhoHolder")
    defineCodeGen(ctx, ev, c => s"$h.countAllLower($c)")
  }
  override protected def withNewChildInternal(c: Expression): Expression =
    copy(child = c)
}

/** Ships a vocabulary (needle list) with the plan for per-needle
  * OVERLAPPING occurrence counting — the NB restricted-vocabulary term
  * counter (r19). Same JVM-global-cache pattern as [[AhoHolder]]. No
  * lowering: the caller passes the already-lowercased haystack so counts
  * line up with grams extracted from `lower(text)`.
  */
final class GramCountHolder(val needles: Array[String]) extends Serializable {
  @transient private lazy val dfa = ByteDfa.forNeedles(needles)
  private val n = needles.length

  /** Nonzero (needle index, overlapping count) pairs as Catalyst array
    * data — zero rows for a doc containing no vocab gram.
    */
  def nonzeroCounts(s: UTF8String): org.apache.spark.sql.catalyst.util.ArrayData = {
    val counts = new Array[Long](n)
    dfa.countEachInto(s, counts)
    var nz = 0
    var i = 0
    while (i < n) { if (counts(i) != 0L) nz += 1; i += 1 }
    val rows = new Array[Any](nz)
    var j = 0
    i = 0
    while (i < n) {
      if (counts(i) != 0L) {
        rows(j) = org.apache.spark.sql.catalyst.InternalRow(i, counts(i))
        j += 1
      }
      i += 1
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(rows)
  }
}

/** `array<struct<i:int, c:long>>` of nonzero per-needle overlapping counts
  * in `child` (already-lowercased haystack). One DFA scan per row — the
  * r19 replacement for explode-all-grams + broadcast-join-vocab in NB
  * char-gram training (identical counts; see [[ByteDfa.countEachInto]]
  * for the valid-UTF-8 equivalence argument).
  */
case class GramCountsExpr(child: Expression, holder: GramCountHolder)
    extends UnaryExpression {
  import org.apache.spark.sql.types.{ArrayType, IntegerType, StructField, StructType}
  override def dataType: DataType = ArrayType(StructType(Seq(
    StructField("i", IntegerType, nullable = false),
    StructField("c", LongType, nullable = false))), containsNull = false)
  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == StringType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"requires string, got ${child.dataType}")
  override def nullSafeEval(v: Any): Any =
    holder.nonzeroCounts(v.asInstanceOf[UTF8String])
  override protected def doGenCode(ctx: CodegenContext,
      ev: ExprCode): ExprCode = {
    val h = ctx.addReferenceObj("gramCounts", holder,
      "graft.text.GramCountHolder")
    defineCodeGen(ctx, ev, c => s"$h.nonzeroCounts($c)")
  }
  override protected def withNewChildInternal(c: Expression): Expression =
    copy(child = c)
}

object MultiMatch {
  import org.apache.spark.sql.GraftBridge

  /** Column API: true iff lower(c) contains any of `needles`. */
  def containsAny(c: Column, needles: Array[String]): Column =
    GraftBridge.column(
      ContainsAnyExpr(GraftBridge.expression(c), new AhoHolder(needles)))

  /** Column API: Σ per-needle non-overlapping counts in lower(c). */
  def countMatches(c: Column, needles: Array[String]): Column =
    GraftBridge.column(
      CountMatchesExpr(GraftBridge.expression(c), new AhoHolder(needles)))

  /** Column API: nonzero (needle idx, overlapping count) pairs in `c`
    * (pass an already-lowercased haystack — no lowering is applied).
    */
  def gramCounts(c: Column, needles: Array[String]): Column =
    GraftBridge.column(
      GramCountsExpr(GraftBridge.expression(c), new GramCountHolder(needles)))
}
