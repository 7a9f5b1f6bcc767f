package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.analysis.C4Filters

class C4Spec extends AnyFunSuite with SharedSession {

  import spark.implicits._

  private def signals(text: String) =
    C4Filters.c4Signals(Seq((1L, text)).toDF("id", "t"), "id", "t")
      .collect()(0)

  test("line grammar: terminal punct, five words, javascript") {
    val page = Seq(
      "this sentence ends with a proper period.", // kept
      "too short.", // < 5 words
      "this line has no terminal punctuation at all", // no terminal
      "enable JavaScript to view this interactive content today!", // js
      "does a question mark also terminate a kept line?", // kept
      "a quoted ending counts as terminal punctuation in c4\"" // kept
    ).mkString("\n")
    val r = signals(page)
    assert(r.getString(1) == Seq(
      "this sentence ends with a proper period.",
      "does a question mark also terminate a kept line?",
      "a quoted ending counts as terminal punctuation in c4\"")
      .mkString("\n"))
    assert(r.getInt(2) == 2) // '.' and '?'; the quote is not a sentence
  }

  test("document gates: sentences, lorem ipsum, curly brace") {
    val threeSentences = "one full sentence stands right here today.\n" +
      "two full sentences stand right here today.\n" +
      "three full sentences stand right here today."
    assert(signals(threeSentences).getBoolean(5))
    assert(!signals(threeSentences + "\nwith lorem ipsum filler inside.")
      .getBoolean(5))
    assert(!signals(threeSentences + "\nconfig { width: 10 } is code.")
      .getBoolean(5))
    // two sentences only: gated on minSentences
    val two = "one full sentence stands right here today.\n" +
      "two full sentences stand right here today."
    assert(!signals(two).getBoolean(5))
  }

  test("empty and null texts: no lines kept, not admitted") {
    val r = C4Filters.c4Signals(
      Seq((1L, ""), (2L, null: String)).toDF("id", "t"), "id", "t")
      .collect()
    for (row <- r) {
      assert(row.getString(1) == "")
      assert(row.getInt(2) == 0 && !row.getBoolean(5))
    }
  }
}
