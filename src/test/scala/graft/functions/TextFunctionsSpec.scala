package graft.functions

import graft.SparkSpec

class TextFunctionsSpec extends SparkSpec {
  import spark.implicits._

  test("Column and typed tokens agree on edge whitespace, null and non-BMP text") {
    val got = TextFunctionsSpec.edgeRows.toDF("id", "text")
      .select($"id", $"text", TextFunctions.tokens($"text"))
      .as[(Long, String, Seq[String])].collect()
    assert(got.length == TextFunctionsSpec.edgeRows.length)
    got.foreach { case (id, text, column) =>
      val typed = TextFunctions.tokens(text).toSeq
      // null text: the Column form gives a null array, the typed form no
      // tokens; either way explode and the typed kernels emit nothing
      if (text == null) assert(column == null && typed.isEmpty, s"id=$id")
      else assert(column == typed, s"id=$id text=${text.map(_.toInt)}")
    }
  }
}

object TextFunctionsSpec {

  /** Text where the SQL rule (space-only trim, empty fields kept) and
    * Java's `trim`/`split` disagree or crash, plus RepetitionSpec's edge
    * rows.
    */
  val edgeRows: Seq[(Long, String)] = {
    val emoji = "\uD83D\uDE00"
    Seq(
      (1L, "\tz"),
      (2L, "a b\n"),
      (3L, "a\tb c"),
      (4L, "   "),
      (5L, ""),
      (6L, null),
      (7L, " \t \t "),
      (8L, "\tfoo bar foo\tbar"),
      (9L, "one"),
      (10L, "only two"),
      (11L, "b a b a c c"),
      (12L, s"$emoji \uFF01 $emoji \uFF01 x $emoji \uFF01"),
      (13L, emoji * 15 + " a b c a b c"))
  }
}
