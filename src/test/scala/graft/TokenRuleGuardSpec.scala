package graft

import org.scalatest.funsuite.AnyFunSuite

/** graft has one token rule, `TextFunctions.tokens` (a Column form and a
  * typed twin), and every oracle replays it. A site that restates the rule
  * can drift from it, as Java's `text.trim.split("\\s+")` did in q76's
  * chunker (edge tabs and newlines, null text). This spec fails if a line
  * under `src/main` outside `TextFunctions.scala` restates it.
  */
class TokenRuleGuardSpec extends AnyFunSuite {

  private val home = "scala/graft/functions/TextFunctions.scala"

  /** The Scala forms of the rule: Spark's `split(trim(...))` and Java's
    * `.trim.split(...)`.
    */
  private val restated = Seq("split(trim(", ".trim.split(")

  /** q168 runs the q157 cube through the SQL-text surface, so its SQL
    * string spells the rule out on purpose.
    */
  private val allowed = Set(
    ("scala/graft/queries/AnalyticsQueries.scala",
      """|  CAST(sum(size(split(trim(text), '\\s+'))) AS BIGINT)"""))

  test("no source under src/main restates the token rule outside TextFunctions") {
    val lines = SourceLines.codeLines("src/main")
    val hits = lines.filter(l => l.path != home &&
      restated.exists(l.text.contains) && !allowed((l.path, l.text.trim)))
    assert(hits.isEmpty,
      "tokenize with graft.functions.TextFunctions.tokens (Column or String " +
        "form) instead of restating the rule:\n" + hits.mkString("\n"))
    assert(allowed.forall { case (p, t) =>
        lines.exists(l => l.path == p && l.text.trim == t) },
      s"an allow-listed line no longer exists; drop it from the list: $allowed")
  }
}
