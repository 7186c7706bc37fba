package graft

import org.scalatest.funsuite.AnyFunSuite

/** tune() turns Spark's per-session artifact isolation off
  * (`spark.sql.artifact.isolation.enabled=false`), so every graft session
  * shares the executor's one class loader and its compiled code. That is
  * free only while graft adds no artifacts: with isolation off, a jar,
  * file, archive or class directory one session added would be visible to
  * every session. This spec fails if any source under `src/main` calls a
  * Spark artifact API or runs an `ADD JAR`/`FILE`/`ARCHIVE` command.
  */
class ArtifactGuardSpec extends AnyFunSuite {
  /** A member call of an artifact API (`session.addArtifact(...)`,
    * `sc.addJar(...)`, ...), or the SQL command that adds one. Comment
    * lines may name the APIs.
    */
  private val artifactCall =
    """\.\s*(addArtifacts?|addJar|addFile|addArchive|addClassDir)\b|\bADD\s+(JARS?|FILES?|ARCHIVES?)\b""".r

  test("no source under src/main adds a Spark artifact") {
    val hits = SourceLines.codeLines("src/main")
      .filter(l => artifactCall.findFirstIn(l.text).isDefined)
    assert(hits.isEmpty,
      "graft sessions run with spark.sql.artifact.isolation.enabled=false, so an " +
        "artifact one session adds is visible to every session. Read the " +
        "\"Artifact isolation\" paragraph of GraftSession.tune's Scaladoc " +
        "(src/main/scala/graft/GraftSession.scala) before adding one:\n" +
        hits.mkString("\n"))
  }
}
