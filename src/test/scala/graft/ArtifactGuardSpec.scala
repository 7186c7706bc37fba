package graft

import java.io.File

import scala.io.Source

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
  private val main = new File("src/main")

  /** A member call of an artifact API (`session.addArtifact(...)`,
    * `sc.addJar(...)`, ...), or the SQL command that adds one.
    */
  private val artifactCall =
    """\.\s*(addArtifacts?|addJar|addFile|addArchive|addClassDir)\b|\bADD\s+(JARS?|FILES?|ARCHIVES?)\b""".r

  private def sources(f: File): Seq[File] =
    if (f.isDirectory) Option(f.listFiles()).toSeq.flatten.sortBy(_.getName).flatMap(sources)
    else if (f.getName.endsWith(".scala") || f.getName.endsWith(".java")) Seq(f)
    else Nil

  /** Comment lines (Scaladoc, block and line comments) may name the APIs. */
  private def isComment(line: String): Boolean = {
    val t = line.trim
    t.startsWith("*") || t.startsWith("//") || t.startsWith("/*")
  }

  test("no source under src/main adds a Spark artifact") {
    val files = sources(main)
    assert(files.nonEmpty, s"no sources found under ${main.getCanonicalPath}")
    val hits = for {
      f <- files
      src = Source.fromFile(f, "UTF-8")
      (line, i) <- try src.getLines().toVector.zipWithIndex finally src.close()
      if !isComment(line) && artifactCall.findFirstIn(line).isDefined
    } yield s"${main.toPath.relativize(f.toPath)}:${i + 1}: ${line.trim}"
    assert(hits.isEmpty,
      "graft sessions run with spark.sql.artifact.isolation.enabled=false, so an " +
        "artifact one session adds is visible to every session. Read the " +
        "\"Artifact isolation\" paragraph of GraftSession.tune's Scaladoc " +
        "(src/main/scala/graft/GraftSession.scala) before adding one:\n" +
        hits.mkString("\n"))
  }
}
