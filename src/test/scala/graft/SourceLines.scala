package graft

import java.io.File

import scala.io.Source

/** The non-comment lines of every Scala/Java source under a source root
  * (`src/main` or `src/test`), for the specs that guard a rule over the
  * whole codebase.
  */
object SourceLines {

  /** One source line: path relative to its root, 1-based line number. */
  final case class Line(path: String, number: Int, text: String) {
    override def toString: String = s"$path:$number: ${text.trim}"
  }

  private def sources(f: File): Seq[File] =
    if (f.isDirectory) Option(f.listFiles()).toSeq.flatten.sortBy(_.getName).flatMap(sources)
    else if (f.getName.endsWith(".scala") || f.getName.endsWith(".java")) Seq(f)
    else Nil

  /** Comment lines (Scaladoc, block and line comments). */
  private def isComment(line: String): Boolean = {
    val t = line.trim
    t.startsWith("*") || t.startsWith("//") || t.startsWith("/*")
  }

  /** Non-comment lines under `root`; fails if there are no sources to read. */
  def codeLines(root: String): Seq[Line] = {
    val dir = new File(root)
    val files = sources(dir)
    assert(files.nonEmpty, s"no sources found under ${dir.getCanonicalPath}")
    for {
      f <- files
      src = Source.fromFile(f, "UTF-8")
      (text, i) <- try src.getLines().toVector.zipWithIndex finally src.close()
      if !isComment(text)
    } yield Line(dir.toPath.relativize(f.toPath).toString, i + 1, text)
  }
}
