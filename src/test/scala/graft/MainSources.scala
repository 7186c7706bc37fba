package graft

import java.io.File

import scala.io.Source

/** The non-comment lines of every Scala/Java source under `src/main`, for
  * the specs that guard a rule over the whole codebase.
  */
object MainSources {
  val root = new File("src/main")

  /** One source line: path relative to `src/main`, 1-based line number. */
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

  /** Non-comment lines; fails if there are no sources to read. */
  def codeLines(): Seq[Line] = {
    val files = sources(root)
    assert(files.nonEmpty, s"no sources found under ${root.getCanonicalPath}")
    for {
      f <- files
      src = Source.fromFile(f, "UTF-8")
      (text, i) <- try src.getLines().toVector.zipWithIndex finally src.close()
      if !isComment(text)
    } yield Line(root.toPath.relativize(f.toPath).toString, i + 1, text)
  }
}
