package graft

import org.scalatest.funsuite.AnyFunSuite

/** graft materializes a frame in one place, `Checkpoints.pin`, so the
  * materialization policy (today an eager local checkpoint) is a change to
  * one function. This spec fails if a line under `src/main` outside
  * `Checkpoints.scala` calls Spark's checkpoint itself.
  */
class MaterializeGuardSpec extends AnyFunSuite {

  private val home = "scala/graft/operators/Checkpoints.scala"

  private val direct = Seq("localCheckpoint(", ".checkpoint(")

  test("no source under src/main materializes a frame outside Checkpoints") {
    val hits = SourceLines.codeLines("src/main").filter(l =>
      l.path != home && direct.exists(l.text.contains))
    assert(hits.isEmpty,
      "materialize with graft.operators.Checkpoints.pin (or advance in a " +
        "loop) instead of a direct checkpoint call:\n" + hits.mkString("\n"))
  }
}
