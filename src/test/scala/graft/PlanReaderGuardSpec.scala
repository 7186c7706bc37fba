package graft

import org.scalatest.funsuite.AnyFunSuite

/** graft reads a frame's plan in one place, `PlanWalk.finalPlan`, which
  * runs the frame's own plan and returns AQE's final plan. The readers it
  * replaced checked plans that never ran: `df.count()` then
  * `executedPlan` (the count runs a separate plan, so `df`'s adaptive
  * plan stays unfinalized), a hand-unwrapped `AdaptiveSparkPlanExec`, or
  * a string split at the initial-plan header. This spec fails if a line
  * under `src/test` (outside this spec) or under `src/main` (outside
  * `PlanWalk.scala`) reads a plan another way.
  */
class PlanReaderGuardSpec extends AnyFunSuite {

  private val readers = Seq("executedPlan", "AdaptiveSparkPlanExec", "Initial Plan")

  private val homes = Map(
    "src/test" -> "scala/graft/PlanReaderGuardSpec.scala",
    "src/main" -> "scala/graft/plans/PlanWalk.scala")

  test("no source reads a plan outside PlanWalk.finalPlan") {
    val hits = homes.toSeq.flatMap { case (root, home) =>
      SourceLines.codeLines(root).filter(l =>
        l.path != home && readers.exists(l.text.contains)).map(l => s"$root/$l")
    }
    assert(hits.isEmpty,
      "read a frame's plan with graft.plans.PlanWalk.finalPlan (it runs the " +
        "frame's own plan and returns AQE's final plan):\n" + hits.mkString("\n"))
  }
}
