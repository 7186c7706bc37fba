package graft.queries

import graft.{SparkEntry, SparkSpec}
import graft.plans.PlanWalk

/** Physical-plan assertions: the scale-relevant plan properties the
  * Scaladoc promises (pushdown, broadcast, partial aggregation,
  * whole-stage codegen) hold in the executed plans — not just in intent.
  */
class PlanSpec extends SparkSpec {
  private val dir = "/root/testdata/sf0.001"

  /** The query's final plan as text (codegen spans appear once it ran). */
  private def plan(name: String): String =
    PlanWalk.finalPlan(SparkEntry.queries(name)(spark, dir)).toString()

  test("q02: filters and projection reach the parquet scan") {
    val p = plan("q02_filter_pushdown")
    assert(p.contains("PushedFilters:") &&
      (p.contains("GreaterThanOrEqual(l_quantity") || p.contains("l_quantity")),
      s"no pushed filters in:\n$p")
    assert(p.contains("ReadSchema") && !p.contains("l_extendedprice"),
      "projection not pruned — scan reads unused columns")
  }

  test("q03: dimension join broadcasts (no shuffle for customer side)") {
    val p = plan("q03_join_agg")
    assert(p.contains("BroadcastHashJoin"), s"expected broadcast join in:\n$p")
  }

  test("q04: star dims broadcast end-to-end") {
    val p = plan("q04_broadcast_dims")
    assert(p.contains("BroadcastHashJoin"))
    assert(!p.contains("SortMergeJoin"), "dim chain fell back to SMJ")
  }

  test("q01: partial (map-side) aggregation before the exchange") {
    val p = plan("q01_pricing_summary")
    assert(p.contains("HashAggregate"), s"no hash aggregation in:\n$p")
    // partial + final pair means the shuffle carries group partials only
    assert("HashAggregate".r.findAllIn(p).size >= 2, "no two-phase aggregation")
    assert(p.contains("*(1)"), "aggregate chain not codegen'd (no *(n) stage markers)")
  }

  test("q12: windowed aggregation keeps two-phase shape") {
    val p = plan("q12_window_tumble")
    assert("HashAggregate".r.findAllIn(p).size >= 2)
  }

  test("q26: ANN scoring uses the codegen dot product, not HOF fold") {
    val p = plan("q26_ann_topk")
    assert(p.contains("graft_dot"), s"native dot product missing in:\n$p")
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastHashJoin"),
      "query side not broadcast")
  }

  test("q47: as-of join is one window pass, not a range self-join") {
    val p = plan("q47_asof_join")
    assert(p.contains("RunningWindowFunction") || p.contains("Window"),
      s"expected running-window plan in:\n$p")
    assert(!p.contains("SortMergeJoin") && !p.contains("BroadcastHashJoin") &&
      !p.contains("CartesianProduct"),
      "as-of join planned as a join — range-probe explosion at scale")
  }

  test("q24: LSH pipeline never plans a cartesian product") {
    val p = plan("q24_minhash_lsh")
    assert(!p.contains("CartesianProduct"),
      s"cartesian product in the LSH pipeline:\n$p")
  }

  test("q44: fast minhash pipeline never plans a cartesian product") {
    val p = plan("q44_minhash_fast")
    assert(!p.contains("CartesianProduct"),
      s"cartesian product in the fast LSH pipeline:\n$p")
  }

  test("q23: stop-shingle pruning never shuffle-joins the shingle table") {
    // the prune must be a broadcast anti join against the (tiny) stop set;
    // at sf0.001 the stop set is empty and AQE's empty-relation propagation
    // elides the join entirely — both shapes are shuffle-free, which is
    // what matters at scale
    val p = plan("q23_ngram_jaccard")
    assert(!p.contains("SortMergeJoin") && !p.contains("ShuffledHashJoin"),
      s"stop-shingle prune shuffle-joined the shingle table:\n$p")
    p.linesIterator.filter(_.contains("LeftAnti")).foreach { l =>
      assert(l.contains("BroadcastHashJoin"),
        s"anti join not broadcast: $l")
    }
  }

  test("q58: deep join mixes broadcast dims with shuffled fact joins") {
    val p = plan("q58_deep_join")
    assert(p.contains("BroadcastHashJoin"), "dim chain not broadcast")
    assert(p.contains("PushedFilters"), "scan filters not pushed")
    // the orderdate range must reach the orders scan, not sit post-join
    assert(p.contains("IsNotNull(o_orderdate)") || p.contains("o_orderdate),"),
      s"date filter not pushed to the orders scan:\n$p")
  }

  test("q01: global sort plans a range-partitioned exchange") {
    val p = plan("q01_pricing_summary")
    assert(p.contains("rangepartitioning"),
      s"orderBy did not produce a range exchange:\n$p")
  }

  test("q60: IVF centroid pick is a distributed top-k, no partitionless window") {
    // A row_number window without partitionBy funnels the whole corpus
    // through ONE task — the centroid pick must plan as
    // TakeOrderedAndProject (per-partition heaps) instead. AQE off so the
    // plan is a plain tree to traverse.
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      val df = SparkEntry.queries("q60_ivf_ann")(spark, dir)
      val nodes = PlanWalk.walk(PlanWalk.finalPlan(df))
      val windows = nodes.collect {
        case w: org.apache.spark.sql.execution.window.WindowExec => w
      }
      assert(windows.nonEmpty, "expected ranking windows in the IVF plan")
      assert(windows.forall(_.partitionSpec.nonEmpty),
        s"partitionless WindowExec (single-partition global stage) in:\n$df")
      assert(nodes.exists(
        _.isInstanceOf[org.apache.spark.sql.execution.TakeOrderedAndProjectExec]),
        "centroid pick did not plan TakeOrderedAndProject")
    } finally spark.conf.set("spark.sql.adaptive.enabled", "true")
  }

  test("q95: random projection is map-only (no exchange anywhere)") {
    val p = plan("q95_random_projection")
    assert(!p.contains("Exchange"),
      s"embedding compression must not shuffle:\n$p")
  }

  test("q52: CEP shuffles once on the key (single grouping exchange)") {
    val p = plan("q52_order_timeout_cep")
    val exchanges = "Exchange hashpartitioning".r.findAllIn(p).size
    assert(exchanges == 1,
      s"expected exactly one keyed exchange for the NFA, got $exchanges:\n$p")
  }
}
