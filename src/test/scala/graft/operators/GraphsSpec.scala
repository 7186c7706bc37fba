package graft.operators

import graft.SparkSpec
import graft.plans.PlanWalk
import org.apache.spark.sql.functions._

class GraphsSpec extends SparkSpec {
  import spark.implicits._

  /** Single-node integer PageRank (plain collections) — the semantics
    * oracle for Graphs.pageRank.
    */
  private def referenceRank(edges: Seq[(Long, Long)], iters: Int,
      scale: Long = 1000000000000L, dampPct: Int = 85): Map[Long, Long] = {
    val e = edges.distinct
    val nodes = (e.map(_._1) ++ e.map(_._2)).distinct
    val outdeg = e.groupBy(_._1).map { case (s, xs) => s -> xs.size.toLong }
    val n = nodes.size.toLong
    val base = (scale * (100 - dampPct) / 100) / n
    var rank = nodes.map(_ -> scale / n).toMap
    (1 to iters).foreach { _ =>
      val sums = e.groupBy(_._2).map { case (d, in) =>
        d -> in.map { case (s, _) => rank(s) / outdeg(s) }.sum
      }
      rank = nodes.map(v => v -> (base + dampPct * sums.getOrElse(v, 0L) / 100)).toMap
    }
    rank
  }

  test("pageRank matches the single-node reference on a hand graph") {
    // a hub (1) pointed at by everyone, a chain, a dangling node (5)
    val edges = Seq((2L, 1L), (3L, 1L), (4L, 1L), (1L, 2L), (2L, 3L), (3L, 5L))
    val got = Graphs.pageRank(edges.toDF("src", "dst"), iters = 3)
      .as[(Long, Long)].collect().toMap
    val want = referenceRank(edges, iters = 3)
    assert(got == want)
    // the hub outranks the chain tail
    assert(got(1L) > got(4L))
  }

  test("pageRank on the sf0.001 trade graph matches the reference; ranks ordered by in-mass") {
    val ol = graft.Tables.orders(spark, "/root/testdata/sf0.001")
      .join(graft.Tables.lineitem(spark, "/root/testdata/sf0.001"),
        $"l_orderkey" === $"o_orderkey")
      .select(($"o_custkey" * 2).as("c"), ($"l_suppkey" * 2 + 1).as("s"))
      .distinct()
    val pairs = ol.as[(Long, Long)].collect().toSeq
    val edges = pairs ++ pairs.map(_.swap)
    val got = Graphs.pageRank(edges.toDF("src", "dst"), iters = 2)
      .as[(Long, Long)].collect().toMap
    val want = referenceRank(edges, iters = 2)
    assert(got == want)
  }

  test("duplicate edges count once; ranks are scale-deterministic") {
    val dup = Seq((1L, 2L), (1L, 2L), (2L, 1L))
    val once = Seq((1L, 2L), (2L, 1L))
    val a = Graphs.pageRank(dup.toDF("src", "dst"), iters = 2)
      .as[(Long, Long)].collect().toMap
    val b = Graphs.pageRank(once.toDF("src", "dst"), iters = 2)
      .as[(Long, Long)].collect().toMap
    assert(a == b)
  }

  test("iteration round plan shape: hash joins + keyed agg, no cartesian/BNLJ") {
    val edges = (1L to 200L).map(i => (i, (i * 7) % 200 + 1)).toDF("src", "dst")
    PlanWalk.assertShapes("pagerank_final",
      PlanWalk.finalPlan(Graphs.pageRank(edges, iters = 2)), allowBroadcastNlj = false)
  }

  /** Single-node integer HITS with max-normalization — the semantics
    * oracle for Graphs.hits.
    */
  private def referenceHits(edges: Seq[(Long, Long)], iters: Int,
      scale: Long = 1000000L): Map[Long, (Long, Long)] = {
    val e = edges.distinct
    val nodes = (e.map(_._1) ++ e.map(_._2)).distinct
    var hub = nodes.map(_ -> scale).toMap
    var auth = nodes.map(_ -> 0L).toMap
    (1 to iters).foreach { _ =>
      val araw = e.groupBy(_._2).map { case (d, in) =>
        d -> in.map { case (s, _) => hub(s) }.sum
      }
      val am = araw.values.max
      auth = nodes.map(v =>
        v -> araw.get(v).map(r => r * scale / am).getOrElse(0L)).toMap
      val hraw = e.groupBy(_._1).map { case (s, out) =>
        s -> out.map { case (_, d) => auth(d) }.sum
      }
      val hm = hraw.values.max
      hub = nodes.map(v =>
        v -> hraw.get(v).map(r => r * scale / hm).getOrElse(0L)).toMap
    }
    nodes.map(v => v -> (hub(v), auth(v))).toMap
  }

  test("hits matches the single-node reference; hub/auth split a directed graph") {
    // 1,2 point at 3,4; 3 additionally points at 4 -> 4 is top authority,
    // and only sources have hub mass
    val edges = Seq((1L, 3L), (1L, 4L), (2L, 3L), (2L, 4L), (3L, 4L))
    val got = Graphs.hits(edges.toDF("src", "dst"), iters = 3)
      .as[(Long, Long, Long)].collect().map(r => r._1 -> (r._2, r._3)).toMap
    assert(got == referenceHits(edges, iters = 3))
    assert(got(4L)._2 == 1000000L, "top authority normalizes to scale")
    assert(got(4L)._1 == 0L, "sink node has no hub mass")
    assert(got(1L)._2 == 0L, "pure source has no authority")
  }

  test("hits on the sf0.001 directed trade graph matches the reference") {
    val ol = graft.Tables.orders(spark, "/root/testdata/sf0.001")
      .join(graft.Tables.lineitem(spark, "/root/testdata/sf0.001"),
        $"l_orderkey" === $"o_orderkey")
      .select(($"o_custkey" * 2).as("src"), ($"l_suppkey" * 2 + 1).as("dst"))
      .distinct()
    val edges = ol.as[(Long, Long)].collect().toSeq
    val got = Graphs.hits(ol.toDF("src", "dst"), iters = 2)
      .as[(Long, Long, Long)].collect().map(r => r._1 -> (r._2, r._3)).toMap
    assert(got == referenceHits(edges, iters = 2))
  }

  test("hits half-step plan shape: hash joins + keyed aggs, no cartesian") {
    // the production path checkpoints its output (so intermediates can
    // be freed), which makes the FINAL plan a checkpoint scan — the
    // interior shapes must be gated on a half-step directly (the
    // Clusters cc-round pattern), its inputs pinned as hits pins them
    val edges = Checkpoints.pin((1L to 200L).map(i => (i, (i * 7) % 200 + 1))
      .toDF("src", "dst"))
    val nodes = Checkpoints.pin(edges.select($"src".as("id"))
      .union(edges.select($"dst".as("id"))).distinct())
    val scores = nodes.withColumn("h", lit(1000000L))
    val (raw, out) = Graphs.hitsHalfStep(edges, nodes, scores, "h",
      "src", "dst", "a", 1000000L)
    try {
      val plan = PlanWalk.finalPlan(out)
      // the only BNLJ is the designed 1-row max-normalizer broadcast
      PlanWalk.assertShapes("hits_half_step", plan, allowBroadcastNlj = true)
      val nlj = PlanWalk.walk(plan).count(_.isInstanceOf[
        org.apache.spark.sql.execution.joins.BroadcastNestedLoopJoinExec])
      assert(nlj <= 1, s"more than the 1-row max broadcast: $nlj BNLJs")
    } finally Seq(raw, nodes, edges).foreach(Checkpoints.free)
  }

  test("cooccurrenceEdges: symmetric, self-loop free, per-key cap binds") {
    val df = Seq(
      ("a", 1L), ("a", 2L), ("a", 3L), ("a", 1L), // dup (a,1) collapses
      ("b", 2L), ("b", 4L),
      ("c", 9L) // singleton key -> no edges
    ).toDF("k", "node")
    val edges = Graphs.cooccurrenceEdges(df, "k", "node")
      .as[(Long, Long)].collect().toSet
    val expect = Set((1L, 2L), (2L, 1L), (1L, 3L), (3L, 1L), (2L, 3L),
      (3L, 2L), (2L, 4L), (4L, 2L))
    assert(edges == expect)
    // maxPerKey=2 keeps the two LOWEST nodes per key: node 3 drops off "a"
    val cappedE = Graphs.cooccurrenceEdges(df, "k", "node", maxPerKey = 2)
      .as[(Long, Long)].collect().toSet
    assert(cappedE == Set((1L, 2L), (2L, 1L), (2L, 4L), (4L, 2L)))
  }

  test("hits leaves no orphaned cache: free(result) returns to baseline") {
    val sc = spark.sparkContext
    val before = sc.getPersistentRDDs.size
    val edges = (1L to 300L).map(i => (i, (i * 13) % 300 + 1)).toDF("src", "dst")
    val result = Graphs.hits(edges, iters = 2)
    result.count()
    // every checkpoint hits() made is either reachable from the result
    // plan (freed here) or was released inside (superseded pins, `e`) —
    // nothing should stay pinned past this pair of frees
    Checkpoints.free(result)
    // <=, not ==: the shared session's ContextCleaner may concurrently
    // release OTHER suites' RDDs between the two reads
    assert(sc.getPersistentRDDs.size <= before,
      s"cached RDDs leaked: ${sc.getPersistentRDDs.size - before}")
  }

  test("pageRank frees each superseded rank checkpoint: free(result) leaves none") {
    val edges = (1L to 300L).map(i => (i, (i * 7) % 300 + 1)).toDF("src", "dst")
    // checkpoints at rounds 2 and 5: round 5's supersedes round 2's, and
    // the edge, node and round-5 tables are the ones the result reads
    val leaked = pinnedBy {
      val result = Graphs.pageRank(edges, iters = 7, checkpointEvery = 3)
      result.count()
      Checkpoints.free(result)
    }
    assert(leaked.isEmpty, s"RDDs still pinned: $leaked")
  }
}
