package graft.operators

import graft.SparkSpec
import graft.plans.PlanWalk
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.apache.spark.sql.functions._

class ClustersSpec extends SparkSpec {
  import spark.implicits._

  private def docs = spark.read
    .parquet("/root/testdata/sf0.001/documents.parquet")

  /** `rep` copies of every doc under disjoint id ranges: replica 1 is
    * verbatim (an exact dup of every doc) and replicas 2..rep-1 append a
    * tag (near-dups with Jaccard < 1), so the CC loop sees real dup
    * clusters that take more than one round to settle.
    */
  private def replicateDocs(rep: Int) = docs
    .select(explode(sequence(lit(0), lit(rep - 1))).as("r"), $"doc_id",
      $"text")
    .select(($"r" * 10000000L + $"doc_id").as("doc_id"),
      when($"r" <= 1, $"text")
        .otherwise(concat($"text", lit(" zz"), $"r")).as("text"))

  private def cc(edges: Seq[(Long, Long)]): Map[Long, Long] =
    Clusters.connectedComponents(edges.toDF("id_a", "id_b"))
      .as[(Long, Long)].collect().toMap

  test("connectedComponents labels a path graph with its min id (pointer jumping beats diameter)") {
    // a 40-node path: plain min-propagation needs 39 rounds; the operator
    // caps at 25 — only pointer jumping (O(log n)) converges here.
    val path = (1L until 40L).map(i => (i, i + 1))
    val got = cc(path)
    assert(got.keySet == (1L to 40L).toSet)
    assert(got.values.toSet == Set(1L))
  }

  test("connectedComponents leaves one pin: the labels its result reads") {
    // the 40-node path runs round 0, live rounds and jump-only rounds
    val edges = (1L until 40L).map(i => (i, i + 1)).toDF("id_a", "id_b")
    var result: DataFrame = null
    val left = pinnedBy { result = Clusters.connectedComponents(edges) }
    val read = result.queryExecution.analyzed.collect {
      case l: org.apache.spark.sql.execution.LogicalRDD => l.rdd.id
    }.toSet
    assert(left.size == 1 && left == read,
      s"pins left: $left; pins the result reads: $read")
    assert(result.as[(Long, Long)].collect().forall(_._2 == 1L))
    Checkpoints.free(result)
    assert((spark.sparkContext.getPersistentRDDs.keySet.toSet & left).isEmpty)
  }

  test("connectedComponents separates components and ignores direction/dup edges") {
    val edges = Seq((5L, 3L), (3L, 5L), (3L, 9L), // comp {3,5,9}
      (20L, 21L), // comp {20,21}
      (7L, 7L)) // self-loop singleton
    val got = cc(edges)
    assert(got == Map(3L -> 3L, 5L -> 3L, 9L -> 3L,
      20L -> 20L, 21L -> 20L, 7L -> 7L))
  }

  test("edgesDeduped=true stays correct even when the promise is broken") {
    // the flag only skips the canonicalization shuffle — duplicate,
    // reversed, and self-loop edges must still yield the exact same
    // clusters (they inflate per-round row counts, never the result)
    val messy = Seq((5L, 3L), (3L, 5L), (3L, 9L), (9L, 3L),
      (20L, 21L), (5L, 3L), (7L, 7L))
    val strict = Clusters.connectedComponents(messy.toDF("id_a", "id_b"))
      .as[(Long, Long)].collect().toMap
    val trusting = Clusters.connectedComponents(messy.toDF("id_a", "id_b"),
        edgesDeduped = true)
      .as[(Long, Long)].collect().toMap
    assert(strict == trusting)
    assert(strict == Map(3L -> 3L, 5L -> 3L, 9L -> 3L,
      20L -> 20L, 21L -> 20L, 7L -> 7L))
  }

  test("connectedComponents survives pruning a same-label bridge mid-run") {
    // Regression for the edge-pruning optimization: edge (8,5) gets BOTH
    // endpoints labeled 4 in round 1 (neither final — the true min 0 is
    // still two hops away along 0-9-8), so a naive "drop settled edges"
    // pass removes the only conduit into the {4,5,6} triangle and
    // converges to label 4 there. Kept edges must be RELABELED onto the
    // current labels (contraction), which rewrites (9,8) -> (0,4) and
    // keeps the quotient graph connected.
    val edges = Seq((0L, 9L), (9L, 8L), (8L, 5L),
      (5L, 4L), (6L, 4L), (5L, 6L))
    val got = cc(edges)
    assert(got == Map(0L -> 0L, 9L -> 0L, 8L -> 0L,
      5L -> 0L, 6L -> 0L, 4L -> 0L))
  }

  test("CC loop rounds: each round's executed plan passes the scale gate at its exchange budget") {
    // connectedComponents checkpoints every round, so the q80/q85/q144
    // gates in PlanGateSpec see only the final checkpoint scan. Replay
    // one round of each kind here, every input checkpointed as the loop
    // does, so each step's shuffle count is its own per-round cost.
    val pinned = scala.collection.mutable.ArrayBuffer.empty[DataFrame]
    def pin(df: DataFrame): DataFrame = { pinned += df.localCheckpoint(); pinned.last }
    /** Gate one step's executed plan; the exchange count is the measured
      * one at local[4], so one more (or one fewer) fails.
      */
    def gated(op: String, df: DataFrame, exchanges: Int): DataFrame = {
      df.count()
      val plan = df.queryExecution.executedPlan
      PlanWalk.assertShapes(op, plan, allowBroadcastNlj = false)
      assert(PlanWalk.shuffleExchangeCount(plan) == exchanges,
        s"$op: ${PlanWalk.shuffleExchangeCount(plan)} shuffle exchanges, " +
          s"pinned $exchanges:\n$plan")
      pin(df)
    }
    try {
      val e = pin(Dedup.minhashCandidatesFast(replicateDocs(4), "doc_id",
          "text", 3, 16, 8)
        .select($"id_a".cast("long").as("s"), $"id_b".cast("long").as("d")))
      val labels0 = pin(e.select($"s".as("id")).union(e.select($"d".as("id")))
        .distinct().withColumn("label", $"id"))
      // neighbor-min aggregate + the labels side of its join
      val r0 = gated("cc_round0", Clusters.neighborMinRound(labels0, e), 2)
      // two shuffle_hash joins, both sides exchanged: |V| never broadcasts
      val live = gated("cc_relabel", Clusters.relabelLive(e, r0), 4)
      assert(live.count() > 0, "round 0 settled every edge: no later round to gate")
      // min-label aggregate + its join + the pointer-jump self-join
      val r1 = gated("cc_round1", Clusters.liveRound(r0, live), 4)
      gated("cc_contract", Clusters.contractLive(live), 1)
      gated("cc_pointer_jump", Clusters.pointerJump(r1), 2)
    } finally pinned.foreach(Checkpoints.free)
  }

  test("dedupByClusters keeps the min-id row per component and all unpaired rows") {
    val df = (1L to 10L).map(i => (i, s"doc$i")).toDF("id", "payload")
    val pairs = Seq((2L, 4L), (4L, 6L), (8L, 9L)).toDF("id_a", "id_b")
    val kept = Clusters.dedupByClusters(df, "id", pairs)
      .select($"id", $"dup_count").as[(Long, Long)].collect().toMap
    // {2,4,6} -> keep 2 (size 3); {8,9} -> keep 8 (size 2); rest singletons
    assert(kept == Map(1L -> 1L, 2L -> 3L, 3L -> 1L, 5L -> 1L,
      7L -> 1L, 8L -> 2L, 10L -> 1L))
  }

  test("decontaminate drops exactly the overlapping docs; report ratios are exact") {
    val bench = Seq((100L, "alpha beta gamma delta")).toDF("doc_id", "text")
    val train = Seq(
      (1L, "alpha beta gamma nine"), // shares 'alpha beta gamma'
      (2L, "nine eight seven six"), // clean
      (3L, "x y alpha beta gamma delta z")) // shares 2 shingles
      .toDF("doc_id", "text")
    val rep = Decontam.contaminationReport(train, bench, "doc_id", "text", 3)
      .select($"doc_id", $"n_shared", $"n_shingles")
      .as[(Long, Long, Long)].collect()
      .map { case (id, sh, sz) => id -> ((sh, sz)) }.toMap
    assert(rep == Map(1L -> ((1L, 2L)), 3L -> ((2L, 5L))))
    val clean = Decontam.decontaminate(train, bench, "doc_id", "text", 3)
      .select($"doc_id").as[Long].collect().toSet
    assert(clean == Set(2L))
  }

  test("decontamination overlap join broadcasts the benchmark side (corpus never shuffles)") {
    val bench = docs.filter($"doc_id" % 20 === 0)
    val train = docs.filter($"doc_id" % 20 =!= 0)
    val rep = Decontam.contaminationReport(train, bench, "doc_id", "text", 3)
    rep.collect()
    val plan = rep.queryExecution.executedPlan match {
      case a: AdaptiveSparkPlanExec => a.executedPlan
      case p => p
    }
    val nodes = PlanWalk.walk(plan)
    assert(nodes.exists(_.isInstanceOf[
      org.apache.spark.sql.execution.joins.BroadcastHashJoinExec]),
      s"no broadcast join in decontamination plan:\n$plan")
    // the shingle-overlap probe must not sort-merge the corpus side
    val smjOnShingle = nodes.collect {
      case j: org.apache.spark.sql.execution.joins.SortMergeJoinExec
          if j.leftKeys.exists(_.references.exists(_.name == "shingle")) => j
    }
    assert(smjOnShingle.isEmpty,
      s"corpus side shuffled for the overlap probe:\n$plan")
  }

  test("contaminationReportShuffle matches the broadcast form and hash-joins without broadcast") {
    val bench = docs.filter($"doc_id" % 2 === 0)
    val train = docs.filter($"doc_id" % 2 =!= 0)
    val rep = Decontam.contaminationReportShuffle(
      train, bench, "doc_id", "text", 3)
    val got = rep.select($"doc_id", $"n_shared", $"n_shingles")
      .as[(Long, Long, Long)].collect().toSet
    val want = Decontam.contaminationReport(train, bench, "doc_id", "text", 3)
      .select($"doc_id", $"n_shared", $"n_shingles")
      .as[(Long, Long, Long)].collect().toSet
    assert(got == want, "shuffle path diverged from the broadcast form")
    val plan = rep.queryExecution.executedPlan match {
      case a: AdaptiveSparkPlanExec => a.executedPlan
      case p => p
    }
    val nodes = PlanWalk.walk(plan)
    assert(nodes.exists(_.isInstanceOf[
      org.apache.spark.sql.execution.joins.ShuffledHashJoinExec]),
      s"overlap probe is not a shuffled hash join:\n$plan")
    assert(!nodes.exists(_.isInstanceOf[
      org.apache.spark.sql.execution.joins.BroadcastHashJoinExec]),
      s"reference corpus was broadcast — the shape this path exists to avoid:\n$plan")
    assert(!nodes.exists(_.isInstanceOf[
      org.apache.spark.sql.execution.joins.SortMergeJoinExec]),
      s"overlap probe sort-merged (no order is needed):\n$plan")
  }

  test("connectedComponents converges on LSH-style clustered pairs from the corpus") {
    val pairs = Dedup.jaccardPairs(docs, "doc_id", "text", n = 3,
        blockCol = Some("lang"), maxShingleFreq = 50)
      .filter($"jaccard" >= 0.3).select("id_a", "id_b")
    val comp = Clusters.connectedComponents(pairs)
      .as[(Long, Long)].collect()
    val byCluster = comp.groupBy(_._2)
    // cluster label is the member min
    byCluster.foreach { case (label, members) =>
      assert(members.map(_._1).min == label)
    }
    // every paired id got a label
    val ids = pairs.as[(Long, Long)].collect()
      .flatMap(p => Seq(p._1, p._2)).toSet
    assert(comp.map(_._1).toSet == ids)
  }
}
