package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Link-graph operators for corpus curation. Web-scale training
  * pipelines propagate quality/importance over the host link graph
  * (domain-level PageRank is a stock crawl-prioritization and
  * quality-weighting signal); this is that operator, distributed and
  * engine-reproducible.
  *
  * Arithmetic is exact-integer ("micro-unit" discipline, cf.
  * [[Quality]]'s logprob units): ranks live on a fixed integer scale,
  * per-edge contributions use floor division, and the damping step is
  * `(d_pct * sum) div 100` — no float anywhere, so any engine replays
  * bit-identically and summation order can't matter.
  *
  * Scale shape: each iteration is one hash join of the rank table with
  * the edge list plus one aggregation keyed by destination — the same
  * contracted-loop discipline as [[Clusters]] (driver loop, bounded
  * rounds, lineage cut per round, nothing corpus-sized ever collected;
  * the only driver scalar is the node count). Dangling-node mass is
  * dropped (the standard simplification), so ranks are comparable
  * within a run, not a strict probability distribution.
  */
object Graphs {

  /** PageRank over a directed edge list (`src`, `dst`), `iters` fixed
    * iterations: returns (id, rank) for every node, rank on the
    * `scale` integer scale. Duplicate edges count once (deduped here
    * unless the caller passes `edgesDistinct = true` — the
    * [[Clusters.connectedComponents]] `edgesDeduped` contract: purely an
    * optimization skipping one full-|E| dedup shuffle when the edge
    * build already ends in a distinct, as the co-occurrence and
    * trade-graph builders do; a caller passing true with messy edges
    * gets double-counted contributions, so only assert it when the
    * producer guarantees it).
    *
    * The rank and node tables are |V|-sized and are NEVER broadcast
    * (shuffle_hash hints — the [[Clusters]] rule: checkpoint statistics
    * make small-SF Spark pick a broadcast plan that is a category error
    * at graph scale). Out-degree is denormalized onto the edge artifact
    * once, so each iteration is exactly one rank-edge join plus one
    * destination-keyed aggregate; lineage is cut every
    * `checkpointEvery` rounds (bounded chains don't pay a
    * materialization per round, long loops can't grow unbounded DAGs).
    */
  def pageRank(edges: DataFrame, iters: Int,
      scale: Long = 1000000000000L, dampPct: Int = 85,
      checkpointEvery: Int = 3, edgesDistinct: Boolean = false): DataFrame = {
    require(iters >= 1, s"iters must be >= 1: $iters")
    require(dampPct > 0 && dampPct < 100, s"dampPct in (0,100): $dampPct")
    require(checkpointEvery >= 1, s"checkpointEvery must be >= 1: $checkpointEvery")
    val e0 = edges.select(col("src").cast("long"), col("dst").cast("long"))
    val e = if (edgesDistinct) e0 else e0.distinct()
    // one edge artifact with out-degree attached (the posting-norm trick)
    val ew = Checkpoints.pin(e.join(e.groupBy(col("src"))
      .agg(count(lit(1)).as("outdeg")).hint("shuffle_hash"), Seq("src")))
    val nodes = Checkpoints.pin(ew.select(col("src").as("id"))
      .union(ew.select(col("dst").as("id"))).distinct())
    val n = nodes.count() // the one driver scalar (planning metadata)
    require(n > 0, "empty graph")
    val baseTerm = (scale * (100 - dampPct) / 100) / n
    var rank = nodes.withColumn("rank", lit(scale / n))
    var lastCp: DataFrame = null
    var i = 0
    while (i < iters) {
      val contribs = rank.withColumnRenamed("id", "src")
        .join(ew.hint("shuffle_hash"), Seq("src"))
        .select(col("dst").as("id"), expr("rank div outdeg").as("c"))
        .groupBy(col("id")).agg(sum(col("c")).as("s"))
      rank = nodes.join(contribs.hint("shuffle_hash"), Seq("id"), "left")
        .withColumn("rank",
          lit(baseTerm) + expr(s"($dampPct * coalesce(s, 0L)) div 100"))
        .select(col("id"), col("rank"))
      if (i % checkpointEvery == checkpointEvery - 1 && i != iters - 1) {
        rank = Checkpoints.advance(lastCp)(rank)
        lastCp = rank
      }
      i += 1
    }
    rank
  }

  /** HITS hubs/authorities over a directed edge list (`src`, `dst`),
    * `iters` fixed iterations: authority(v) sums the hub scores of v's
    * in-neighbors, then hub(u) sums the NEW authority scores of u's
    * out-neighbors (the classic half-step order). After each half-step,
    * scores renormalize to `scale` by floor-dividing by that step's max
    * — integer max-normalization replaces the float L2 norm, keeping
    * every operation exact (sum, max, floor div on non-negative longs),
    * so any engine replays bit-identically. Returns (id, hub, auth)
    * for every node; no-in-edge nodes have auth 0, no-out-edge nodes
    * hub 0.
    *
    * Same scale discipline as [[pageRank]]: |V|-sized tables are never
    * broadcast (the only broadcast is the one-row max), and each
    * half-step is one rank-edge hash join plus one keyed aggregate.
    * Lineage is cut at EVERY half-step's raw aggregate — the max
    * subquery and the rescale join both consume it, so an uncut chain
    * doubles the plan per half-step (157 exchange nodes were measured
    * for 2 iterations vs ~7 with the cut); the
    * `checkpointEvery` cadence additionally bounds the scores chain on
    * long runs. Overflow bound: `max_degree * scale^2` must fit a
    * long — the default scale 10^6 allows degrees to ~9·10^6.
    */
  def hits(edges: DataFrame, iters: Int, scale: Long = 1000000L,
      checkpointEvery: Int = 3, edgesDistinct: Boolean = false): DataFrame = {
    require(iters >= 1, s"iters must be >= 1: $iters")
    require(scale > 0, s"scale must be positive: $scale")
    require(checkpointEvery >= 1, s"checkpointEvery must be >= 1: $checkpointEvery")
    val e0 = edges.select(col("src").cast("long"), col("dst").cast("long"))
    // edgesDistinct: the pageRank contract — skip the full-|E| dedup
    // shuffle when the edge build already ends in a distinct
    val e = Checkpoints.pin(if (edgesDistinct) e0 else e0.distinct())
    val nodes = Checkpoints.pin(e.select(col("src").as("id"))
      .union(e.select(col("dst").as("id"))).distinct())
    // Each half-step pins one |V|-row frame. The loop is sequential, so a
    // pin older than the newest two is fully consumed and freed on the
    // spot. The last two (and `nodes`) back the result: the caller's to
    // free, the pageRank contract.
    val pinned = scala.collection.mutable.Queue.empty[DataFrame]
    def keepNewestTwo(df: DataFrame): Unit = {
      pinned += df
      while (pinned.size > 2) Checkpoints.free(pinned.dequeue())
    }
    def halfStep(scores: DataFrame, scoreCol: String, joinSide: String,
        aggSide: String, outCol: String): DataFrame = {
      val (raw, out) = hitsHalfStep(e, nodes, scores, scoreCol, joinSide,
        aggSide, outCol, scale)
      keepNewestTwo(raw)
      out
    }
    var hub = nodes.withColumn("h", lit(scale))
    var auth: DataFrame = null
    var i = 0
    while (i < iters) {
      auth = halfStep(hub, "h", "src", "dst", "a")
      hub = halfStep(auth, "a", "dst", "src", "h")
      if (i % checkpointEvery == checkpointEvery - 1 && i != iters - 1) {
        auth = Checkpoints.pin(auth)
        keepNewestTwo(auth)
        hub = Checkpoints.pin(hub)
        keepNewestTwo(hub)
      }
      i += 1
    }
    // `e` is fully consumed: every half-step's join output was
    // materialized into a raw checkpoint, and the returned plan reads
    // only the last two of those plus `nodes` — freeing it here (not
    // leaving it to the caller's Checkpoints.free, which can't reach a
    // leaf absent from the returned plan) releases the |E|-sized cache
    val result = hub.join(auth.hint("shuffle_hash"), Seq("id"))
      .select(col("id"), col("h").as("hub"), col("a").as("auth"))
    Checkpoints.free(e)
    result
  }

  /** Symmetric co-occurrence edge list: nodes sharing a key get a
    * directed edge EACH WAY — the standard construction for
    * co-citation / co-visitation / shared-resource host graphs when no
    * explicit link column exists (two hosts publishing the same
    * canonical item are related). Input rows (`keyCol`, `nodeCol`,
    * anything else); output (`src`, `dst`) distinct, self-loop free,
    * ready for [[pageRank]]/[[hits]].
    *
    * Scale shape: one key-partitioned shuffle dedups (key, node) and
    * ranks nodes within each key; the pair join is keyed on `keyCol`
    * only, so a hot key emits quadratically — `maxPerKey` hard-caps
    * each key's node set (keep-lowest-node, deterministic) BEFORE the
    * join, bounding per-key fan-out at maxPerKey² rows. That cap is
    * the skew contract: raise it consciously, never to "unlimited".
    */
  def cooccurrenceEdges(df: DataFrame, keyCol: String, nodeCol: String,
      maxPerKey: Int = 1000): DataFrame = {
    require(maxPerKey >= 2, s"maxPerKey must be >= 2: $maxPerKey")
    import org.apache.spark.sql.expressions.Window
    val kn = df.select(col(keyCol).as("k"), col(nodeCol).cast("long").as("n"))
      .na.drop().distinct()
    val capped = kn
      .withColumn("_r", row_number().over(
        Window.partitionBy(col("k")).orderBy(col("n"))))
      .filter(col("_r") <= maxPerKey).drop("_r")
    capped.select(col("k"), col("n").as("src"))
      .join(capped.select(col("k"), col("n").as("dst")), Seq("k"))
      .filter(col("src") =!= col("dst"))
      .select(col("src"), col("dst")).distinct()
  }

  /** One HITS half-step (exposed for the GraphsSpec plan gate — the
    * production path's final plan is post-checkpoint, so the interior
    * join/agg shapes must be gated here directly, the [[Clusters]]
    * cc-round pattern): join `scores` onto edge end `joinSide`,
    * aggregate by `aggSide`, max-normalize to `scale`, left-join back
    * onto `nodes`. Returns (raw-checkpoint to free, output frame);
    * `raw` is eagerly materialized — see the plan-doubling note inside.
    */
  private[operators] def hitsHalfStep(e: DataFrame, nodes: DataFrame,
      scores: DataFrame, scoreCol: String, joinSide: String,
      aggSide: String, outCol: String, scale: Long): (DataFrame, DataFrame) = {
    // raw feeds BOTH the max-normalizer and the rescale join; without
    // a lineage cut here every half-step DOUBLES the plan (157
    // exchange nodes were measured in the 2-iteration final plan vs
    // ~10 with the cut), so the |V|-row materialization
    // is mandatory plan hygiene, not an optimization (wall-clock
    // neutral at sf0.1)
    val raw = Checkpoints.pin(scores.withColumnRenamed("id", joinSide)
      .join(e.hint("shuffle_hash"), Seq(joinSide))
      .groupBy(col(aggSide).as("id"))
      .agg(sum(col(scoreCol)).as("raw")))
    val m = raw.agg(max(col("raw")).as("m"))
    val out = nodes.join(raw.hint("shuffle_hash"), Seq("id"), "left")
      .crossJoin(broadcast(m))
      .withColumn(outCol,
        coalesce(expr(s"(raw * ${scale}L) div m"), lit(0L)))
      .select(col("id"), col(outCol))
    (raw, out)
  }
}
