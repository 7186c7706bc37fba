package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Duplicate-cluster resolution: turn near-dup PAIRS (from MinHash/LSH,
  * SimHash, or exact Jaccard — [[Dedup]]) into connected components and
  * keep one canonical document per component. This is the step a real
  * corpus-dedup pipeline runs after candidate verification: near-dup is
  * not transitive, but dedup policy is ("drop everything reachable from a
  * kept doc"), so the pair set must be closed into clusters first.
  *
  * Scale design (the 100 TB story):
  *  - label propagation with POINTER JUMPING (path doubling): each round
  *    is (a) every node takes the min label over itself + neighbors — one
  *    shuffle keyed by node id; (b) every node re-points to its label's
  *    label — one self-join shuffle. (b) halves pointer-chain depth each
  *    round, so convergence is O(log n) rounds even for path-shaped
  *    graphs where plain min-propagation needs O(diameter) — the
  *    Kiveris et al. "Connected Components in MapReduce and Beyond"
  *    (two-phase / hash-to-min) recipe.
  *  - the edge state is the CANONICAL HALF (src < dst) — never a
  *    symmetrized copy: both propagation directions derive from the one
  *    table, so the big materialization is |E| rows, not 2|E| (the
  *    symmetric build + store was the single most expensive step
  *    measured at the 80x smoke, 103 s of 389).
  *  - round 0 exploits identity labels: the min label over neighbors IS
  *    the min neighbor id, so the first — full-|E| — round needs NO
  *    join at all, just one union + min aggregation.
  *  - rounds 1+ run off ONE shared relabel pass (`relabelLive`): edges
  *    joined to both endpoints' labels, settled (equal-label) edges
  *    filtered out. The same cached `live` frame feeds (a) the round's
  *    min-candidate aggregation and (b) the CONTRACTION that re-attaches
  *    surviving edges to label roots — so the graph both propagates and
  *    shrinks for the price of one double-join. Clique-heavy near-dup
  *    graphs collapse almost entirely in round 1 (measured 23.8M
  *    canonical edges -> 1.7k survivors at the 80x smoke).
  *  - the |V|-row label table is NEVER broadcast (shuffle_hash hints):
  *    labels are corpus-sized, so a broadcast is categorically wrong at
  *    cluster scale (and the label-broadcast plan Spark picks from
  *    checkpoint statistics OOMed the local driver at 80x).
  *  - `localCheckpoint` after each round truncates lineage, so round k
  *    doesn't replay rounds 1..k-1 (iterative-DataFrame trap).
  *  - convergence is detected from the live set ALONE: an empty
  *    relabelLive means every edge already joins same-labeled nodes, so
  *    the round (and its |V|-scale joins) is skipped entirely — and a
  *    NON-empty one strictly decreases some label, so no per-round
  *    convergence probe is needed at all (round 18 removed the
  *    per-round `sum(label)` checksum actions; the checksum survives
  *    only inside the final pointer-jump flattening, the one place
  *    change detection is still load-bearing).
  *  - within a live round, the propagation and the contraction both
  *    read the same checkpointed live set and are independent — their
  *    materializations run as CONCURRENT jobs, so the round's wall
  *    clock is max(propagate, contract) instead of the sum.
  *
  * Reference analog: the tutorial's iterate/closeWith feedback loop
  * (java/.../transformation/IterateDemo.java:22-50) is the same
  * driver-steps-a-fixpoint shape; here the loop body is a distributed
  * min-label round instead of a per-element decrement.
  */
object Clusters {

  /** Connected components over an undirected edge list.
    *
    * @param edges  DataFrame with two long-compatible id columns
    * @param edgesDeduped  set true when `edges` is already a
    *         deduplicated canonical pair list (src < dst, no repeats) —
    *         the contract [[Dedup.minhashCandidatesFast]],
    *         [[Dedup.jaccardPairs]] and `Similarity.blockedNearDups`
    *         all honor — to skip a full-|E| canonicalization shuffle.
    *         Purely an optimization: duplicate or reversed edges never
    *         affect the RESULT (min over repeated neighbors is the
    *         min), only the per-round row count, so a caller passing
    *         true with messy edges still gets correct clusters.
    * @return (id, cluster) — `cluster` is the MINIMUM id reachable from
    *         `id`; one row per distinct node in `edges`. Deterministic.
    */
  def connectedComponents(edges: DataFrame, srcCol: String = "id_a",
      dstCol: String = "id_b", maxRounds: Int = 25,
      edgesDeduped: Boolean = false): DataFrame = {
    val raw = edges.select(col(srcCol).cast("long").as("s"),
      col(dstCol).cast("long").as("d"))
    // canonicalize (least, greatest) BEFORE distinct: the dedup shuffle
    // moves |E| rows instead of the 2|E| a symmetrize-then-distinct
    // pays. Materialize ONCE — the vertex set and every round derive
    // from this table, and each derivation scans it twice (self-union):
    // without the checkpoint the UPSTREAM candidate DAG (often a full
    // minhash/LSH pass over the corpus) re-executes four times
    // (measured +150 s at the 80x smoke).
    val canon = if (edgesDeduped) raw
      else raw.select(least(col("s"), col("d")).as("s"),
        greatest(col("s"), col("d")).as("d")).distinct()
    var e = canon.localCheckpoint()
    var labels = e.select(col("s").as("id"))
      .union(e.select(col("d").as("id"))).distinct()
      .withColumn("label", col("id"))
      .localCheckpoint()
    var round = 0
    var converged = false
    while (round < maxRounds && !converged) {
      // round 0: labels are identity — the neighbor-min needs no join,
      // and no convergence probe either: any edge at all strictly
      // decreases its larger endpoint's label, so round 0 can only
      // "converge" on an empty graph — which round 1's empty live set
      // detects anyway. rounds 1+: one relabel pass feeds both the
      // propagation and the contraction, eagerly checkpointed so the
      // two consumers read materialized blocks instead of racing to
      // compute the double join twice.
      if (round == 0) {
        val jumped = neighborMinRound(labels, e).localCheckpoint()
        Checkpoints.free(labels)
        labels = jumped
      } else {
        val lv = relabelLive(e, labels).localCheckpoint()
        if (lv.isEmpty) {
          // CONVERGED-EARLY EXIT: zero live edges means the contracted
          // graph is label-consistent — no further PROPAGATION can change
          // anything, so the remaining full rounds (edge relabel double
          // join + neighbor-min agg) are dead weight. What may remain is
          // stale POINTER CHAINS on non-root nodes (x→4→0 where only the
          // skipped rounds' label:=label(label) step would flatten x to
          // 0), so finish with jump-only rounds: one |V| self-join each,
          // O(log depth) of them (usually 1-2), no edge-side work at all.
          // This caps the per-round fixed cost that dominated the
          // CC-composed queries (q80/q85/q90/q92) on slow boxes. The
          // label-sum checksum (labels only ever decrease; an unchanged
          // jump leaves the sum fixed; DECIMAL(38,0) so 100 TB of long
          // ids can't overflow) detects flatness — computed on entry
          // only, the one place a convergence probe is still needed.
          Checkpoints.free(lv)
          var sum = checksum(labels)
          var flat = false
          while (!flat) {
            val jumped = pointerJump(labels).localCheckpoint()
            val ns = checksum(jumped)
            flat = ns == sum
            sum = ns
            Checkpoints.free(labels)
            labels = jumped
          }
          converged = true
        } else {
          // A NON-EMPTY live set strictly decreases some label (the live
          // edge's larger-labeled endpoint takes the smaller label, and
          // labels are monotone non-increasing), so the round can never
          // be the converged one — the per-round checksum probe this
          // branch used to pay was provably dead weight (round-18
          // measurement: one action of ~3 per round). Propagation and
          // CONTRACTION both consume the checkpointed live set and are
          // independent, so their materializations run CONCURRENTLY
          // (guide §2.6 job overlap — the contraction back-fills
          // executors the propagation's tail leaves idle):
          //  - propagation: min-label + pointer jump (liveRound);
          //  - contraction: settled edges are already gone from `live`;
          //    survivors re-attach to label roots (load-bearing, not
          //    cosmetic — label updates propagate by nodes PULLING from
          //    their label node, so keeping original endpoints strands any
          //    component whose only bridge had both endpoints sharing a
          //    then-non-final label; regression-tested: "survives pruning
          //    a same-label bridge"). `distinct` collapses the parallel
          //    root-edges that inter-cluster noise creates (without it
          //    rounds 2+ re-scan every copy — measured +80 s at 80x).
          import scala.concurrent.{Await, Future}
          import scala.concurrent.ExecutionContext.Implicits.global
          import scala.concurrent.duration.Duration
          val fJump = Future(liveRound(labels, lv).localCheckpoint())
          val fContract = Future(contractLive(lv).localCheckpoint())
          val jumped = Await.result(fJump, Duration.Inf)
          val eNew = Await.result(fContract, Duration.Inf)
          Checkpoints.free(e)
          e = eNew
          Checkpoints.free(lv)
          // the superseded round's checkpoint blocks are dead the moment
          // `jumped` materializes — free them now instead of waiting for
          // the ContextCleaner's GC-driven cleanup (25 stale |V|-row
          // snapshots is real eviction pressure at corpus scale)
          Checkpoints.free(labels)
          labels = jumped
        }
      }
      round += 1
    }
    Checkpoints.free(e)
    // a non-converged result is silently WRONG (labels mid-propagation);
    // pointer jumping converges in O(log n) rounds, so hitting the cap
    // means something is broken — fail loudly, never return bad clusters
    require(converged,
      s"connectedComponents did not converge in $maxRounds rounds")
    labels.withColumnRenamed("label", "cluster")
  }

  /** Round-0 specialization: with identity labels, the min label over a
    * node's neighbors is just the min NEIGHBOR ID, and the pointer jump
    * is the identity — so the one round that always sees the full edge
    * set runs join-free: one self-union of the canonical half (each
    * edge contributes a candidate in both directions) + one min
    * aggregation keyed by node. ONLY valid while label(id) == id.
    */
  private[graft] def neighborMinRound(labels: DataFrame, e: DataFrame): DataFrame = {
    val via = e.select(col("d").as("id"), col("s").as("cand"))
      .union(e.select(col("s").as("id"), col("d").as("cand")))
      .groupBy("id").agg(min(col("cand")).as("nl"))
    labels.join(via.hint("shuffle_hash"), Seq("id"), "left")
      .select(col("id"), least(col("label"), col("nl")).as("label"))
  }

  /** The shared per-round relabel pass: canonical-half edges joined to
    * BOTH endpoints' current labels, with settled (equal-label) edges
    * dropped — they can never change another node's label, and every
    * round's other steps only need the survivors. The |V|-row label
    * side is never broadcast (shuffle_hash; see class doc).
    */
  private[graft] def relabelLive(e: DataFrame, labels: DataFrame): DataFrame =
    e.join(labels.select(col("id").as("s"), col("label").as("ls"))
        .hint("shuffle_hash"), Seq("s"))
      .join(labels.select(col("id").as("d"), col("label").as("ld"))
        .hint("shuffle_hash"), Seq("d"))
      .filter(col("ls") =!= col("ld"))

  /** One propagation round over a [[relabelLive]] frame — (a) every
    * node takes the min label over itself + its live neighbors' labels
    * (one |V|-bounded shuffle after map-side combine); (b) pointer
    * jump: label := label(label) — every label value is a node id
    * present in `labels`, so the lookup always hits. Factored out so
    * ClustersSpec's "CC loop rounds" test can plan-gate the shapes that
    * repeat every round (the loop's checkpoints hide them from the final
    * plan).
    */
  private[graft] def liveRound(labels: DataFrame, live: DataFrame): DataFrame = {
    val via = live.select(col("d").as("id"), col("ls").as("cand"))
      .union(live.select(col("s").as("id"), col("ld").as("cand")))
      .groupBy("id").agg(min(col("cand")).as("nl"))
    val stepped = labels.join(via.hint("shuffle_hash"), Seq("id"), "left")
      .select(col("id"), least(col("label"), col("nl")).as("label"))
    stepped.alias("x")
      .join(labels.select(col("id").as("label"), col("label").as("ll"))
        .alias("p").hint("shuffle_hash"), Seq("label"))
      .select(col("x.id").as("id"), col("ll").as("label"))
  }

  /** Pointer-jump-only step: label := label(label). Every label value is
    * a node id present in `labels`, so the inner join always hits. Used
    * by the converged-early exit to flatten residual pointer chains
    * without touching the edge set.
    */
  private[graft] def pointerJump(labels: DataFrame): DataFrame =
    labels.alias("x")
      .join(labels.select(col("id").as("label"), col("label").as("ll"))
        .alias("p").hint("shuffle_hash"), Seq("label"))
      .select(col("x.id").as("id"), col("ll").as("label"))

  /** Contraction output from a [[relabelLive]] frame: surviving edges
    * rewritten onto their label roots, re-canonicalized (least/greatest
    * — label order is arbitrary) and deduplicated. Runs only on the
    * post-filter survivors, so it never pays a full-|E| shuffle once
    * cliques collapse.
    */
  private[graft] def contractLive(live: DataFrame): DataFrame =
    live.select(least(col("ls"), col("ld")).as("s"),
        greatest(col("ls"), col("ld")).as("d"))
      .distinct()

  private def checksum(labels: DataFrame): java.math.BigDecimal =
    labels.agg(sum(col("label").cast("decimal(38,0)")).as("s"))
      .head().getDecimal(0)

  /** Cluster-level dedup: resolve `pairs` into components and keep, per
    * component, only the row of `df` with the minimum id (rows in no pair
    * survive untouched). Adds `cluster` (= kept id; own id for singletons)
    * and `dup_count` (component size, 1 for singletons).
    */
  def dedupByClusters(df: DataFrame, idCol: String, pairs: DataFrame,
      srcCol: String = "id_a", dstCol: String = "id_b",
      pairsDeduped: Boolean = false): DataFrame = {
    val cc = connectedComponents(pairs, srcCol, dstCol,
      edgesDeduped = pairsDeduped)
    val sizes = cc.groupBy("cluster").agg(count(lit(1)).as("dup_count"))
    // cc/m are |V|-row (corpus-sized) tables — same no-broadcast rule as
    // the loop joins above
    val m = cc.join(sizes.hint("shuffle_hash"), "cluster")
    df.join(m.withColumnRenamed("id", idCol).hint("shuffle_hash"),
        Seq(idCol), "left")
      .withColumn("cluster", coalesce(col("cluster"), col(idCol)))
      .withColumn("dup_count", coalesce(col("dup_count"), lit(1L)))
      .filter(col(idCol) === col("cluster"))
  }
}
