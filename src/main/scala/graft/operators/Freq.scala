package graft.operators

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import Checkpoints.{readStore, replaceStore}

/** Mergeable heavy-hitter (frequent-item) summaries — Misra-Gries — and
  * the two-pass EXACT top-k they make affordable at corpus scale.
  *
  * Why not `groupBy(item).count.orderBy.limit(k)`: that shuffles one row
  * per DISTINCT item. Over a 100 TB token/URL/key column the distinct set
  * is itself enormous (billions), so the "simple" top-k pays a
  * vocabulary-sized shuffle to keep k rows. The Misra-Gries summary caps
  * what leaves each partition at `capacity` rows regardless of the
  * distinct count, with the classical guarantee (Misra & Gries 1982;
  * mergeability: Agarwal et al., "Mergeable Summaries", PODS'12):
  *
  *   - undercount only: est(x) <= true(x)
  *   - bounded error:   true(x) - est(x) <= N / (capacity + 1)
  *   - therefore every item with true(x) > N/(capacity+1) SURVIVES.
  *
  * Summing per-partition summaries preserves both properties (each
  * partition undercounts by at most N_p/(cap+1); the sums telescope to
  * N/(cap+1)), so the union of partition summaries is a correct global
  * candidate set — the shuffle carries at most capacity·|partitions|
  * rows, independent of the data's distinct cardinality.
  *
  * `exactTopK` is then the standard two-pass discipline: pass 1 finds the
  * candidate superset (guaranteed to contain every possible top-k member
  * once the k-th count clears N/(cap+1)); pass 2 re-counts ONLY candidate
  * rows exactly (broadcast semi-join keeps the filter map-side) and ranks
  * with a deterministic tie-break. Exactness precondition documented on
  * the method.
  *
  * Reference analog: the reference's Top-N jobs buffer whole windows in
  * ListState and sort (`scala/.../demo/hotitems/HotItems.scala:97-136`) —
  * fine per window-pane, but its global/batch form is the
  * vocabulary-shuffle this operator avoids.
  */
object Freq {

  /** One Misra-Gries step on a counter map of `capacity` slots. Classic
    * loop: hit → increment; miss with room → insert at 1; miss when
    * full → decrement ALL (dropping zeros), which also discards the
    * arriving item. Each decrement round destroys capacity+1 units of
    * count, so rounds <= N/(capacity+1) — that is the undercount bound
    * and the amortized O(1) argument at once. Returns whether this step
    * ran a decrement round — a partition whose steps NEVER decremented
    * holds exact, complete per-partition counts (nothing was ever
    * dropped), which is the cheap branch of the exactTopK certificate.
    */
  private def mgStep(m: java.util.HashMap[String, Long], v: String,
      capacity: Int): Boolean = {
    val cur = m.getOrDefault(v, 0L)
    if (cur > 0L) { m.put(v, cur + 1L); false }
    else if (m.size < capacity) { m.put(v, 1L); false }
    else {
      val e = m.entrySet.iterator
      while (e.hasNext) {
        val en = e.next()
        if (en.getValue == 1L) e.remove() else en.setValue(en.getValue - 1L)
      }
      true
    }
  }

  /** [[mgPartition]] plus the certificate inputs: emits the partition's
    * counters as (item, est, 0) rows and ONE (null, n_rows, dec_rounds)
    * marker row — null is unambiguous because callers filter null items
    * before summarizing. Downstream sums give exactly the two facts the
    * exactness certificate needs: N (total rows summarized) and whether
    * ANY decrement round ran anywhere.
    */
  private[operators] def mgPartitionCounted(capacity: Int)(
      it: Iterator[String]): Iterator[(String, Long, Long)] = {
    val m = new java.util.HashMap[String, Long](capacity * 2)
    var n = 0L; var dec = 0L
    while (it.hasNext) {
      n += 1L
      if (mgStep(m, it.next(), capacity)) dec += 1L
    }
    val out = Vector.newBuilder[(String, Long, Long)]
    out += ((null, n, dec))
    m.forEach((k, v) => out += ((k, v, 0L)))
    out.result().iterator
  }

  private[operators] def mgPartition(capacity: Int)(
      it: Iterator[String]): Iterator[(String, Long)] =
    mgPartitionCounted(capacity)(it)
      .filter(_._1 != null).map { case (k, v, _) => (k, v) }

  /** Per-(partition, group) Misra-Gries with certificate markers: one
    * `capacity`-slot counter map per group seen in the partition — task
    * memory is |groups-in-partition|·capacity, so this tier is for
    * LOW-cardinality groups over HIGH-cardinality items (top URLs per
    * language, top tokens per source), the regime where the exact
    * groupBy(group, item) shuffle is the thing to avoid. That regime
    * restriction is ENFORCED task-side: past `maxGroups` distinct groups
    * in one partition the task fails fast with a readable error instead
    * of degrading into an executor-OOM-sized map at scale. Emits one
    * (group, null, n_rows_g, dec_rounds_g) marker per group seen.
    */
  private[operators] def mgPartitionByGroupCounted(capacity: Int,
      maxGroups: Int)(
      it: Iterator[(String, String)]): Iterator[(String, String, Long, Long)] = {
    val byGroup = new java.util.HashMap[String, java.util.HashMap[String, Long]]()
    val nByGroup = new java.util.HashMap[String, Array[Long]]()
    while (it.hasNext) {
      val (g, v) = it.next()
      var m = byGroup.get(g)
      if (m == null) {
        if (byGroup.size >= maxGroups) throw new IllegalStateException(
          s"mgCandidatesByGroup: a partition saw more than $maxGroups " +
            "distinct groups — task memory is |groups|*capacity counters " +
            "and this tier is for LOW-cardinality groups over " +
            "high-cardinality items; for high-cardinality groups use a " +
            "plain groupBy(group, item) count, or raise " +
            "maxGroupsPerPartition if the memory is genuinely affordable")
        m = new java.util.HashMap[String, Long](capacity * 2)
        byGroup.put(g, m)
        nByGroup.put(g, Array(0L, 0L))
      }
      val c = nByGroup.get(g)
      c(0) += 1L
      if (mgStep(m, v, capacity)) c(1) += 1L
    }
    val out = Vector.newBuilder[(String, String, Long, Long)]
    byGroup.forEach { (g, m) =>
      val c = nByGroup.get(g)
      out += ((g, null, c(0), c(1)))
      m.forEach((k, v) => out += ((g, k, v, 0L)))
    }
    out.result().iterator
  }

  private[operators] def mgPartitionByGroup(capacity: Int, maxGroups: Int)(
      it: Iterator[(String, String)]): Iterator[(String, String, Long)] =
    mgPartitionByGroupCounted(capacity, maxGroups)(it)
      .filter(_._2 != null).map { case (g, k, v, _) => (g, k, v) }

  /** Default task-side cap on distinct groups per partition for the
    * grouped MG tier — a partition with more distinct groups than this
    * is plainly in the wrong tier (the map alone would be
    * maxGroups·capacity counters of task memory).
    */
  val DefaultMaxGroupsPerPartition = 4096

  /** Global candidate summary: (item, est) with est <= true count <=
    * est + N/(capacity+1), containing every item whose true count
    * exceeds N/(capacity+1). NULL items are ignored (they are not a
    * frequency question). Plan: one scan, zero-shuffle partition
    * summaries, then a groupBy over <= capacity·|partitions| summary
    * rows — metadata-scale at any corpus size.
    */
  def mgCandidates(df: DataFrame, itemCol: String, capacity: Int): DataFrame = {
    require(capacity >= 1, s"capacity must be positive: $capacity")
    val spark = df.sparkSession
    import spark.implicits._
    val items: Dataset[String] =
      df.filter(col(itemCol).isNotNull).select(col(itemCol).cast("string"))
        .as[String]
    items.mapPartitions(mgPartition(capacity))
      .toDF("item", "est")
      .groupBy(col("item")).agg(sum(col("est")).as("est"))
  }

  /** Merge two Misra-Gries summaries back to `capacity` counters
    * (Agarwal et al. §3): sum matching counters, then subtract the
    * (capacity+1)-th largest summed value from every counter and drop
    * the non-positive ones. The subtraction is what re-bounds the state;
    * it adds at most (n_a+n_b)/(capacity+1) CUMULATIVE undercount, so a
    * chain of store+batch merges keeps the global guarantee. All inputs
    * here are summary tables (<= capacity rows each) — the unpartitioned
    * window below ranks a bounded table, the Packing.scala:14 convention.
    */
  def mergeMg(a: DataFrame, b: DataFrame, capacity: Int): DataFrame = {
    require(capacity >= 1, s"capacity must be positive: $capacity")
    val summed = a.select(col("item"), col("est"))
      .unionByName(b.select(col("item"), col("est")))
      .groupBy(col("item")).agg(sum(col("est")).as("est"))
    val w = Window.orderBy(col("est").desc, col("item"))
    val ranked = summed.withColumn("__r", row_number().over(w))
    val sub = ranked.filter(col("__r") === capacity + 1)
      .agg(coalesce(max(col("est")), lit(0L)).as("__sub"))
    ranked.crossJoin(broadcast(sub))
      .filter(col("est") > col("__sub"))
      .select(col("item"), (col("est") - col("__sub")).as("est"))
  }

  /** [[mergeMg]] per group: counters sum within (group, item), and each
    * GROUP re-bounds independently by its own (capacity+1)-th largest
    * counter. Windows run over summary rows partitioned by group —
    * sketch-sized, never data-sized.
    */
  def mergeMgByGroup(a: DataFrame, b: DataFrame, capacity: Int): DataFrame = {
    require(capacity >= 1, s"capacity must be positive: $capacity")
    val cols = Seq(col("group"), col("item"), col("est"))
    val summed = a.select(cols: _*).unionByName(b.select(cols: _*))
      .groupBy(col("group"), col("item")).agg(sum(col("est")).as("est"))
    val w = Window.partitionBy(col("group"))
      .orderBy(col("est").desc, col("item"))
    val ranked = summed.withColumn("__r", row_number().over(w))
    val subs = ranked.filter(col("__r") === capacity + 1)
      .select(col("group"), col("est").as("__sub"))
    ranked.join(broadcast(subs), Seq("group"), "left_outer")
      .withColumn("__sub", coalesce(col("__sub"), lit(0L)))
      .filter(col("est") > col("__sub"))
      .select(col("group"), col("item"), (col("est") - col("__sub")).as("est"))
  }

  /** One micro-batch of heavy-hitter store maintenance: summarize the
    * batch ([[mgCandidates]]) and [[mergeMg]] it into the parquet store
    * — the mergeable-summaries law live, so the store stays ≤ capacity
    * rows with cumulative error ≤ n_total/(capacity+1) whatever the
    * stream length. The store carries (item, est) plus a constant
    * `n_total` column (total rows summarized) so any reader can state
    * the bound — and prune to GUARANTEED hitters (est > n_total/(cap+1)
    * − est is the undercount certificate) without consulting anything
    * else. Tracking n_total costs one extra COUNT pass over the batch
    * (batch-sized, never store-sized). The store is rewritten through
    * [[Checkpoints.replaceStore]]; exposed separately from
    * [[maintainTopHitters]] so restart/replay semantics are directly
    * testable.
    */
  def mergeBatchIntoHitterStore(batch: DataFrame, itemCol: String,
      capacity: Int, storePath: String): Unit = {
    val spark = batch.sparkSession
    val batchN = batch.filter(col(itemCol).isNotNull).count()
    val newSk = mgCandidates(batch, itemCol, capacity)
    val (merged, total) = readStore(spark, storePath) match {
      case Some(stored) =>
        val prevN = stored.agg(coalesce(max(col("n_total")), lit(0L)))
          .head().getLong(0)
        (mergeMg(stored, newSk, capacity), prevN + batchN)
      case None => (newSk, batchN)
    }
    // An adversarial batch can decrement a summary to ZERO rows (cap=1
    // over alternating items); n_total rides on rows, so an empty store
    // would silently reset the error bound — carry a null-item marker
    // row instead. mergeMg drops it on the next merge (est 0 never
    // exceeds the subtrahend) and hitter readers filter items anyway.
    // Pin the merge ONCE and probe emptiness on the pinned frame:
    // isEmpty on the raw plan would execute the whole merge a second
    // time ahead of the pin.
    import spark.implicits._
    replaceStore(merged.withColumn("n_total", lit(total)), storePath) {
      pinned =>
        val out =
          if (total > 0L && pinned.isEmpty)
            Seq((Option.empty[String], 0L, total))
              .toDF("item", "est", "n_total")
          else pinned
        out.write.mode("overwrite").parquet(storePath)
    }
  }

  /** The certified read of a hitter store ([[mergeBatchIntoHitterStore]]
    * layout): items whose UNDERCOUNT-ONLY estimate already clears the
    * store's error bound `n_total/(capacity+1)` — for these, true count
    * > bound is a theorem, not an estimate (est <= true always). Items
    * below the line may or may not be heavy (the summary can't say);
    * re-count candidates exactly if the distinction matters (the
    * [[exactTopK]] pass-2 discipline). Marker rows (null item) are
    * excluded.
    */
  def guaranteedHitters(store: DataFrame, capacity: Int): DataFrame = {
    require(capacity >= 1, s"capacity must be positive: $capacity")
    store.filter(col("item").isNotNull &&
      col("est") * (capacity + 1).toLong > col("n_total"))
  }

  /** Streaming heavy-hitter maintenance — live "top tokens/URLs so far"
    * over an unbounded stream in ≤ capacity rows of state: every
    * micro-batch merges its own Misra-Gries summary into the parquet
    * store under the exactly-once batch ledger
    * ([[graft.io.Sinks.runIdempotent]]) — mandatory, since MG counters
    * ADD on merge and a checkpoint-replayed batch would double-count.
    * Start the returned writer with a checkpointLocation.
    */
  def maintainTopHitters(stream: DataFrame, itemCol: String, capacity: Int,
      storePath: String, ledgerDir: String)
      : org.apache.spark.sql.streaming.DataStreamWriter[
      org.apache.spark.sql.Row] =
    graft.io.Sinks.idempotentForeachBatch(stream, ledgerDir) { (b, _) =>
      mergeBatchIntoHitterStore(b, itemCol, capacity, storePath)
    }

  /** Grouped twin of [[mergeBatchIntoHitterStore]] with PER-GROUP
    * totals: `n_total` on each row is ITS GROUP's summarized row count,
    * so [[guaranteedHittersByGroup]] certifies against each group's own
    * bound (a global figure would dilute a small group's certificate
    * under big-group traffic, exactly like a group-blind merge would
    * dilute its counters). The summary right-joins the totals table, so
    * a group whose summary was decremented empty keeps a natural
    * (group, null-item, 0) marker row carrying its total — no separate
    * marker machinery.
    */
  def mergeBatchIntoGroupHitterStore(batch: DataFrame, groupCol: String,
      itemCol: String, capacity: Int, storePath: String,
      maxGroupsPerPartition: Int = DefaultMaxGroupsPerPartition): Unit = {
    val spark = batch.sparkSession
    val batchTotals = batch
      .filter(col(groupCol).isNotNull && col(itemCol).isNotNull)
      .groupBy(col(groupCol).cast("string").as("group"))
      .agg(count(lit(1)).as("n_total"))
    val newSk = mgCandidatesByGroup(batch, groupCol, itemCol, capacity,
      maxGroupsPerPartition)
    val (merged, totals) = readStore(spark, storePath) match {
      case Some(stored) =>
        val prevTotals = stored.select(col("group"), col("n_total"))
          .distinct()
        val summed = prevTotals.unionByName(batchTotals)
          .groupBy(col("group")).agg(sum(col("n_total")).as("n_total"))
        (mergeMgByGroup(stored.filter(col("item").isNotNull), newSk,
          capacity), summed)
      case None => (newSk, batchTotals)
    }
    replaceStore(merged
      .join(totals, Seq("group"), "right_outer")
      .withColumn("est", coalesce(col("est"), lit(0L)))
      .select(col("group"), col("item"), col("est"), col("n_total")),
      storePath)()
  }

  /** Certified read of a grouped hitter store: items whose estimate
    * clears THEIR OWN group's bound `n_total_group/(capacity+1)` —
    * heaviness within the group is a theorem (see
    * [[guaranteedHitters]]). Marker rows are excluded.
    */
  def guaranteedHittersByGroup(store: DataFrame, capacity: Int): DataFrame = {
    require(capacity >= 1, s"capacity must be positive: $capacity")
    store.filter(col("item").isNotNull &&
      col("est") * (capacity + 1).toLong > col("n_total"))
  }

  /** Loud EXACTNESS-REGIME precondition on a grouped hitter store
    * ([[mergeBatchIntoGroupHitterStore]] layout): per group,
    * `sum(est) == n_total` ⟺ no Misra-Gries decrement (task-side
    * eviction) and no merge subtrahend ever fired for that group — a
    * decrement subtracts 1 from every full counter while the running
    * total gains 1, and a subtrahend strictly lowers counter mass with
    * totals unchanged, so ANY departure from the no-decrement regime
    * leaves the summary's mass strictly below its total, and nothing
    * ever raises it back. Under mass == total, every distinct item is
    * present with its EXACT count (occurrences only ever land in their
    * own key's counter), which is the premise that makes the certified
    * read a cross-engine theorem rather than an estimate.
    *
    * This check is derived ENTIRELY from the store — a sketch-sized
    * aggregate over ≤ |groups|·(capacity+1) rows — where the equivalent
    * vocabulary precondition (per-group distinct items ≤ capacity)
    * costs a full distinct-count re-scan of the data per call
    * (round-18 measurement: +0.45 s per q207 run at sf0.1,
    * proportionally worse at corpus scale).
    */
  def requireExactRegime(store: DataFrame, capacity: Int): Unit = {
    require(capacity >= 1, s"capacity must be positive: $capacity")
    val bad = store.groupBy(col("group"))
      .agg(sum(coalesce(col("est"), lit(0L))).as("mass"),
        max(col("n_total")).as("n_total"))
      .filter(col("mass") =!= col("n_total"))
      .limit(1).collect()
    require(bad.isEmpty, {
      val r = bad.head
      s"exactness precondition broken: group '${r.get(0)}' summary mass " +
        s"${r.getLong(1)} != its total ${r.getLong(2)} — a Misra-Gries " +
        s"decrement fired (the group's distinct items exceed capacity " +
        s"$capacity), so stored counts are no longer exact and a " +
        "cross-engine exact gate is unsound; regenerated fixtures must " +
        "keep per-group vocabulary <= capacity (or the gate needs a " +
        "larger capacity)"
    })
  }

  /** Streaming per-group heavy-hitter maintenance — live "top items per
    * group so far" in ≤ |groups|·capacity rows of state, under the
    * exactly-once ledger (MG counters ADD on merge; replays must not
    * double-count). `maxGroupsPerPartition` forwards to the task-side
    * group-cardinality guard so a stream whose groups genuinely exceed
    * the default can raise it instead of hitting an unreachable remedy.
    */
  def maintainTopHittersByGroup(stream: DataFrame, groupCol: String,
      itemCol: String, capacity: Int, storePath: String, ledgerDir: String,
      maxGroupsPerPartition: Int = DefaultMaxGroupsPerPartition)
      : org.apache.spark.sql.streaming.DataStreamWriter[
      org.apache.spark.sql.Row] =
    graft.io.Sinks.idempotentForeachBatch(stream, ledgerDir) { (b, _) =>
      mergeBatchIntoGroupHitterStore(b, groupCol, itemCol, capacity,
        storePath, maxGroupsPerPartition)
    }

  /** Grouped candidate summary: (group, item, est) with the
    * [[mgCandidates]] guarantees holding PER GROUP (each group's
    * summaries see only its own rows, so est <= true and
    * true - est <= N_group/(capacity+1)). NULL groups and items are
    * ignored. Shuffle: <= |groups|·capacity·|partitions| summary rows.
    */
  def mgCandidatesByGroup(df: DataFrame, groupCol: String, itemCol: String,
      capacity: Int,
      maxGroupsPerPartition: Int = DefaultMaxGroupsPerPartition): DataFrame = {
    require(capacity >= 1, s"capacity must be positive: $capacity")
    val spark = df.sparkSession
    import spark.implicits._
    df.filter(col(groupCol).isNotNull && col(itemCol).isNotNull)
      .select(col(groupCol).cast("string"), col(itemCol).cast("string"))
      .as[(String, String)]
      .mapPartitions(mgPartitionByGroup(capacity, maxGroupsPerPartition))
      .toDF("group", "item", "est")
      .groupBy(col("group"), col("item")).agg(sum(col("est")).as("est"))
  }

  /** EXACT top-k per group (count desc, item asc tie-break) — the
    * sketch-assisted form of a per-group Top-N: candidates from the
    * grouped MG summaries, exact re-count of candidate (group, item)
    * pairs behind a broadcast semi-join, then a rank window that sees
    * ONLY candidate-count rows (bounded by the candidate set, never by
    * the item vocabulary). Output: (group, item, cnt) with the original
    * column names/types.
    *
    * Exactness is CERTIFIED IN-PLAN per group, not assumed: each
    * group's result rows pass only if (a) no partition ever ran a
    * decrement round for that group — its candidate counts were exact
    * and complete — or (b) the group returned k rows and its k-th exact
    * count clears N_group/(capacity+1), so no non-candidate can outrank
    * them. Otherwise the query FAILS with the sizing rule in the
    * message — INCLUDING a group whose candidate summaries decremented
    * entirely empty (the normal state for a high-cardinality uniform
    * tail): the certificate rides the per-group stats rows, which
    * left-join the results, so a vanished group fails loudly rather
    * than silently disappearing.
    *
    * CONSTRUCTION runs the pass-1 corpus scan immediately: the shared
    * summary is pinned so the candidate and certificate branches of the
    * RETURNED plan read one bounded table instead of re-scanning. The
    * pinned blocks (≤ (capacity+1)·|partitions| summary rows) are
    * reclaimed by the ContextCleaner once the returned plan is
    * unreachable, so build the plan when you intend to run it and
    * drop the reference after; a loop that constructs many of these and
    * holds them all accumulates executor storage until they go out of
    * scope.
    */
  def exactTopKPerGroup(df: DataFrame, groupCol: String, itemCol: String,
      k: Int, capacity: Int,
      maxGroupsPerPartition: Int = DefaultMaxGroupsPerPartition): DataFrame = {
    require(k >= 1, s"k must be positive: $k")
    require(capacity >= 1, s"capacity must be positive: $capacity")
    val spark = df.sparkSession
    import spark.implicits._
    val summary = df.filter(col(groupCol).isNotNull && col(itemCol).isNotNull)
      .select(col(groupCol).cast("string"), col(itemCol).cast("string"))
      .as[(String, String)]
      .mapPartitions(mgPartitionByGroupCounted(capacity, maxGroupsPerPartition))
      .toDF("group", "item", "est", "dec")
    // one aggregate over candidates AND the per-group (group, null)
    // marker rows, pinned eagerly so both branches read one bounded
    // table and the pass-1 scan runs once (see exactTopK)
    val agged = Checkpoints.pin(summary.groupBy(col("group"), col("item"))
      .agg(sum(col("est")).as("est"), sum(col("dec")).as("dec")))
    val cand = agged.filter(col("item").isNotNull)
      .select(col("group").as("__mg_g"), col("item").as("__mg_i"))
    val stats = agged.filter(col("item").isNull)
      .select(col("group").as("__mg_sg"), col("est").as("__n"),
        col("dec").as("__dec"))
    val fact = df.filter(col(groupCol).isNotNull && col(itemCol).isNotNull)
    val w = Window.partitionBy(col(groupCol))
      .orderBy(col("cnt").desc, col(itemCol))
    val topk = fact.join(broadcast(cand),
        fact(groupCol).cast("string") === cand("__mg_g") &&
          fact(itemCol).cast("string") === cand("__mg_i"), "left_semi")
      .groupBy(col(groupCol), col(itemCol))
      .agg(count(lit(1)).as("cnt"))
      .withColumn("__r", row_number().over(w))
      .filter(col("__r") <= k)
    // STATS is the LEFT side so every group carries its certificate
    // even with ZERO result rows: a group whose candidate summaries
    // decremented entirely empty (the all-counters-at-1 state is NORMAL
    // for a high-cardinality uniform tail, not exotic) joins nothing
    // and its carrier row fails the certificate instead of the group
    // silently vanishing. Certificate and carrier-drop are ONE
    // expression — a single column that is the count when certified and
    // raise_error otherwise — so the loud failure cannot be separated
    // from the row filter by any predicate reorder (two stacked filters
    // would rely on Catalyst keeping inner-first evaluation order).
    // Windows below rank BOUNDED candidate/top-k rows, never corpus
    // rows (the Packing.scala:14 convention).
    val wg = Window.partitionBy(col("__mg_sg"))
      .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    stats.join(broadcast(topk),
        col("__mg_sg") === topk(groupCol).cast("string"), "left_outer")
      .withColumn("__kth", min(col("cnt")).over(wg))
      .withColumn("__rows", count(col("cnt")).over(wg))
      .withColumn("__cert_cnt", when(
        col("__dec") === 0L ||
          (col("__rows") === k &&
            col("__kth") * lit((capacity + 1).toLong) > col("__n")),
        col("cnt")).otherwise(raise_error(
        concat(lit(s"exactTopKPerGroup(k=$k, capacity=$capacity) " +
            "UNCERTIFIED for group '"), col("__mg_sg"),
          lit("': its "), col("__rows").cast("string"),
          lit(s" result rows (want $k) with k-th count "),
          coalesce(col("__kth").cast("string"), lit("none")),
          lit(" do not clear N_g/(capacity+1) = "), col("__n").cast("string"),
          lit(s"/${capacity + 1} and decrement rounds ran — raise capacity " +
            "above N_g/kth-count or fall back to the exact groupBy")
      ).cast("string"))))
      .filter(col("__cert_cnt").isNotNull) // raises when uncertified; drops carrier-only rows
      .drop("__r", "__mg_sg", "__n", "__dec", "__kth", "__rows", "__cert_cnt")
  }

  /** EXACT top-k (count desc, item asc tie-break) in two passes.
    *
    * Pass 1 builds the Misra-Gries candidate superset plus the
    * certificate inputs (N, decrement-rounds) in the SAME scan; pass 2
    * re-counts candidates exactly behind a broadcast semi-join. Size
    * the capacity from the expected frequency floor: top-k URLs at
    * >=0.01% of traffic need capacity >= 10^4.
    *
    * Exactness is CERTIFIED IN-PLAN, not assumed: the k result rows
    * pass only if (a) NO partition ever ran a decrement round — then
    * candidate counts were exact and complete — or (b) k rows exist and
    * the k-th exact count clears N/(capacity+1), in which case every
    * possible contender was provably a candidate (any non-candidate's
    * true count is <= N/(capacity+1) < the k-th count). An undersized
    * capacity therefore FAILS LOUDLY with the sizing rule in the
    * message instead of silently returning a near-top-k — INCLUDING
    * when the candidate set decremented entirely empty: the
    * certificate rides the 1-row stats frame, which left-joins the
    * results, so zero result rows still carry (and fail) the check.
    *
    * Pass 2 keeps the ORIGINAL column type (the semi-join probes on a
    * string cast; the output groups the raw column). The candidate
    * broadcast is <= capacity·|partitions| rows of (string) keys —
    * driver-bounded planning metadata, not corpus data. The certificate
    * rides the plan as the 1-row stats aggregate of the SAME pinned
    * pass-1 summary, left-joined UNDER the k result rows (stats side
    * left, so zero rows still carry it) plus two unpartitioned windows
    * over the k retained rows (bounded, the Packing.scala:14
    * convention).
    *
    * CONSTRUCTION runs the pass-1 corpus scan immediately (the shared
    * summary is pinned, as in [[exactTopKPerGroup]]); the pinned blocks are
    * freed by the ContextCleaner once the returned plan is unreachable,
    * so don't construct-and-hold these in bulk.
    */
  def exactTopK(df: DataFrame, itemCol: String, k: Int,
      capacity: Int): DataFrame = {
    require(k >= 1, s"k must be positive: $k")
    require(capacity >= 1, s"capacity must be positive: $capacity")
    val spark = df.sparkSession
    import spark.implicits._
    val summary = df.filter(col(itemCol).isNotNull)
      .select(col(itemCol).cast("string")).as[String]
      .mapPartitions(mgPartitionCounted(capacity))
      .toDF("item", "est", "dec")
    // ONE aggregate over candidates AND markers (the null-item marker
    // rows group under the null key), PINNED eagerly so the candidate
    // branch and the stats branch read the same bounded table and the
    // pass-1 corpus scan runs ONCE. Without the pin, column pruning
    // specializes each branch's aggregate (cand drops `dec`) into
    // non-identical exchanges ReuseExchange can't deduplicate — measured
    // as a third full corpus scan in the executed plan. The pinned frame
    // is ≤ (capacity+1)·|partitions| summary rows — the
    // blendByRankBySketch construction-job discipline.
    val agged = Checkpoints.pin(summary.groupBy(col("item"))
      .agg(sum(col("est")).as("est"), sum(col("dec")).as("dec")))
    // candidate column renamed + DataFrame-qualified probe so an input
    // column named "item" can't make the join condition ambiguous
    val cand = agged.filter(col("item").isNotNull)
      .select(col("item").as("__mg_cand"))
    val stats = agged.filter(col("item").isNull)
      .agg(coalesce(sum(col("est")), lit(0L)).as("__n"),
        coalesce(sum(col("dec")), lit(0L)).as("__dec"))
    val fact = df.filter(col(itemCol).isNotNull)
    val wAll = Window
      .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    val topk = fact.join(broadcast(cand),
        fact(itemCol).cast("string") === cand("__mg_cand"), "left_semi")
      .groupBy(col(itemCol))
      .agg(count(lit(1)).as("cnt"))
      .orderBy(col("cnt").desc, col(itemCol))
      .limit(k)
      .withColumn("__one", lit(1))
    // STATS is the LEFT side so the certificate rides even when the
    // candidate set decremented entirely empty (0 result rows would
    // otherwise have no row to carry the check and the query would
    // "succeed" with an empty top-k — and q200's stoplist built on it
    // would silently be empty). Certificate and carrier-drop are ONE
    // expression (certified → cnt, else raise_error) filtered on a
    // single column, so no Catalyst predicate reorder can evaluate the
    // carrier-drop before the certificate.
    stats.withColumn("__one", lit(1))
      .join(broadcast(topk), Seq("__one"), "left_outer")
      .withColumn("__kth", min(col("cnt")).over(wAll))
      .withColumn("__rows", count(col("cnt")).over(wAll))
      .withColumn("__cert_cnt", when(
        col("__dec") === 0L ||
          (col("__rows") === k &&
            col("__kth") * lit((capacity + 1).toLong) > col("__n")),
        col("cnt")).otherwise(raise_error(
        concat(lit(s"exactTopK(k=$k, capacity=$capacity) UNCERTIFIED: "),
          col("__rows").cast("string"),
          lit(s" result rows (want $k) with k-th count "),
          coalesce(col("__kth").cast("string"), lit("none")),
          lit(" do not clear N/(capacity+1) = "), col("__n").cast("string"),
          lit(s"/${capacity + 1} and decrement rounds ran — raise capacity " +
            "above N/kth-count or fall back to the exact groupBy")
      ).cast("string"))))
      .filter(col("__cert_cnt").isNotNull) // raises when uncertified; drops the carrier-only row
      .drop("__one", "__n", "__dec", "__kth", "__rows", "__cert_cnt")
      .orderBy(col("cnt").desc, col(itemCol))
  }
}
