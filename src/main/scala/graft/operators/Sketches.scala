package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import Checkpoints.{readStore, replaceStore}

/** Mergeable distinct-count sketches (DataSketches HLL via the Spark
  * builtins) — the incremental-statistics discipline for a corpus that
  * only ever grows: each group's sketch is a KB-sized BINARY column
  * persisted next to the data, and a new batch builds ITS OWN sketch
  * and unions register-wise — historical data is never rescanned.
  * Complements [[graft.functions.CountMin]] (heavy hitters) on the
  * distinct-count axis; together they are the standard pair of
  * mergeable corpus-monitoring sketches.
  *
  * Scale shape: sketch build is one map-side-combining aggregate (HLL
  * updates are register maxes — commutative, so partial aggregation is
  * exact); merge is an aggregate over G sketch rows, KBs each. Nothing
  * row-shaped survives the first aggregate.
  *
  * Determinism: HLL register state is order-independent (max of
  * hashes), so sketches and estimates are deterministic for a given
  * input set. At small cardinalities the DataSketches HLL sits in its
  * exact (coupon) mode, which is what lets q125 gate the estimates
  * against an exact COUNT(DISTINCT) oracle at the test scales.
  */
object Sketches {

  /** Per-group HLL sketch of `keyCol`: (groupCol, sketch, n_rows). */
  def distinctSketch(df: DataFrame, groupCol: String, keyCol: String,
      lgK: Int = 12): DataFrame =
    df.groupBy(col(groupCol)).agg(
      hll_sketch_agg(col(keyCol), lgK).as("sketch"),
      count(lit(1)).as("n_rows"))

  /** Attach the distinct estimate to a sketch table. */
  def estimate(sketches: DataFrame): DataFrame =
    sketches.withColumn("distinct_est", hll_sketch_estimate(col("sketch")))

  /** Merge two sketch tables (overlapping or disjoint groups): one
    * register-wise union per group; n_rows add.
    */
  def mergeSketches(a: DataFrame, b: DataFrame, groupCol: String): DataFrame =
    a.select(col(groupCol), col("sketch"), col("n_rows"))
      .unionByName(b.select(col(groupCol), col("sketch"), col("n_rows")))
      .groupBy(col(groupCol))
      .agg(hll_union_agg(col("sketch")).as("sketch"),
        sum(col("n_rows")).as("n_rows"))

  /** Incremental update: stored sketches + a new RAW batch — the batch
    * is the only thing scanned.
    */
  def updateWith(stored: DataFrame, batch: DataFrame, groupCol: String,
      keyCol: String, lgK: Int = 12): DataFrame =
    mergeSketches(stored, distinctSketch(batch, groupCol, keyCol, lgK),
      groupCol)

  /** Cross-group rollup: one global (sketch, n_rows, distinct_est) row
    * from the per-group sketches — distinct-union semantics, which
    * per-group counts cannot give you by addition.
    */
  def globalEstimate(sketches: DataFrame): DataFrame =
    estimate(sketches.agg(hll_union_agg(col("sketch")).as("sketch"),
      sum(col("n_rows")).as("n_rows")))

  /** Distinct-cardinality ROLLUP cube: one HLL sketch per grouping set —
    * the 100 TB twin of `COUNT(DISTINCT)` under ROLLUP (q172's exact
    * tier). Mergeable sketches compose with Catalyst's Expand for free:
    * the plan is ONE Expand + one map-side-combined aggregate whose
    * shuffle rows are (grouping-set key, KB sketch) — the exact tier
    * instead carries every distinct (dims…, key) combination through
    * the shuffle to dedup it, which at corpus scale is the data itself.
    * Subtotal rows are true distinct-union semantics (HLL registers max
    * across the set), not sums of child counts. At test cardinalities
    * the DataSketches HLL sits in exact coupon mode, so SketchesSpec
    * pins the estimates EQUAL to the exact tier per grouping set.
    */
  def distinctRollup(df: DataFrame, dims: Seq[String], keyCol: String,
      lgK: Int = 12): DataFrame =
    df.rollup(dims.map(col): _*)
      .agg(grouping_id().as("gid"),
        count(lit(1)).as("n_rows"),
        hll_sketch_agg(col(keyCol), lgK).as("sketch"))
      .withColumn("distinct_est",
        hll_sketch_estimate(col("sketch")).cast("long"))

  /** Merge two [[distinctRollup]] tables (yesterday's stored cube + a
    * new batch's own cube): register-wise HLL union per (dims…, gid)
    * cell, n_rows add — the incremental-dashboard maintenance step.
    * Because every grouping-set cell is itself a mergeable sketch, the
    * WHOLE cube updates without rescanning history: cost is the new
    * batch's cube build plus a cells-sized merge, whatever the stored
    * corpus size (the [[updateWith]] law lifted through ROLLUP's
    * Expand). Both inputs must come from the same (dims, lgK)
    * construction — positional gid values are meaningless across
    * different dim lists, exactly like histogram grids.
    */
  def mergeDistinctRollups(a: DataFrame, b: DataFrame, dims: Seq[String])
      : DataFrame = {
    val keys = dims.map(col) :+ col("gid")
    val cols = keys ++ Seq(col("sketch"), col("n_rows"))
    a.select(cols: _*).unionByName(b.select(cols: _*))
      .groupBy(keys: _*)
      .agg(hll_union_agg(col("sketch")).as("sketch"),
        sum(col("n_rows")).as("n_rows"))
      .withColumn("distinct_est",
        hll_sketch_estimate(col("sketch")).cast("long"))
  }

  /** One micro-batch of streaming sketch maintenance: build the batch's
    * own per-group sketches and merge them into the parquet store at
    * `storePath` (read-merge-overwrite; the store is G KB-sized rows,
    * so the rewrite is metadata-cheap at any corpus size) through
    * [[Checkpoints.replaceStore]]. Exposed separately from
    * [[maintainDistinctSketches]] so restart/replay semantics are
    * directly testable.
    */
  def mergeBatchIntoStore(batch: DataFrame, groupCol: String,
      keyCol: String, storePath: String, lgK: Int = 12): Unit = {
    val newSk = distinctSketch(batch, groupCol, keyCol, lgK)
    replaceStore(readStore(batch.sparkSession, storePath)
      .fold(newSk)(mergeSketches(_, newSk, groupCol)), storePath)()
  }

  /** Streaming sketch maintenance — the incremental-monitoring
    * production loop: every micro-batch merges ITS OWN sketches into
    * the store ([[mergeBatchIntoStore]]) under the exactly-once batch
    * ledger ([[graft.io.Sinks.runIdempotent]]), so a checkpoint-replayed
    * batch can't double-count `n_rows` (distinct estimates are
    * naturally idempotent — HLL re-insertion is a register-max no-op —
    * but row counts are not). Start the returned writer with a
    * checkpointLocation; query the store with [[estimate]] at any time.
    */
  def maintainDistinctSketches(stream: DataFrame, groupCol: String,
      keyCol: String, storePath: String, ledgerDir: String,
      lgK: Int = 12): org.apache.spark.sql.streaming.DataStreamWriter[
      org.apache.spark.sql.Row] =
    graft.io.Sinks.idempotentForeachBatch(stream, ledgerDir) { (b, _) =>
      mergeBatchIntoStore(b, groupCol, keyCol, storePath, lgK)
    }

  /** One micro-batch of ROLLUP-cube maintenance: the batch builds ITS
    * OWN cube ([[distinctRollup]]) and merges register-wise into the
    * stored cube ([[mergeDistinctRollups]] — the q180-gated law:
    * merge(batch cubes) == cube(union) even with users overlapping
    * across batches). History is never rescanned: cost is the batch's
    * cube build plus a cells-sized merge, whatever the stored corpus
    * size; the store is rewritten through [[Checkpoints.replaceStore]].
    * Exposed separately from [[maintainDistinctRollup]] so
    * restart/replay semantics are directly testable.
    */
  def mergeRollupIntoStore(batch: DataFrame, dims: Seq[String],
      keyCol: String, storePath: String, lgK: Int = 12): Unit = {
    val newCube = distinctRollup(batch, dims, keyCol, lgK)
    replaceStore(readStore(batch.sparkSession, storePath)
      .fold(newCube)(mergeDistinctRollups(_, newCube, dims)), storePath)()
  }

  /** Streaming ROLLUP-cube maintenance — the live form of the
    * q179/q180 dashboard: every micro-batch merges its own cube into
    * the parquet cube store under the exactly-once batch ledger
    * ([[graft.io.Sinks.runIdempotent]]), so a checkpoint-replayed batch
    * can't double-count `n_rows` (HLL re-insertion is a register-max
    * no-op, but row counts are not idempotent). The store is one
    * KB-sketch row per grouping-set cell — |cells| rows whatever the
    * event volume — and serves `distinct_est` per cell at any time.
    * Start the returned writer with a checkpointLocation.
    */
  def maintainDistinctRollup(stream: DataFrame, dims: Seq[String],
      keyCol: String, storePath: String, ledgerDir: String,
      lgK: Int = 12): org.apache.spark.sql.streaming.DataStreamWriter[
      org.apache.spark.sql.Row] =
    graft.io.Sinks.idempotentForeachBatch(stream, ledgerDir) { (b, _) =>
      mergeRollupIntoStore(b, dims, keyCol, storePath, lgK)
    }

  /** Sliding distinct-UNION over daily sketches: for every observed
    * day, the register-wise union of the trailing `window` days'
    * sketches — the mergeable-sketch operation a COUNT window cannot do
    * by addition (the same user active on 5 of 7 days must count once).
    * Input: one row per day from [[distinctSketch]] grouped by the day
    * column. Each day's KB sketch explodes to its `window` target days
    * (sketch-sized rows ONLY — raw membership never reappears after the
    * daily aggregate), target days prune to observed days, one keyed
    * union-aggregate. At 100 TB the whole computation after the daily
    * build touches |days|·window KB rows.
    */
  def slidingDistinctUnion(daily: DataFrame, dayCol: String, window: Int)
      : DataFrame = {
    require(window > 0, s"window must be positive: $window")
    val contrib = daily.select(
      explode(sequence(col(dayCol), col(dayCol) + (window - 1)))
        .as(dayCol),
      col("sketch"))
    contrib
      .join(daily.select(col(dayCol)).distinct(), Seq(dayCol))
      .groupBy(col(dayCol))
      .agg(hll_union_agg(col("sketch")).as("sketch"))
      .withColumn("window_est",
        hll_sketch_estimate(col("sketch")).cast("long"))
  }

  /** An integer equi-width grid: bucket i covers
    * [lo + i·width, lo + (i+1)·width), width a power of two, lo a
    * width multiple. The power-of-two convention (q141's grid made a
    * type) buys two exactness properties: (a) the double division
    * `(v − lo) / width` is EXACT for any |operand| < 2^53 (dividing by
    * a power of two only changes the exponent), so double-path and
    * integer-path bucketization agree bit for bit in every engine; and
    * (b) two independently discovered grids are refinable — the
    * narrower width divides the wider, and width-aligned los mean the
    * coarser grid's boundaries are a subset of the finer's, so
    * re-bucketing coarser merges exactly.
    */
  final case class Grid(lo: Long, width: Long, nBuckets: Int) {
    require(width > 0 && java.lang.Long.bitCount(width) == 1,
      s"width must be a positive power of two: $width")
    require(nBuckets > 0, s"nBuckets must be positive: $nBuckets")
    require(lo % width == 0, s"lo must be a width multiple: $lo % $width")
    def hi: Long = lo + width * nBuckets
  }

  /** Range-discovery construction pass for a caller who does NOT know
    * the value range (the production gap behind every manual
    * (lo, width, n) grid in the sketch tier): ONE min/max aggregate —
    * a 1-row bounded collect, the perplexityBucketsBySketch
    * construction-metadata discipline — fitted to the smallest
    * power-of-two [[Grid]] with `nBuckets` buckets that covers
    * [min, max] (lo = min aligned DOWN to a width multiple, max
    * strictly below hi). Values are read as BIGINT (the micro-unit
    * convention: scale floats to integer units FIRST, the way every
    * gate signal already does). Deterministic for a given input set,
    * so two engines replay the same grid. Fails loudly on an all-null
    * input and on grids that would overflow 2^53 exactness.
    */
  def discoverGrid(df: DataFrame, valueCol: String, nBuckets: Int)
      : Grid = {
    require(nBuckets > 1, s"need at least 2 buckets: $nBuckets")
    val r = df.agg(min(col(valueCol).cast("long")).as("mn"),
      max(col(valueCol).cast("long")).as("mx")).head()
    require(!r.isNullAt(0),
      s"discoverGrid: no non-null values in '$valueCol'")
    val (mn, mx) = (r.getLong(0), r.getLong(1))
    // ±2^52 keeps every (v − lo) difference and the coverage arithmetic
    // below inside exact-double territory with no Long overflow; real
    // micro/nano-unit signals sit far inside this window
    require(mn >= -(1L << 52) && mx < (1L << 52),
      s"values outside the ±2^52 exactness window: [$mn, $mx]")
    def alignDown(v: Long, w: Long): Long = v - java.lang.Math.floorMod(v, w)
    var width = 1L
    var lo = alignDown(mn, width)
    // covered when max falls strictly below lo + width·nBuckets; each
    // doubling at least doubles coverage, so this terminates
    while (mx - lo >= width * nBuckets) {
      width *= 2L
      lo = alignDown(mn, width)
    }
    require((nBuckets - 1).toLong * width < (1L << 53),
      s"discovered grid overflows double exactness: ($nBuckets-1)*$width")
    Grid(lo, width, nBuckets)
  }

  /** [[histogramSketch]] with the grid discovered rather than supplied:
    * returns the sketch table AND the [[Grid]] so every downstream
    * consumer (quantile estimates, merges, winsorize thresholds)
    * replays the same bucketization — a grid is positional metadata
    * and must travel with its counts.
    */
  def histogramSketchAuto(df: DataFrame, groupCol: String,
      valueCol: String, nBuckets: Int): (DataFrame, Grid) = {
    val g = discoverGrid(df, valueCol, nBuckets)
    (histogramSketch(df, groupCol, valueCol, g.lo.toDouble,
      g.hi.toDouble, g.nBuckets), g)
  }

  /** Mergeable equi-width histogram sketch of `valueCol` over
    * [lo, hi): (groupCol, n, counts Array(nBuckets)). The quantile
    * counterpart of the HLL tier — bucket counts are exact integers, so
    * sketches merge by element-wise ADDITION ([[mergeHistograms]]) and
    * every estimate is engine-reproducible (unlike KLL/t-digest, whose
    * compaction is implementation-defined). Out-of-range values clamp
    * into the edge buckets. Two keyed aggregates, nothing row-shaped
    * survives the first.
    */
  def histogramSketch(df: DataFrame, groupCol: String, valueCol: String,
      lo: Double, hi: Double, nBuckets: Int): DataFrame =
    histogramSketchBy(df, Seq(groupCol), valueCol, lo, hi, nBuckets)

  /** [[histogramSketch]] with a COMPOSITE group key — one histogram per
    * distinct groupCols tuple (e.g. (label, dimension) for per-dimension
    * vector drift). Same two-aggregate shape and null policy.
    */
  def histogramSketchBy(df: DataFrame, groupCols: Seq[String],
      valueCol: String, lo: Double, hi: Double, nBuckets: Int): DataFrame = {
    require(groupCols.nonEmpty, "at least one group column required")
    require(nBuckets > 0, s"nBuckets must be positive: $nBuckets")
    require(hi > lo, s"need hi > lo: [$lo, $hi)")
    val width = (hi - lo) / nBuckets
    val v = col(valueCol).cast("double")
    val b = least(lit(nBuckets - 1), greatest(lit(0),
      floor((v - lo) / width).cast("int")))
    // null/NaN values carry no position — dropped, not clamped (a null
    // bucket key would also break the dense-array rebuild)
    histogramCounts(df.filter(v.isNotNull && !isnan(v)), groupCols, b,
      nBuckets)
  }

  /** The two aggregates behind both bucketizations: per-(group, bucket)
    * counts over the positioned rows `df`, then one row per group with
    * its total `n` and the dense `counts` array over [0, nBuckets).
    */
  private def histogramCounts(df: DataFrame, groupCols: Seq[String],
      bucket: org.apache.spark.sql.Column, nBuckets: Int): DataFrame =
    df.groupBy(groupCols.map(col) :+ bucket.as("bucket"): _*)
      .agg(count(lit(1)).as("cnt"))
      .groupBy(groupCols.map(col): _*)
      .agg(sum(col("cnt")).as("n"),
        map_from_entries(collect_list(struct(col("bucket"), col("cnt"))))
          .as("m"))
      .withColumn("counts", transform(sequence(lit(0), lit(nBuckets - 1)),
        i => coalesce(element_at(col("m"), i), lit(0L))))
      .drop("m")

  /** Equi-width integer bucket index over [lo, lo + nBuckets·width),
    * edge-clamped, in EXACT integer arithmetic: the remainder strip is
    * exact in BIGINT, the clamped numerator is an exact multiple of
    * `width`, and the one double division scales it back to an
    * integer-valued quotient ≤ nBuckets — no float drift for any engine
    * to disagree over. This is THE bucketization for integer-valued
    * signals: any operator that histograms on one side and probes
    * per-row on the other ([[graft.operators.Selection.percentileBySketch]],
    * blendByRankBySketch) must use it on BOTH sides — a double-path
    * histogram against an integer-path probe can disagree by one bucket
    * at extreme magnitudes and join the wrong cumsum row.
    */
  def bucketIdxInt(v: org.apache.spark.sql.Column, lo: Long, width: Long,
      nBuckets: Int): org.apache.spark.sql.Column = {
    require(width >= 1, s"width must be positive: $width")
    require(nBuckets >= 1, s"nBuckets must be positive: $nBuckets")
    // exactness precondition: the clamped multiple m must be exactly
    // representable as a double, or the one double division drifts —
    // fail loudly on a grid that overflows 2^53 rather than returning
    // off-by-one buckets.
    require((nBuckets - 1).toLong * width < (1L << 53),
      s"histogram grid overflows double exactness: ($nBuckets-1)*$width >= 2^53")
    val d = v.cast("long") - lit(lo)
    val m = greatest(least(d - pmod(d, lit(width)),
      lit((nBuckets - 1).toLong * width)), lit(0L))
    floor(m / lit(width.toDouble) + lit(0.5)).cast("long")
  }

  /** [[histogramSketchBy]] on the EXACT-INTEGER bucketization
    * ([[bucketIdxInt]]) instead of the double grid — same
    * two-aggregate shape, same null-drop policy (NaN cannot occur in an
    * integer signal; a null value carries no position). Use this
    * whenever a per-row probe side will re-derive bucket indices with
    * [[bucketIdxInt]], so both sides share ONE bucketization by
    * construction.
    */
  def histogramSketchIntBy(df: DataFrame, groupCols: Seq[String],
      valueCol: String, lo: Long, width: Long, nBuckets: Int): DataFrame = {
    require(groupCols.nonEmpty, "at least one group column required")
    val b = bucketIdxInt(col(valueCol), lo, width, nBuckets).cast("int")
    histogramCounts(df.filter(col(valueCol).isNotNull), groupCols, b,
      nBuckets)
  }

  /** Merge two histogram-sketch tables: counts add element-wise
    * (explode → per-bucket sum → rebuild; sketch-sized rows only).
    * Both sides MUST share the same (lo, hi, nBuckets) bucketization —
    * bucket indices are positional, so mixed grids merge silently
    * wrong, exactly as raw bucket arrays would anywhere else.
    */
  def mergeHistograms(a: DataFrame, b: DataFrame, groupCol: String): DataFrame =
    a.select(col(groupCol), col("counts"))
      .unionByName(b.select(col(groupCol), col("counts")))
      .select(col(groupCol), posexplode(col("counts")).as(Seq("bucket", "cnt")))
      .groupBy(col(groupCol), col("bucket")).agg(sum(col("cnt")).as("cnt"))
      .groupBy(col(groupCol))
      .agg(sum(col("cnt")).as("n"),
        transform(array_sort(collect_list(struct(col("bucket"), col("cnt")))),
          s => s.getField("cnt")).as("counts"))

  /** One micro-batch of histogram-store maintenance: build the batch's
    * own histogram sketches on the FIXED caller grid and merge them into
    * the parquet store by element-wise addition ([[mergeHistograms]]).
    * The grid must be pinned for the store's lifetime — bucket indices
    * are positional, so a per-batch rediscovered grid would merge
    * silently wrong (use [[discoverGrid]] once at store creation, or a
    * domain-known grid). Unlike HLL registers, ADDITION IS NOT
    * IDEMPOTENT: a replayed batch would double every count, which is
    * exactly why the streaming form runs under the batch ledger. The
    * store is rewritten through [[Checkpoints.replaceStore]]. Exposed
    * separately from [[maintainHistograms]] so restart/replay semantics
    * are directly testable.
    */
  def mergeHistogramsIntoStore(batch: DataFrame, groupCol: String,
      valueCol: String, grid: Grid, storePath: String): Unit = {
    val newSk = histogramSketch(batch, groupCol, valueCol,
      grid.lo.toDouble, grid.hi.toDouble, grid.nBuckets)
    replaceStore(readStore(batch.sparkSession, storePath)
      .fold(newSk)(mergeHistograms(_, newSk, groupCol)), storePath)()
  }

  /** Streaming histogram maintenance — the quantile-tier counterpart of
    * [[maintainDistinctSketches]]: every micro-batch merges its own
    * fixed-grid histogram into the parquet store under the exactly-once
    * batch ledger ([[graft.io.Sinks.runIdempotent]]) — mandatory here,
    * since histogram counts ADD and a checkpoint-replayed batch would
    * double-count (HLL's register-max forgiveness does not apply). The
    * store is |groups| rows of nBuckets longs whatever the event volume;
    * serve live quantiles with [[quantilesFromHistogram]] at any time.
    * Start the returned writer with a checkpointLocation.
    */
  def maintainHistograms(stream: DataFrame, groupCol: String,
      valueCol: String, grid: Grid, storePath: String, ledgerDir: String)
      : org.apache.spark.sql.streaming.DataStreamWriter[
      org.apache.spark.sql.Row] =
    graft.io.Sinks.idempotentForeachBatch(stream, ledgerDir) { (b, _) =>
      mergeHistogramsIntoStore(b, groupCol, valueCol, grid, storePath)
    }

  /** Interpolated quantile estimates from a histogram sketch: one row
    * per (group, q) with the textbook law
    * `est = lo + width * (bucket + (t - cumBefore) / cnt)` at rank
    * `t = ceil(q * n)` — integer ranks and counts, one IEEE division,
    * so both engines land on the same double bit pattern. Window runs
    * per (group, q) over nBuckets rows — sketch-sized, never data-sized.
    */
  def quantilesFromHistogram(sk: DataFrame, groupCol: String,
      lo: Double, hi: Double, nBuckets: Int, qs: Seq[Double]): DataFrame = {
    require(qs.nonEmpty && qs.forall(q => q > 0 && q <= 1),
      s"quantiles must be in (0, 1]: $qs")
    val width = (hi - lo) / nBuckets
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col(groupCol), col("q")).orderBy(col("bucket"))
    sk.select(col(groupCol), col("n"),
        posexplode(col("counts")).as(Seq("bucket", "cnt")))
      .filter(col("cnt") > 0)
      .withColumn("q", explode(array(qs.map(lit): _*)))
      .withColumn("cum", sum(col("cnt")).over(w))
      .withColumn("t", ceil(col("q") * col("n")))
      .filter(col("cum") >= col("t") && (col("cum") - col("cnt")) < col("t"))
      .withColumn("est", lit(lo) + lit(width) * (col("bucket") +
        (col("t") - (col("cum") - col("cnt"))).cast("double") /
          col("cnt").cast("double")))
      .select(col(groupCol), col("q"), col("n"), col("est"))
  }
}
