package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Relational operators Spark lacks as first-class API, built by
  * composition (custom-operator ladder tier (a) — no planner changes, so
  * Catalyst still optimizes around them).
  */
object Relational {

  /** As-of join: for each left row, the LATEST right row with
    * `rightTs <= leftTs` on the same key (the time-series / temporal-table
    * lookup; reference analog: Flink temporal joins and the
    * interval-join family, scala/.../demo/orderpaydetect/TxMatch.scala).
    *
    * Shape: NOT a per-row range probe (a range join explodes to
    * O(|L|·|R|/keys) pairs and often plans a broadcast-nested-loop) — the
    * two sides are unioned, sorted per key by time, and the right payload
    * propagates forward with `last(_, ignoreNulls)` over an unbounded
    * preceding window. ONE shuffle on the key, linear work, no pair
    * explosion: the same plan shape at 1 or 1000 executors.
    *
    * Ties: a right row at exactly `leftTs` matches (<=); right rows on
    * identical (key, ts) resolve by the later row in `tieBreak` order.
    * Left rows with no prior right row keep a null `payload`.
    *
    * @param left     probe side
    * @param right    build side (its columns are packed into `payload`)
    * @param keyCols  equality keys
    * @param leftTs / rightTs  event-time columns (same comparable type)
    * @param tieBreak extra ordering columns for deterministic resolution
    *                 of equal timestamps (e.g. an id)
    */
  def asOfJoin(left: DataFrame, right: DataFrame, keyCols: Seq[String],
      leftTs: String, rightTs: String,
      tieBreak: Seq[String] = Nil): DataFrame =
    asOf(left, right, keyCols, leftTs, rightTs, tieBreak,
      col("__ts") +: col("__side") +: tieBreak.map(col))

  /** FORWARD as-of join: for each left row, the EARLIEST right row with
    * `rightTs >= leftTs` on the same key — the other temporal half of
    * [[asOfJoin]] ("next maintenance after the failure",
    * "time-to-next-error after a purchase"). Same single-shuffle
    * union-and-window shape, time-mirrored: ordering DESCENDS, so
    * "latest previous in descending order" IS the earliest following
    * row; right rows sort before left rows at an equal timestamp so a
    * same-instant right row matches (>= semantics). Left rows with no
    * following right row keep a null `asof`.
    */
  def asOfJoinForward(left: DataFrame, right: DataFrame,
      keyCols: Seq[String], leftTs: String, rightTs: String,
      tieBreak: Seq[String] = Nil): DataFrame =
    // DESC time, right-before-left within an instant, tie-break ASC so
    // among equal-ts right rows the LAST in descending scan order (= the
    // first in tieBreak order) wins — mirroring asOfJoin's "later row in
    // tieBreak order" via the reversed traversal
    asOf(left, right, keyCols, leftTs, rightTs, tieBreak,
      col("__ts").desc +: col("__side") +: tieBreak.map(col(_).desc))

  /** The union-and-window body of both as-of directions: each left row
    * takes the last right payload before it in `ordering` (over the
    * tagged `__ts`/`__side` columns and the tie-break) within its key.
    */
  private def asOf(left: DataFrame, right: DataFrame, keyCols: Seq[String],
      leftTs: String, rightTs: String, tieBreak: Seq[String],
      ordering: Seq[Column]): DataFrame = {
    val rightPayload = struct(right.columns.map(col): _*)
    val leftPayload = struct(left.columns.map(col): _*)
    // tie-break columns ride along (must exist on both sides); keys are
    // already projected. BOTH payloads travel through the union, so no
    // join-back is needed afterwards — the whole operator is one shuffle
    // (the window's partitioning) and zero joins.
    val tb = tieBreak.filterNot(keyCols.contains)
    // tag: right rows sort BEFORE left rows at the same timestamp so a
    // same-instant right row is visible to the left row
    val r = right.select(
      keyCols.map(col) ++ tb.map(col) ++
        Seq(col(rightTs).as("__ts"), lit(0).as("__side"),
          rightPayload.as("__payload"),
          lit(null).cast(org.apache.spark.sql.types.StructType(left.schema.fields))
            .as("__lrow")): _*)
    val lTagged = left.select(
      keyCols.map(col) ++ tb.map(col) ++
        Seq(col(leftTs).as("__ts"), lit(1).as("__side"),
          lit(null).cast(org.apache.spark.sql.types.StructType(right.schema.fields))
            .as("__payload"),
          leftPayload.as("__lrow")): _*)
    val w = Window.partitionBy(keyCols.map(col): _*)
      .orderBy(ordering: _*)
      .rowsBetween(Window.unboundedPreceding, 0)
    r.unionByName(lTagged)
      .withColumn("__asof", last(col("__payload"), ignoreNulls = true).over(w))
      .filter(col("__side") === 1)
      .select(col("__lrow.*"), col("__asof").as("asof"))
  }

  /** Range join WITHOUT an equality key: one output row per (left, right)
    * pair with `left.leftTs` in `[right.loCol, right.hiCol]`. Naive Spark
    * plans this as BroadcastNestedLoopJoin / cartesian — O(|L|·|R|)
    * comparisons. Bucketing turns it into an equi-join: time is quantized
    * to `bucketWidth` (seconds for timestamp columns), each right interval
    * explodes to the buckets it covers, each left row carries its single
    * bucket, and the bucket equi-join shuffle-partitions both sides; the
    * exact range predicate filters inside the join. A left row matches an
    * interval in exactly one bucket (its own), so no dedup pass.
    *
    * Pick `bucketWidth` near the typical interval length: per-right-row
    * explode factor is len/bucketWidth + 1 (guard against accidental
    * explosion with `maxBucketsPerRow` — oversized intervals fail fast
    * instead of OOMing an executor).
    *
    * Output: all left columns + the matched right row packed as `r`.
    */
  def rangeJoin(left: DataFrame, right: DataFrame, leftTs: String,
      loCol: String, hiCol: String, bucketWidth: Long,
      maxBucketsPerRow: Int = 1024): DataFrame = {
    require(bucketWidth > 0, "bucketWidth must be positive")
    val rightPayload = struct(right.columns.map(col): _*)
    def bkt(c: Column): Column = floor(c.cast("long") / bucketWidth).cast("long")
    // null bounds / timestamps and INVERTED intervals (lo > hi) never
    // match a BETWEEN (same as the naive cross-filter) — drop them up
    // front instead of feeding null buckets into the explode, tripping
    // the span guard with a misleading error, or letting a negative span
    // bypass the guard and explode a DESCENDING sequence
    val r = right
      .filter(col(loCol).isNotNull && col(hiCol).isNotNull &&
        col(loCol) <= col(hiCol))
      .withColumn("__lo_b", bkt(col(loCol)))
      // the guard sits in the sequence's data path (a detached check
      // column would be pruned away unevaluated)
      .withColumn("__hi_b",
        when(bkt(col(hiCol)) - col("__lo_b") < maxBucketsPerRow, bkt(col(hiCol)))
          .otherwise(raise_error(lit(
            s"rangeJoin: interval spans >= $maxBucketsPerRow buckets — " +
              "raise bucketWidth or split the interval")).cast("long")))
      .select(rightPayload.as("__r"),
        explode(sequence(col("__lo_b"), col("__hi_b"))).as("__bkt"))
    val l = left.filter(col(leftTs).isNotNull)
      .withColumn("__bkt", bkt(col(leftTs)))
    l.join(r, Seq("__bkt"))
      .filter(col(leftTs) >= col("__r").getField(loCol) &&
        col(leftTs) <= col("__r").getField(hiCol))
      .drop("__bkt")
      .withColumnRenamed("__r", "r")
  }

  /** One aggregate of [[Relational.saltedAgg]]: `op` in
    * count|sum|min|max (the decomposable family — salt-invariant by
    * algebra), `input` the source column ("*" for count(*)), `out` the
    * output column name.
    */
  final case class Salted(op: String, input: String, out: String) {
    require(Set("count", "sum", "min", "max")(op), s"non-decomposable op $op")
    private[operators] def phase1: Column = (op match {
      case "count" if input == "*" => count(lit(1))
      case "count" => count(col(input))
      case "sum" => sum(col(input))
      case "min" => min(col(input))
      case "max" => max(col(input))
    }).as(s"__p_$out")
    private[operators] def phase2: Column = (op match {
      case "count" | "sum" => sum(col(s"__p_$out"))
      case "min" => min(col(s"__p_$out"))
      case "max" => max(col(s"__p_$out"))
    }).as(out)
  }

  /** Two-phase salted aggregation — the skew-proof form of
    * `df.groupBy(keys).agg(...)` when one key dominates (reference
    * PageView.scala:48-59,106-109 keyless counting): phase 1 aggregates on
    * (keys, random salt in [0, salts)), spreading a hot key over `salts`
    * reducers; phase 2 re-aggregates the (|keys|·salts)-row partials.
    * The result is salt-invariant, so it equals the unsalted aggregate
    * (which is exactly what the q54 oracle checks for the inline form).
    */
  def saltedAgg(df: DataFrame, keyCols: Seq[String], salts: Int,
      aggs: Seq[Salted], seed: Long = 42L): DataFrame = {
    require(aggs.nonEmpty, "at least one aggregate required")
    val phase1 = df
      .withColumn("__salt", (rand(seed) * salts).cast("int"))
      .groupBy(keyCols.map(col) :+ col("__salt"): _*)
      .agg(aggs.head.phase1, aggs.tail.map(_.phase1): _*)
    phase1.groupBy(keyCols.map(col): _*)
      .agg(aggs.head.phase2, aggs.tail.map(_.phase2): _*)
  }

  /** Skew-salted equi-join (the join-side twin of [[saltedAgg]]): a hot
    * key on the FACT side would funnel into one shuffle task; salting
    * splits each fact row into one of `salts` sub-keys. The salt must
    * vary ACROSS rows sharing the hot key — so hashing the join key is
    * useless (every hot-key row would land on one salt), but a
    * deterministic `pmod(xxhash64(<unique row col>), salts)` spreads
    * fine when the fact side has a stable unique column; `rand(seed)` is
    * the fallback when it doesn't (at the cost of per-task-retry
    * nondeterminism in the ASSIGNMENT — the RESULT is salt-invariant
    * either way). The DIM side is replicated across all
    * `salts` sub-keys (explode of a literal range — dim rows * salts,
    * bounded because the dim side is the small one). The join result is
    * EXACTLY the plain equi-join's — salting redistributes work, never
    * changes pairing — which is what the oracle gate asserts.
    *
    * AQE's skew-join handles sort-merge skew automatically when splits
    * align with partition sizes; explicit salting remains the tool when
    * the skew is one single key inside one partition (AQE cannot split a
    * single key) — the 100 TB "null key / celebrity user" case.
    */
  def saltedJoin(fact: DataFrame, dim: DataFrame, keyCols: Seq[String],
      salts: Int, seed: Long = 42L): DataFrame = {
    require(salts > 0, s"salts must be positive, got $salts")
    require(keyCols.nonEmpty, "at least one join key required")
    val saltedFact = fact.withColumn("__salt", (rand(seed) * salts).cast("int"))
    val explodedDim = dim.select(col("*"),
      explode(sequence(lit(0), lit(salts - 1))).as("__salt"))
    saltedFact.join(explodedDim, keyCols :+ "__salt").drop("__salt")
  }

  /** Bloom-prefiltered equi-join: build a Bloom filter over the DIM
    * side's join keys, drop the FACT rows that cannot match BEFORE they
    * reach the join's shuffle, then run the plain equi-join. The result
    * is EXACTLY the plain join's — the bloom admits false positives
    * (eliminated by the real join) and never false negatives — which is
    * what the oracle gate asserts.
    *
    * Mechanics are PLAN-NATIVE (Spark 3.3+'s own runtime-filter
    * expressions): the dim aggregates through `bloom_filter_agg` into a
    * scalar subquery, and the fact side probes with a
    * `BloomFilterMightContain` predicate over that subquery — the same
    * shape `InjectRuntimeFilter` emits. The filter bytes live in the
    * plan (computed once as a subquery result, codegen'd probe), not in
    * a driver round-trip re-shipped inside every task closure; this is
    * deliberately the engine's zero `udf(` call count.
    *
    * When it pays: the dim side is too big to BROADCAST as rows but its
    * KEY SET fits a bitmap (n keys ≈ n·9.6 bits at 1% fpp: 10M keys ≈
    * 12 MB, 100M ≈ 120 MB — beyond that, prefer [[saltedJoin]]/plain
    * shuffle), and the fact side is join-selective — at 100 TB, every
    * pruned fact row is a row that never enters the exchange. Spark's
    * own runtime bloom injection
    * (spark.sql.optimizer.runtime.bloomFilter.enabled) covers the case
    * where the planner can SEE a selective scan filter on the dim side;
    * this operator is the explicit form for selectivity the planner
    * can't estimate — a dim produced by a prior pipeline stage (dedup
    * survivors, sampled users, flagged documents).
    *
    * Composite keys probe on `xxhash64(keys)` — hash collisions fold
    * into the fpp, and exactness is unaffected since the real join
    * re-checks the raw keys. Because `xxhash64` is DTYPE-sensitive
    * (int 5, long 5 and "5" hash differently) while SQL equi-joins
    * type-coerce, each key column's dtype must MATCH on the two sides —
    * enforced loudly here, since a coerced-but-differently-typed key
    * would bloom-miss rows the join would have matched.
    */
  def bloomPrefilteredJoin(fact: DataFrame, dim: DataFrame,
      keyCols: Seq[String], expectedKeys: Long,
      fpp: Double = 0.01): DataFrame = {
    require(keyCols.nonEmpty, "at least one join key required")
    require(expectedKeys > 0, s"expectedKeys must be positive: $expectedKeys")
    require(0 < fpp && fpp < 1, s"fpp must be in (0,1): $fpp")
    keyCols.foreach { k =>
      val ft = fact.schema(k).dataType
      val dt = dim.schema(k).dataType
      require(ft == dt, s"bloomPrefilteredJoin key '$k' dtype mismatch: " +
        s"fact=$ft dim=$dt — xxhash64 is dtype-sensitive while the " +
        "equi-join coerces, so a mismatch silently drops matching rows; " +
        "cast both sides to one type first")
    }
    def keyHash(df: DataFrame) = xxhash64(keyCols.map(df(_)): _*)
    val spark = fact.sparkSession
    // BloomFilterAggregate clamps its sizing to these session caps AT
    // EXECUTION TIME — a silent clamp would degrade the fpp without
    // telling anyone, and mutating session confs from inside an
    // operator would leak the lift to every other query (the house
    // style is explicitly "no session-conf mutation"). Require instead:
    // the caller raises the conf deliberately or sizes down. Scope: the
    // check runs at CONSTRUCTION; lowering the caps between build and
    // execute re-enables the silent clamp — don't.
    val numBits =
      org.apache.spark.util.sketch.BloomFilter.optimalNumOfBits(
        expectedKeys, fpp)
    Seq("spark.sql.optimizer.runtime.bloomFilter.maxNumItems" -> expectedKeys,
        "spark.sql.optimizer.runtime.bloomFilter.maxNumBits" -> numBits)
      .foreach { case (key, need) =>
        val cap = spark.conf.get(key).toLong
        require(cap >= need,
          s"bloomPrefilteredJoin needs $key >= $need (expectedKeys=" +
            s"$expectedKeys, fpp=$fpp) but the session caps it at $cap — " +
            "BloomFilterAggregate would silently clamp and raise the real " +
            s"fpp; set $key explicitly or lower expectedKeys/raise fpp")
      }
    val probe = org.apache.spark.sql.graftexec.ExprBridge.bloomMightContain(
      dim.select(keyHash(dim).as("__k")), expectedKeys, numBits,
      keyHash(fact))
    fact.filter(probe).join(dim, keyCols)
  }

  /** Per-group winsorized statistics over an integer measure: exact
    * order-statistic thresholds at `pLo`/`pHi` (percentile_disc lower
    * semantics — the value at 1-based rank floor(p*(n-1))+1 in
    * (value, tieCol) order, so ties break deterministically), then every
    * value clamped into [lo, hi] and summed exactly.
    *
    * All arithmetic is integer (rank index via exact multiply/divide on
    * BIGINT, clamp via greatest/least, BIGINT sums) so any engine replays
    * it bit for bit — no percentile interpolation, whose IEEE rounding
    * differs across engines.
    *
    * Scale shape: one shuffle on `keyCol` for the rank window (windows
    * are PARTITIONED — no global sort), the threshold rows collapse to
    * 2 per group and broadcast back onto the grouped rows, then one
    * map-side-partial aggregate. The measure column never leaves its
    * group's partition twice. CAVEAT: the rank window still sorts each
    * GROUP inside one task — with a low-cardinality skewed key (20
    * sources over a 100 TB corpus) that is n/|keys| rows per sort;
    * [[winsorizedStatsBySketch]] is the production tier for that regime
    * (SCALE.md round-12 measures the two head to head).
    *
    * Output: (key, n, lo, hi, sum_raw, sum_winsorized, n_clamped).
    */
  def winsorizedStats(df: DataFrame, keyCol: String, valCol: String,
      tieCol: String, pLoPct: Int, pHiPct: Int): DataFrame = {
    require(0 <= pLoPct && pLoPct <= pHiPct && pHiPct <= 100,
      s"need 0 <= pLo <= pHi <= 100, got $pLoPct/$pHiPct")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col(keyCol)).orderBy(col("__v"), col(tieCol))
    val ranked = df
      .select(col(keyCol), col(valCol).cast("long").as("__v"), col(tieCol))
      .withColumn("__rn", row_number().over(w))
      .withColumn("__n", count(lit(1)).over(
        org.apache.spark.sql.expressions.Window.partitionBy(col(keyCol))))
    // 1-based rank of the percentile_disc-lower order statistic:
    // floor(p/100 * (n-1)) + 1. Column `/` is DOUBLE division even on
    // longs, so take floor explicitly: p*(n-1) <= 100n stays exact in a
    // double far past any group size, and floor of a correctly-rounded
    // quotient with fractional part bounded away from 1 by >= 1/100 is
    // the true integer quotient.
    def idx(pct: Int) =
      floor(lit(pct.toLong) * (col("__n") - 1L) / lit(100.0)).cast("long") + 1L
    val thresholds = ranked
      .filter(col("__rn") === idx(pLoPct) || col("__rn") === idx(pHiPct))
      .groupBy(col(keyCol))
      .agg(min(when(col("__rn") === idx(pLoPct), col("__v"))).as("lo"),
        max(when(col("__rn") === idx(pHiPct), col("__v"))).as("hi"))
    val clamped = ranked.join(broadcast(thresholds), Seq(keyCol))
      .withColumn("__w", greatest(least(col("__v"), col("hi")), col("lo")))
    clamped.groupBy(col(keyCol))
      .agg(count(lit(1)).as("n"),
        min(col("lo")).as("lo"), min(col("hi")).as("hi"),
        sum(col("__v")).as("sum_raw"),
        sum(col("__w")).as("sum_winsorized"),
        sum(when(col("__w") =!= col("__v"), 1L).otherwise(0L)).as("n_clamped"))
  }

  /** The 100 TB form of [[winsorizedStats]]: thresholds from a per-group
    * HISTOGRAM instead of a rank window — [[winsorizedStats]] sorts each
    * group inside one task (row_number over the group), so a skewed
    * low-cardinality key (20 sources over a 100 TB corpus) funnels
    * n/|keys| rows through single-task sorts. Here the group's
    * distribution is reduced map-side to ≤ `nBuckets` bucket counts
    * (one uniform (key, bucket) aggregate), the percentile threshold is
    * the LOWER BOUND of the bucket containing the target rank (computed
    * on the |keys|·nBuckets-row sketch), and the clamp+sum pass is
    * map-only + one final aggregate. No corpus row is ever sorted.
    * Same output schema as the exact form.
    *
    * Bucketization: index = (v − lo) div width, clamped to
    * [0, nBuckets). Pure integer arithmetic — any engine replays it
    * exactly. With `width = 1` and values inside [lo, lo + nBuckets)
    * the thresholds EQUAL the exact form's order statistics
    * (RelationalSpec pins this); wider buckets trade threshold
    * resolution (≤ width) for the bounded sketch.
    */
  def winsorizedStatsBySketch(df: DataFrame, keyCol: String, valCol: String,
      pLoPct: Int, pHiPct: Int, lo: Long, width: Long, nBuckets: Int)
      : DataFrame = {
    require(0 <= pLoPct && pLoPct <= pHiPct && pHiPct <= 100,
      s"need 0 <= pLo <= pHi <= 100, got $pLoPct/$pHiPct")
    require(width > 0 && nBuckets > 1, s"bad sketch grid: $width/$nBuckets")
    val v = col("__v")
    // exact integer bucket index; values outside the grid clamp to the
    // edge buckets (their threshold then reports the edge bound)
    val bkt = greatest(least((v - lit(lo)) - pmod(v - lit(lo), lit(width)),
      lit((nBuckets - 1).toLong * width)), lit(0L)) / lit(width.toDouble)
    val hist = df.select(col(keyCol), col(valCol).cast("long").as("__v"))
      .withColumn("__b", floor(bkt + lit(0.5)).cast("long"))
      .groupBy(col(keyCol), col("__b")).agg(count(lit(1)).as("__c"))
    val wcum = org.apache.spark.sql.expressions.Window
      .partitionBy(col(keyCol)).orderBy(col("__b"))
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)
    val wall = org.apache.spark.sql.expressions.Window.partitionBy(col(keyCol))
    def idx(pct: Int) =
      floor(lit(pct.toLong) * (col("__n") - 1L) / lit(100.0)).cast("long") + 1L
    val thresholds = hist
      .withColumn("__cum", sum(col("__c")).over(wcum))
      .withColumn("__n", sum(col("__c")).over(wall))
      .withColumn("__thr", lit(lo) + col("__b") * width)
      .groupBy(col(keyCol))
      .agg(min(when(col("__cum") >= idx(pLoPct), col("__thr"))).as("lo"),
        min(when(col("__cum") >= idx(pHiPct), col("__thr"))).as("hi"))
    val clamped = df.select(col(keyCol), col(valCol).cast("long").as("__v"))
      .join(broadcast(thresholds), Seq(keyCol))
      .withColumn("__w", greatest(least(col("__v"), col("hi")), col("lo")))
    clamped.groupBy(col(keyCol))
      .agg(count(lit(1)).as("n"),
        min(col("lo")).as("lo"), min(col("hi")).as("hi"),
        sum(col("__v")).as("sum_raw"),
        sum(col("__w")).as("sum_winsorized"),
        sum(when(col("__w") =!= col("__v"), 1L).otherwise(0L)).as("n_clamped"))
  }

  /** [[winsorizedStatsBySketch]] with the grid DISCOVERED instead of
    * supplied ([[Sketches.discoverGrid]]'s one min/max pass) — the
    * production entry point for a corpus whose value range nobody
    * knows up front. Costs one extra bounded-aggregate scan at
    * construction; the returned plan is unchanged. With a span ≤
    * nBuckets the discovered width is 1 and the thresholds EQUAL the
    * exact form's order statistics (the manual-grid guarantee, now
    * automatic — RelationalSpec pins both).
    */
  def winsorizedStatsBySketchAuto(df: DataFrame, keyCol: String,
      valCol: String, pLoPct: Int, pHiPct: Int, nBuckets: Int): DataFrame = {
    val g = Sketches.discoverGrid(df, valCol, nBuckets)
    winsorizedStatsBySketch(df, keyCol, valCol, pLoPct, pHiPct,
      g.lo, g.width, g.nBuckets)
  }

  /** Join-skew diagnostics over a key column — the report to run
    * BEFORE a big join to decide whether (and how hard) to salt
    * ([[saltedJoin]]/[[saltedAgg]] are the remedies): the top-k
    * hottest keys with their exact integer share of all rows
    * (`share_micro` = n·1e6 div total) and skew factor vs a uniform
    * key (`skew_micro` = n·|keys|·1e6 div total — 1e6 means perfectly
    * uniform; the salt factor to consider is ≈ skew_micro/1e6). One
    * map-side-combined count aggregate over the data; the totals are
    * a 1-row broadcast; the rank window runs over the k retained rows
    * only (the bounded-table window pattern — Quality/Packing
    * precedent). `skew_micro`'s product runs in DECIMAL(38,0) so
    * n·|keys|·1e6 cannot overflow at any real scale; the result fits
    * BIGINT because skew ≤ |keys|·1e6.
    */
  /** Pre-join fanout report — the row-EXPLOSION guard to run before a
    * non-unique-key join (the [[skewReport]] sibling for pairs): per
    * join key, the output contribution is cnt_left·cnt_right, so the
    * report ranks the top-k contributing keys with exact pair counts
    * and micro-unit shares of the total output size. Products and the
    * total ride DECIMAL(38,0) (pair counts overflow BIGINT at corpus
    * key cardinalities — 1e12·1e12 = 1e24); the emitted `pairs` column
    * stays decimal for the same reason. One count aggregate per side,
    * a key-join of two |keys|-row count tables, a 1-row totals
    * broadcast, and a rank window over the k retained rows.
    *
    * Reading it: `total_pairs` >> max(|L|, |R|) means the join
    * multiplies; a top key holding most of `share_micro` means
    * [[saltedJoin]] (or dropping/bucketing that key) before the join.
    */
  def joinFanoutReport(left: DataFrame, right: DataFrame,
      leftKey: String, rightKey: String, k: Int): DataFrame = {
    require(k > 0, s"k must be positive: $k")
    def dec(c: Column) =
      c.cast(org.apache.spark.sql.types.DecimalType(38, 0))
    val ca = left.groupBy(col(leftKey).cast("string").as("key"))
      .agg(count(lit(1)).as("cnt_left"))
    val cb = right.groupBy(col(rightKey).cast("string").as("key"))
      .agg(count(lit(1)).as("cnt_right"))
    val prod = ca.join(cb, Seq("key"))
      .withColumn("pairs", dec(col("cnt_left")) * dec(col("cnt_right")))
    val totals = prod.agg(sum(col("pairs")).as("total_pairs"))
    val top = prod.orderBy(col("pairs").desc, col("key")).limit(k)
    val shareNum = col("pairs") * dec(lit(1000000L))
    top.crossJoin(broadcast(totals))
      .withColumn("rank", row_number().over(
        org.apache.spark.sql.expressions.Window
          .orderBy(col("pairs").desc, col("key"))))
      .select(col("rank"), col("key"), col("cnt_left"), col("cnt_right"),
        col("pairs"), col("total_pairs"),
        // remainder-strip BEFORE dividing (the skewReport discipline):
        // decimal division rounds at scale 6, only safe on an exact
        // quotient
        ((shareNum - pmod(shareNum, col("total_pairs"))) /
          col("total_pairs")).cast("long").as("share_micro"))
      .orderBy(col("rank"))
  }

  def skewReport(df: DataFrame, keyCol: String, k: Int): DataFrame = {
    require(k > 0, s"k must be positive: $k")
    val counts = df.groupBy(col(keyCol).cast("string").as("key"))
      .agg(count(lit(1)).as("n"))
    val totals = counts.agg(sum(col("n")).as("total"),
      count(lit(1)).as("nkeys"))
    val top = counts.orderBy(col("n").desc, col("key")).limit(k)
    def dec(c: Column) =
      c.cast(org.apache.spark.sql.types.DecimalType(38, 0))
    val shareNum = col("n") * 1000000L
    val skewNum = dec(col("n")) * dec(col("nkeys")) * dec(lit(1000000L))
    top.crossJoin(broadcast(totals))
      .withColumn("rank", row_number().over(
        org.apache.spark.sql.expressions.Window
          .orderBy(col("n").desc, col("key"))))
      .select(col("rank"), col("key"), col("n"),
        Num.longFloorDiv(shareNum, col("total")).as("share_micro"),
        // remainder-strip BEFORE dividing: decimal division rounds at
        // scale 6, which is only safe when the quotient is exact
        ((skewNum - pmod(skewNum, dec(col("total")))) / dec(col("total")))
          .cast("long").as("skew_micro"))
      .orderBy(col("rank"))
  }
}
