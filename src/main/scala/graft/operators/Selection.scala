package graft.operators

import graft.functions.TextFunctions.{tokenCount, tokens}
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Data selection for LM training sets — the "which raw documents deserve
  * training compute" half of a curation pipeline, complementing the hard
  * filters (Quality/Repetition/Classifier):
  *
  *  - [[dsirTable]] / [[scoreWith]]: DSIR (Data Selection via Importance
  *    Resampling, Xie et al. 2023). Importance log-weights over HASHED
  *    n-gram features: lw(d) = Σ_feats ln p_target(b) − ln p_raw(b),
  *    estimated with Laplace smoothing on a `buckets`-sized hashed
  *    feature space (unigrams + adjacent bigrams, the paper's
  *    configuration). Selection = weighted sampling without replacement
  *    on exp(lw) — compose with `Sampling.weightedSamplePerGroup`.
  *  - [[perplexityBuckets]]: CCNet's head/middle/tail split (Wenzek et
  *    al. 2019) — per-language quantile buckets of an LM fluency score,
  *    here the bigram-LM avg logprob from `Quality.bigramLogprob`.
  *
  * At 100 TB: both feature distributions are ONE aggregation each whose
  * output is ≤ `buckets` rows (map-side partial — tasks emit at most
  * `buckets` rows regardless of input size); the λ table is collected to
  * the driver (bounded metadata, the Classifier-weights/codebook
  * discipline) and scoring is a pure MAP pass over a broadcast literal
  * array — the corpus is never re-keyed, joined, or collected.
  * Determinism: each ln is taken once per bucket on exact integer counts
  * and quantized to 1e-6 units (the q87/q134 vocabulary-level ln-replay
  * discipline); per-document sums are exact BIGINT.
  */
object Selection {

  /** Hashed feature occurrences of a document: every unigram and every
    * adjacent bigram, each mapped to a md5-prefix bucket (the house
    * cross-engine hash — see `Classifier.tokenBucket`). Map-only.
    */
  def featureArr(text: Column, buckets: Int): Column = {
    val toks = tokens(text)
    val bigrams = when(size(toks) >= 2,
      transform(sequence(lit(0), size(toks) - 2),
        i => concat_ws(" ", element_at(toks, i + 1), element_at(toks, i + 2))))
      .otherwise(array().cast("array<string>"))
    transform(concat(toks, bigrams), t => Classifier.tokenBucket(t, buckets))
  }

  /** [[Respread]]: the feature passes here are where ALL of DSIR's cost
    * lives; on one split they run as one task.
    */
  private def respread(df: DataFrame): DataFrame = Respread(df)

  /** Per-bucket occurrence counts over a corpus — ONE aggregation whose
    * result is ≤ `buckets` rows (map-side combine caps task output).
    */
  def featureDist(df: DataFrame, textCol: String, buckets: Int): DataFrame =
    respread(df)
      .select(explode(featureArr(col(textCol), buckets)).as("bucket"))
      .groupBy(col("bucket"))
      .agg(count(lit(1)).as("cnt"))

  /** ln(x) in integer micro-units, `floor(ln(x)·1e6 + 0.5)` as BIGINT,
    * for a DOUBLE `x` — graft's one quantized log: every ln that feeds an
    * exact integer sum (DSIR weights, the LM family, token entropy, PMI)
    * goes through it, so the oracles replay one rounding.
    */
  private[operators] def qln(x: Column): Column =
    floor(log(x) * 1e6 + 0.5).cast("long")

  /** [[qln]] of `num / den` on the driver. */
  private def qlnD(num: Long, den: Long): Long =
    math.floor(math.log(num.toDouble / den.toDouble) * 1e6 + 0.5).toLong

  /** `(bucket, n_raw, n_target, lw_micro)` from per-bucket counts —
    * the shared tail of [[dsirTable]] / [[dsirTableLabeled]].
    */
  private def lwTable(j: DataFrame, buckets: Int): DataFrame = {
    val b = lit(buckets.toLong)
    val tot = j.agg(sum(col("n_raw")).as("rt"), sum(col("n_target")).as("tt"))
    j.crossJoin(broadcast(tot))
      .select(col("bucket"), col("n_raw"), col("n_target"),
        (qln((col("n_target") + 1L).cast("double") / (col("tt") + b).cast("double")) -
          qln((col("n_raw") + 1L).cast("double") / (col("rt") + b).cast("double")))
          .as("lw_micro"))
  }

  /** The DSIR importance table: per feature bucket, raw/target counts and
    * the quantized log-ratio
    * `lw_micro = Q(ln((n_target+1)/(T+B))) − Q(ln((n_raw+1)/(R+B)))`
    * (Laplace-smoothed over the B-dim hashed space; Q = 1e-6 floor-round
    * quantization per DISTINCT bucket). `raw` is the corpus to be scored,
    * `target` the distribution to move toward (e.g. curated reference
    * text). Two bounded aggregations + a `buckets`-sized join — no
    * corpus-sized shuffle anywhere.
    */
  def dsirTable(raw: DataFrame, target: DataFrame, textCol: String,
      buckets: Int): DataFrame = {
    val b = lit(buckets.toLong)
    val rd = featureDist(raw, textCol, buckets).withColumnRenamed("cnt", "n_raw")
    val td = featureDist(target, textCol, buckets).withColumnRenamed("cnt", "n_target")
    val j = rd.join(td, Seq("bucket"), "full_outer")
      .na.fill(0L, Seq("n_raw", "n_target"))
    lwTable(j, buckets)
  }

  /** Same-corpus importance table: target = rows where `targetCol` holds,
    * raw = every row. Fuses both feature distributions into ONE scan
    * (conditional count), halving the hash work of the two-frame
    * [[dsirTable]] for the labeled-subset case — identical output by
    * construction (target ⊆ raw, so the full-outer join degenerates).
    */
  def dsirTableLabeled(df: DataFrame, textCol: String, targetCol: String,
      buckets: Int): DataFrame = {
    val j = respread(df).select(col(targetCol).as("__t"),
        explode(featureArr(col(textCol), buckets)).as("bucket"))
      .groupBy(col("bucket"))
      .agg(count(lit(1)).as("n_raw"),
        count_if(col("__t")).as("n_target"))
    lwTable(j, buckets)
  }

  /** Score a corpus against a precomputed importance table: collects the
    * `buckets`-bounded λ column to a plan literal and scores in ONE
    * map-only pass (`aggregate` over the feature array). Output:
    * (id, n_feats, lw_micro, avg_lw) with lw_micro an exact BIGINT sum.
    *
    * The hashed feature array is referenced EXACTLY once (inside the
    * aggregate): n_feats is derived arithmetically from the token count
    * — |unigrams| + |bigrams| = 2·|toks| − 1 (split never returns an
    * empty array) — because CollapseProject inlines a multiply-
    * referenced array expression into every consumer, and the md5
    * hashing pass is the whole cost of this operator (a duplicate
    * reference measurably doubled the scoring wall time).
    */
  def scoreWith(df: DataFrame, idCol: String, textCol: String,
      table: DataFrame, buckets: Int): DataFrame = {
    val rows = table.select(col("bucket").cast("int"),
        col("lw_micro").cast("long"), col("n_raw").cast("long"),
        col("n_target").cast("long"))
      .collect()
    // Buckets ABSENT from the table default to the Laplace-smoothed
    // unseen-bucket weight qln(1, tt+B) − qln(1, rt+B) — exactly what
    // lwTable would emit for a (0, 0) count row — not 0: scoring a
    // held-out corpus hits buckets the table never saw, and a 0 default
    // would bias them toward "neutral" instead of the paper's smoothing.
    // Same-corpus scoring (dsirScores) never hits the default (every
    // scored bucket occurs in raw by construction). rt/tt are recovered
    // exactly from the table itself: absent buckets hold zero counts.
    val rt = rows.map(_.getLong(2)).sum
    val tt = rows.map(_.getLong(3)).sum
    val b = buckets.toLong
    val unseen = qlnD(1L, tt + b) - qlnD(1L, rt + b)
    val lam = Array.fill(buckets)(unseen)
    rows.foreach(r => lam(r.getInt(0)) = r.getLong(1))
    val lamLit = typedLit(lam.toSeq)
    val nf = (tokenCount(col(textCol)) * 2 - 1).cast("long")
    respread(df)
      .select(col(idCol), nf.as("n_feats"),
        aggregate(featureArr(col(textCol), buckets), lit(0L),
          (acc, fb) => acc + element_at(lamLit, fb.cast("int") + 1)).as("lw_micro"))
      .withColumn("avg_lw",
        when(col("n_feats") > 0,
          col("lw_micro").cast("double") / col("n_feats").cast("double") / 1e6))
  }

  /** DSIR end to end over one corpus: target = rows where `targetCol`
    * (boolean) holds, raw = the whole frame. The corpus is scanned twice
    * (one fused distribution agg + the scoring map) on purpose — the
    * alternative, persisting an exploded feature table, materializes
    * a larger-than-corpus intermediate (the `unigramLogprob` trade-off).
    */
  def dsirScores(df: DataFrame, idCol: String, textCol: String,
      targetCol: String, buckets: Int): DataFrame =
    scoreWith(df, idCol, textCol,
      dsirTableLabeled(df, textCol, targetCol, buckets), buckets)

  /** CCNet head/middle/tail: split each language's documents into
    * `nBuckets` equal-count fluency tiers (1 = most fluent). `scored`
    * must carry (idCol, langCol, nCol, lpMicroCol) — e.g. the output of
    * `Quality.bigramLogprob` joined back onto the language column.
    *
    * Ordering is exact: the rank key is `avg_nano = round(lp_micro ·
    * 1e3 / n)` — the integer product stays under 2^53 so the double is
    * exact, the division is one correctly-rounded IEEE op, and ties
    * break on document id. One window shuffle, partitioned BY LANGUAGE —
    * at 100 TB per-language partitions are corpus-scale, so the exact
    * NTILE here is the small-corpus form; the scale path is
    * `Sketches.histogramQuantiles` thresholds (approximate, one pass)
    * applied as a row-local filter, which this operator's output
    * validates at test scale.
    */
  def perplexityBuckets(scored: DataFrame, idCol: String, langCol: String,
      nCol: String, lpMicroCol: String, nBuckets: Int = 3): DataFrame = {
    val avgNano = floor(col(lpMicroCol).cast("double") * 1e3 /
      col(nCol).cast("double") + 0.5).cast("long")
    scored.withColumn("avg_nano", avgNano)
      .withColumn("bucket", ntile(nBuckets).over(
        Window.partitionBy(col(langCol))
          .orderBy(col("avg_nano").desc, col(idCol))))
  }

  /** The integer rank key shared by both tercile forms: nano-scaled avg
    * logprob per token, exact (product < 2^53, one IEEE division).
    */
  private def avgNanoCol(nCol: String, lpMicroCol: String): Column =
    floor(col(lpMicroCol).cast("double") * 1e3 /
      col(nCol).cast("double") + 0.5).cast("long")

  /** The 100 TB form of [[perplexityBuckets]]: equal-count fluency tiers
    * from HISTOGRAM-SKETCH thresholds instead of an exact per-language
    * NTILE — no per-language sort anywhere, so a skewed low-cardinality
    * language key cannot funnel a corpus-scale partition through one
    * task.
    *
    * Shape: one eager histogram pass at CONSTRUCTION (a (lang, bucket)
    * keyed agg — the `Sketches.histogramSketch` bucketization kept
    * SPARSE — whose task output is capped at |langs|·nHist rows by
    * map-side combine, plus a sketch-sized threshold window), whose
    * |langs|-row threshold table is collected to the driver — bounded
    * planning metadata, the λ-table/centroid discipline — and embedded in
    * the returned plan as a LITERAL map, so tier assignment is a pure
    * row-local expression. The corpus is never sorted, re-keyed, or
    * joined. (The returned plan re-derives `scored` once more; in
    * production `scored` is a materialized score table, making this one
    * agg pass + one map pass total — the q123 construction-job
    * precedent.)
    *
    * Semantics vs the exact form: boundary rank i sits at
    * t_i = ceil(i·n/nBuckets) in fluency-DESC order; the threshold is the
    * histogram bucket CONTAINING that rank, and the whole bucket goes to
    * the upper tier — so assignments can differ from NTILE only for rows
    * inside a threshold bucket (and for NTILE's id-order tie splits,
    * which a value-based rule cannot express). With every distinct
    * avg_nano in its own histogram bucket and tier sizes exact, the two
    * forms agree row for row ([[SelectionSpec]] pins both the exact-grid
    * equality and the boundary-only divergence). Rows whose language has
    * no threshold row (possible only for a language absent from the
    * sketch) are dropped, matching the exact form's grouping of known
    * languages.
    *
    * Determinism: pick (lo, hi, nHist) so the bucket width is a power of
    * two (the q141 gate uses [-2^33, 0) / 16384 → width 2^19 nano):
    * avg_nano−lo is then exact in a double and the divide is exact
    * scaling, so both engines compute identical bucket indices with no
    * float drift.
    */
  def perplexityBucketsBySketch(scored: DataFrame, idCol: String,
      langCol: String, nCol: String, lpMicroCol: String,
      lo: Double, hi: Double, nHist: Int, nBuckets: Int = 3): DataFrame = {
    require(nBuckets >= 2, s"need at least 2 tiers: $nBuckets")
    val width = (hi - lo) / nHist
    val base = scored.withColumn("avg_nano", avgNanoCol(nCol, lpMicroCol))
    val hb = least(lit(nHist - 1), greatest(lit(0),
      floor((col("avg_nano") - lo) / width).cast("int")))
    // The SPARSE per-(lang, bucket) counts — same mergeable equi-width
    // integer histogram as Sketches.histogramSketch, minus the dense
    // array rebuild: that rebuild probes a ≤nHist-entry MAP nHist times
    // per group (Spark map lookup is a linear scan → O(nHist²) probes —
    // 12x the exact NTILE's wall time at nHist = 16384 before this), and
    // the threshold derivation re-sparsifies it anyway.
    val sk = base
      .filter(col("avg_nano").isNotNull) // histogramSketch's null-drop rule
      .groupBy(col(langCol), hb.as("bucket"))
      .agg(count(lit(1)).as("cnt"))
    val nPer = sk.groupBy(col(langCol)).agg(sum(col("cnt")).as("n"))
    // boundary i (1..nBuckets-1) lives in the DESC-order bucket containing
    // rank t_i = ceil(i·n/nBuckets); cum windows run over sketch-sized
    // rows only. floor((i·n + nB−1)/nB): i·n < 2^53 so the double floor-div
    // is exact for any real tier count.
    val nB = lit(nBuckets.toDouble)
    val w = Window.partitionBy(col(langCol), col("i"))
      .orderBy(col("bucket").desc)
    val thr: Map[String, Seq[Int]] = sk
      .join(nPer, Seq(langCol))
      .select(col(langCol).cast("string"), col("n"), col("bucket"), col("cnt"))
      .withColumn("i", explode(array((1 until nBuckets).map(lit): _*)))
      .withColumn("cum", sum(col("cnt")).over(w))
      .withColumn("t", floor((col("i") * col("n") + lit(nBuckets - 1)) / nB))
      .filter(col("cum") >= col("t") && (col("cum") - col("cnt")) < col("t"))
      .groupBy(col(langCol))
      .agg(transform(array_sort(collect_list(struct(col("i"), col("bucket")))),
        s => s.getField("bucket")).as("__thr"))
      .collect().map(r => r.getString(0) -> r.getSeq[Int](1)).toMap
    // tier = 1 + number of boundaries this row's bucket falls below —
    // row-local against the literal threshold map (|langs| entries)
    val thrLit = map(thr.toSeq.sortBy(_._1).flatMap { case (l, bs) =>
      Seq(lit(l), typedLit(bs)) }: _*)
    val thrArr = element_at(thrLit, col(langCol).cast("string"))
    base.withColumn("__thr", thrArr)
      .filter(col("__thr").isNotNull)
      .withColumn("bucket", lit(1) + aggregate(col("__thr"), lit(0),
        (acc, b) => acc + when(hb < b, 1).otherwise(0)))
      .drop("__thr")
  }

  /** Rank-normalized blend of two quality signals into one curation
    * score — the standard trick for combining signals on incompatible
    * scales (an LM logprob and a length prior, a classifier logit and
    * a PageRank) without z-scores: within each `partCol` group, each
    * signal becomes its exact percentile rank in integer MICRO-UNITS
    * ((rank−1)·1e6 div (n−1), higher-is-better ties broken by id), and
    * the blend is `wA·pctA + wB·pctB` — pure BIGINT arithmetic any
    * engine replays exactly. Emits the per-group top `k` by blended
    * score (ties by id).
    *
    * Scale shape: two rank windows + the count, all partitioned by the
    * SAME `partCol` key — one shuffle total, windows never global —
    * then a per-group top-k window over already-scored rows. Signals
    * ride the same row; nothing joins. CAVEAT: like
    * [[Relational.winsorizedStats]], each group sorts inside one task;
    * when `partCol` is low-cardinality over a full corpus, derive the
    * percentiles from histogram-bucket cumsums instead (the
    * [[perplexityBucketsBySketch]] machinery — rank→pct via bucket
    * thresholds) and keep this exact form as the semantics reference.
    */
  def blendByRank(df: DataFrame, idCol: String, partCol: String,
      aCol: String, bCol: String, k: Int, wA: Long = 1L, wB: Long = 1L)
      : DataFrame = {
    require(k > 0, s"k must be positive: $k")
    require(wA >= 0 && wB >= 0, s"weights must be non-negative: $wA/$wB")
    def pct(c: String) = {
      val r = row_number().over(Window.partitionBy(col(partCol))
        .orderBy(col(c).asc, col(idCol)))
      val n = count(lit(1)).over(Window.partitionBy(col(partCol)))
      when(n === 1L, lit(1000000L))
        .otherwise(longFloorDiv((r.cast("long") - 1L) * 1000000L, n - 1L))
    }
    df.withColumn("pct_a", pct(aCol))
      .withColumn("pct_b", pct(bCol))
      .withColumn("blend_u", lit(wA) * col("pct_a") + lit(wB) * col("pct_b"))
      .withColumn("rk", row_number().over(Window.partitionBy(col(partCol))
        .orderBy(col("blend_u").desc, col(idCol))))
      .filter(col("rk") <= k)
  }

  /** Per-row percentile normalization WITHOUT a rank window — the
    * reusable surface of the [[blendByRankBySketch]] machinery: each
    * row's `valCol` maps to `pct_micro = cum(≤ v)·1e6 div n` within its
    * `partCol` group, where cum comes from a histogram-bucket cumsum
    * instead of sorting corpus rows. On a UNIT-width grid the result is
    * EXACTLY the cumulative-count percentile (bucket ≡ value); on a
    * coarser grid it is the bucket-resolution approximation (values
    * outside [lo, lo+width·nBuckets) clamp into the edge buckets, so
    * edge percentiles coarsen first).
    *
    * Scale shape: one partial-aggregated histogram pass, a cumsum
    * window over |parts|·nBuckets SKETCH rows, and a broadcast join
    * back onto the corpus — no per-group sort ever sees corpus-sized
    * rows, which is what makes percentile normalization of a
    * low-cardinality-keyed 100 TB corpus feasible (the
    * [[blendByRank]] CAVEAT made a public operator).
    *
    * Rows with a null/NaN `valCol` carry no rank position and are
    * DROPPED from the output (they also never entered the histogram):
    * enforced by filtering ONCE, ahead of both the histogram build and
    * the probe, so the two sides see byte-identical inputs.
    */
  def percentileBySketch(df: DataFrame, partCol: String, valCol: String,
      lo: Long, width: Long, nBuckets: Int): DataFrame = {
    val clean = df.filter(col(valCol).isNotNull &&
      !isnan(col(valCol).cast("double")))
    // histogram AND probe share ONE exact-integer bucketization
    // (Sketches.bucketIdxInt) — a double-path histogram against an
    // integer-path probe could land boundary values at extreme
    // magnitudes in adjacent buckets and join the wrong cumsum row
    val sk = Sketches.histogramSketchIntBy(clean, Seq(partCol), valCol,
      lo, width, nBuckets)
    val wB = Window.partitionBy(col(partCol)).orderBy(col("__b"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val cum = sk.select(col(partCol), col("n").as("__n"),
        posexplode(col("counts")).as(Seq("__b", "__c")))
      .withColumn("__cum", sum(col("__c")).over(wB))
      .select(col(partCol), col("__b"), col("__n"), col("__cum"))
    clean.withColumn("__b",
        Sketches.bucketIdxInt(col(valCol), lo, width, nBuckets).cast("int"))
      .join(broadcast(cum), Seq(partCol, "__b"))
      .withColumn("pct_micro",
        longFloorDiv(col("__cum") * 1000000L, col("__n")))
      .drop("__b", "__n", "__cum")
  }

  /** [[percentileBySketch]] with the grid discovered
    * ([[Sketches.discoverGrid]]): returns the normalized frame AND the
    * grid, since the grid decides the resolution every re-use must
    * share. A range ≤ nBuckets discovers a UNIT grid, making the result
    * exact (the q196 gate's regime).
    */
  def percentileBySketchAuto(df: DataFrame, partCol: String,
      valCol: String, nBuckets: Int): (DataFrame, Sketches.Grid) = {
    val g = Sketches.discoverGrid(df, valCol, nBuckets)
    (percentileBySketch(df, partCol, valCol, g.lo, g.width, g.nBuckets), g)
  }

  /** See [[Num.longFloorDiv]] — the shared exact-BIGINT floor division. */
  private def longFloorDiv(a: Column, b: Column): Column =
    Num.longFloorDiv(a, b)

  /** The shared exact-integer bucketization — ONE implementation
    * ([[Sketches.bucketIdxInt]]) for every histogram-build and per-row
    * probe in this file, so the two sides of any sketch join cannot
    * disagree on a bucket boundary.
    */
  private def bucketIdx(v: Column, lo: Long, width: Long, nBuckets: Int)
      : Column = Sketches.bucketIdxInt(v, lo, width, nBuckets)

  /** The 100 TB form of [[blendByRank]]: per-signal percentiles from
    * HISTOGRAM cumsums and the top-k from a THRESHOLDED candidate band —
    * no per-group sort ever sees corpus-sized rows, so a low-cardinality
    * `partCol` (a language over a 100 TB corpus) cannot funnel a
    * partition-sized sort through one task the way the exact form's two
    * rank windows do.
    *
    * Shape, start to finish (two corpus scans total, zero corpus sorts):
    *   1. BOTH signals' histograms in ONE (part, signal, bucket)-keyed
    *      aggregate (map-side combine caps task output at
    *      |parts|·(nHistA+nHistB) rows), then the ASC-cumsum percentile
    *      on the SKETCH rows only:
    *      `pct = (minRankInBucket − 1)·1e6 div (n − 1)` — the exact
    *      form's rank→micro-unit law applied to the bucket's first rank.
    *      The percentile table is pinned (bounded, sketch-sized —
    *      the Retrieval.buildIndex discipline) and BROADCASTS back onto
    *      the corpus as two map-side hash joins; rows join by their own
    *      bucket index, so percentile assignment is row-local. (A
    *      broadcast join, not a plan-literal map: at nHist = 16384 a
    *      literal lookup is exactly the O(nHist²) dense-map probe that
    *      measured 12× slower in [[perplexityBucketsBySketch]]'s history,
    *      and the join carries the same zero-shuffle guarantee.)
    *   2. Blend = wA·pct_a + wB·pct_b, row-local BIGINT.
    *   3. Top-k via a bounded candidate band: one more histogram over
    *      blend_u (corpus scan #1, at construction), DESC-cumsum on
    *      sketch rows finds the bucket holding the k-th largest blend
    *      per part, and only rows at-or-above that bucket's lower bound
    *      (≤ k + one bucket's population per part) enter the final rank
    *      window (corpus scan #2, the returned plan) — the window sorts
    *      a BAND, not the corpus. Parts with < k rows keep everything
    *      (threshold 0).
    *
    * Semantics vs [[blendByRank]]: rows in the same histogram bucket
    * share the bucket's min-rank percentile, so assignments differ from
    * the exact form only for (a) value ties — which a value-based rule
    * cannot split by id — and (b) rows sharing a bucket with a different
    * value (bucket wider than 1 value). On a unit-width grid with
    * tie-free signals the two forms agree row for row (SelectionSpec
    * pins both that equality and the tie divergence). Null signal values
    * are dropped (the histogramSketch null-drop rule); the exact form
    * sorts them first instead.
    *
    * All arithmetic is integer (bucket indices, rank cumsums, the
    * micro-unit divisions) — any engine replays it bit for bit, which is
    * what lets the q169 gate oracle recompute this end to end in SQL.
    */
  def blendByRankBySketch(df: DataFrame, idCol: String, partCol: String,
      aCol: String, bCol: String, k: Int,
      loA: Long, widthA: Long, nHistA: Int,
      loB: Long, widthB: Long, nHistB: Int,
      blendWidth: Long, wA: Long = 1L, wB: Long = 1L): DataFrame = {
    require(k > 0, s"k must be positive: $k")
    require(wA >= 0 && wB >= 0, s"weights must be non-negative: $wA/$wB")
    require(widthA > 0 && nHistA > 1 && widthB > 0 && nHistB > 1,
      s"bad sketch grids: $widthA/$nHistA, $widthB/$nHistB")
    require(blendWidth > 0, s"bad blend grid: $blendWidth")
    // NULL-part rows are dropped EXPLICITLY here (the histogramSketch
    // null-drop rule extended to the partition key): the scored
    // equi-joins below would silently drop them anyway (null keys never
    // match), and a null key would NPE the threshold-map sort — the
    // exact form instead keeps nulls as their own rank partition, a
    // documented delta SelectionSpec pins.
    val base = df.select(col(idCol), col(partCol),
        bucketIdx(col(aCol), loA, widthA, nHistA).as("__ba"),
        bucketIdx(col(bCol), loB, widthB, nHistB).as("__bb"))
      .filter(col(partCol).isNotNull &&
        col("__ba").isNotNull && col("__bb").isNotNull)
    // BOTH signals' histograms in ONE corpus pass: explode each row to
    // (signal, bucket) and let the map-side combine cap the shuffle at
    // |parts|·(nHistA + nHistB) rows, then the min-rank percentile law
    // over sketch rows only. The pct table is pinned — BOUNDED
    // materialization (sketch-sized, the Retrieval.buildIndex
    // discipline) — so the threshold job below and the returned plan
    // both read the KB-scale checkpoint instead of re-scanning the
    // corpus once per consumer (measured 3× the exact form's wall time
    // on the lazy self-referencing plan before this).
    val wCum = Window.partitionBy(col(partCol), col("__s"))
      .orderBy(col("__k")).rowsBetween(Window.unboundedPreceding, 0)
    val wCnt = Window.partitionBy(col(partCol), col("__s"))
    val pct = Checkpoints.pin(base.select(col(partCol),
        explode(map(lit("a"), col("__ba"), lit("b"), col("__bb")))
          .as(Seq("__s", "__k")))
      .groupBy(col(partCol), col("__s"), col("__k"))
      .agg(count(lit(1)).as("__c"))
      .withColumn("__cum", sum(col("__c")).over(wCum))
      .withColumn("__n", sum(col("__c")).over(wCnt))
      .select(col(partCol), col("__s"), col("__k"),
        when(col("__n") === 1L, lit(1000000L))
          .otherwise(longFloorDiv((col("__cum") - col("__c")) * 1000000L,
            col("__n") - 1L)).as("__pct")))
    val pa = pct.filter(col("__s") === "a")
      .select(col(partCol), col("__k").as("__ba"), col("__pct").as("pct_a"))
    val pb = pct.filter(col("__s") === "b")
      .select(col(partCol), col("__k").as("__bb"), col("__pct").as("pct_b"))
    val scored = base
      .join(broadcast(pa), Seq(partCol, "__ba"))
      .join(broadcast(pb), Seq(partCol, "__bb"))
      .withColumn("blend_u", lit(wA) * col("pct_a") + lit(wB) * col("pct_b"))
    val nBlend = (((wA + wB) * 1000000L) / blendWidth + 1L).toInt
    // The k-th-largest blend threshold per part, derived on SKETCH rows
    // at CONSTRUCTION (the perplexityBucketsBySketch discipline): the
    // result is |parts| rows of planning metadata, and collecting it
    // keeps the returned plan to ONE scored pass — a lazy self-reference
    // would plan the whole scored subtree twice.
    val wDesc = Window.partitionBy(col("__p")).orderBy(col("__t").desc)
      .rowsBetween(Window.unboundedPreceding, 0)
    // NULL parts carry no threshold row (element_at's null key already
    // coalesces to band-everything below, which row_number then caps at
    // k — correct, just unpruned), and the low-cardinality partCol
    // assumption is ENFORCED, not assumed: the collect is bounded by
    // take(cap+1) so a high-cardinality part column fails loudly
    // instead of silently becoming an unbounded driver collect + giant
    // plan literal.
    val maxParts = 65536
    val thrRows = scored
      .select(col(partCol).cast("string").as("__p"),
        bucketIdx(col("blend_u"), 0L, blendWidth, nBlend).as("__t"))
      .filter(col("__p").isNotNull)
      .groupBy(col("__p"), col("__t")).agg(count(lit(1)).as("__c"))
      .withColumn("__cum", sum(col("__c")).over(wDesc))
      .filter(col("__cum") >= k && (col("__cum") - col("__c")) < k)
      .select(col("__p"), (col("__t") * blendWidth).as("__thr"))
      .take(maxParts + 1)
    require(thrRows.length <= maxParts,
      s"blendByRankBySketch: partCol '$partCol' exceeds $maxParts distinct " +
        "values — the per-part threshold map is driver-side planning " +
        "metadata and assumes a low-cardinality partition column")
    val thrMap: Map[String, Long] =
      thrRows.map(r => r.getString(0) -> r.getLong(1)).toMap
    // parts with < k rows have no threshold row: every row is a
    // candidate there (and when NO part reaches k, skip the filter —
    // an empty literal map has no key type for element_at to bind to)
    val banded =
      if (thrMap.isEmpty) scored
      else {
        val thrLit = map(thrMap.toSeq.sortBy(_._1).flatMap { case (p, t) =>
          Seq(lit(p), lit(t)) }: _*)
        scored.filter(col("blend_u") >= coalesce(
          element_at(thrLit, col(partCol).cast("string")), lit(0L)))
      }
    banded
      .withColumn("rk", row_number().over(Window.partitionBy(col(partCol))
        .orderBy(col("blend_u").desc, col(idCol))))
      .filter(col("rk") <= k)
      .drop("__ba", "__bb")
  }
}
