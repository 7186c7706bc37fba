package graft.operators

import graft.functions.TextFunctions.tokens
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Deterministic sampling for training-data pipelines. Randomness comes
  * from content hashes, not RNGs, so a sample is: reproducible across
  * runs/engines (oracle-checkable), stable under appends (a row's
  * membership changes only when a smaller-hash row enters its group), and
  * consistent across tables keyed by the same id — the properties that
  * matter when the "sample" feeds a multi-week training run.
  */
object Sampling {

  /** md5-derived uniform bucket in [0, buckets): the first 8 hex chars as
    * an unsigned 32-bit value, mod buckets — engine-neutral.
    */
  def hashBucket(idCol: Column, buckets: Int): Column =
    bucketOfKey(md5(idCol.cast("string")), buckets)

  /** The unsigned-32-bit-prefix-mod bridge over a precomputed md5 hex
    * key — the single home of the engine-parity-critical idiom
    * (DuckDB: `CAST('0x' || substr(k, 1, 8) AS BIGINT) % buckets`).
    */
  private def bucketOfKey(key: Column, buckets: Int): Column =
    pmod(conv(substring(key, 1, 8), 16, 10).cast("long"),
      lit(buckets.toLong))

  /** Consistent per-group sample: the `n` rows with the smallest
    * md5(id) per group. One shuffle on the group key (rank window is
    * partitioned — no global stage); ties impossible for distinct ids.
    */
  def consistentSamplePerGroup(df: DataFrame, groupCols: Seq[String],
      idCol: String, n: Int): DataFrame = {
    val w = Window.partitionBy(groupCols.map(col): _*)
      .orderBy(md5(col(idCol).cast("string")), col(idCol))
    df.withColumn("__rk", row_number().over(w))
      .filter(col("__rk") <= n)
      .drop("__rk")
  }

  /** Stratified deterministic sample: per-stratum keep fraction applied
    * via the hash-bucket threshold (row kept iff its md5 bucket falls
    * under `floor(frac * buckets)`). Pure column expression — no
    * shuffle, no RNG; membership is stable under appends and
    * reproducible on any engine with md5. Strata missing from
    * `fractions` are DROPPED (explicit beats silent pass-through in a
    * data pipeline: an unlisted source must not leak into the mix).
    */
  def stratifiedSampleByHash(df: DataFrame, strataCol: String, idCol: String,
      fractions: Map[String, Double], buckets: Int = 10000): DataFrame = {
    require(fractions.nonEmpty, "fractions must be non-empty")
    require(fractions.values.forall(f => f >= 0 && f <= 1),
      s"fractions must be in [0,1]: $fractions")
    val b = hashBucket(col(idCol), buckets)
    val thr = fractions.toSeq.sortBy(_._1).map { case (s, f) =>
      (s, math.floor(f * buckets).toLong)
    }
    val cond = thr.map { case (s, t) => col(strataCol) === s && b < t }
      .reduce(_ || _)
    df.filter(cond)
  }

  /** Weighted corpus mixing: downsample each stratum so the surviving
    * corpus matches integer target `weights` while keeping as much data
    * as possible — the BINDING stratum (smallest count/weight ratio)
    * keeps 100%, every other stratum keeps
    * `floor(buckets * w_s * n_m / (w_m * n_s))` of its hash buckets.
    * All threshold arithmetic is exact integer (no float rounding to
    * disagree across engines); strata not in `weights` are dropped.
    *
    * The per-stratum counts come from one small aggregate collected to
    * the driver (|strata| rows — corpus mixing has a handful of sources;
    * this is planning metadata, not data movement). The filter itself is
    * a pure column expression over the full table — no shuffle.
    */
  def mixCorpus(df: DataFrame, strataCol: String, idCol: String,
      weights: Map[String, Int], buckets: Int = 10000): DataFrame =
    mixByMeasure(df, strataCol, idCol, weights, buckets, count(lit(1)))

  /** [[mixCorpus]] weighted by a per-row MEASURE (typically a token
    * count) instead of row count: the target mixture is over summed
    * measure, which is what training-corpus weights actually mean
    * ("40% of TOKENS from web"). The kept share per stratum is exact in
    * expectation (hash buckets are uniform over docs); per-doc measure
    * variance makes the realized token share approximate, which is the
    * standard trade — exact token mixtures would need doc splitting.
    */
  def mixCorpusByMeasure(df: DataFrame, strataCol: String, idCol: String,
      measureCol: String, weights: Map[String, Int],
      buckets: Int = 10000): DataFrame =
    mixByMeasure(df, strataCol, idCol, weights, buckets,
      sum(col(measureCol).cast("long")))

  private def mixByMeasure(df: DataFrame, strataCol: String, idCol: String,
      weights: Map[String, Int], buckets: Int,
      measure: Column): DataFrame = {
    val counts: Map[String, Long] = df
      .filter(col(strataCol).isin(weights.keys.toSeq: _*))
      .groupBy(col(strataCol)).agg(measure.as("n"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    mixWithCounts(df, strataCol, idCol, weights, buckets, counts)
  }

  /** The binding-stratum threshold filter given ALREADY-COLLECTED
    * per-stratum measures — so a caller that needed the counts anyway
    * (temperatureMix derives its weights from them) pays ONE corpus
    * scan, not two.
    */
  private def mixWithCounts(df: DataFrame, strataCol: String, idCol: String,
      weights: Map[String, Int], buckets: Int,
      counts: Map[String, Long]): DataFrame = {
    require(weights.nonEmpty && weights.values.forall(_ > 0),
      s"positive integer weights required: $weights")
    val present = weights.keys.toSeq.sorted.filter(s => counts.getOrElse(s, 0L) > 0)
    require(present.nonEmpty, s"no rows in any weighted stratum: $weights")
    // binding stratum m: minimizes n_s / w_s, compared by exact
    // cross-multiplication (name tie-break)
    val m = present.reduceLeft { (a, c) =>
      val cmp = BigInt(counts(a)) * weights(c) - BigInt(counts(c)) * weights(a)
      if (cmp < 0 || (cmp == 0 && a < c)) a else c
    }
    val b = hashBucket(col(idCol), buckets)
    val cond = present.map { s =>
      val thr = (BigInt(buckets) * weights(s) * counts(m) /
        (BigInt(weights(m)) * counts(s))).min(BigInt(buckets)).toLong
      col(strataCol) === s && b < thr
    }.reduce(_ || _)
    df.filter(cond)
  }

  /** Temperature-flattened source mixing (the UniMax / multilingual-LM
    * rebalancing rule): downsample each stratum so the kept mixture is
    * proportional to n_s^alpha — alpha = 1 keeps the natural
    * distribution, alpha → 0 flattens toward uniform, intermediate
    * values lift low-resource sources without letting head sources
    * drown them. Realized as [[mixCorpus]] with integer weights
    * w_s = max(1, floor(n_s^alpha)): the binding stratum minimizes
    * n_s / n_s^alpha = n_s^(1-alpha), i.e. the SMALLEST source is kept
    * in full and every larger one is hash-thresholded down to match —
    * exactly the n^alpha profile.
    *
    * Engine determinism: the per-stratum counts are exact integers and
    * the only float step is n^alpha. For the oracle-gated configuration
    * use alpha = 0.5 — sqrt is correctly rounded IEEE in every engine,
    * so floor(sqrt(n)) replays exactly; other alphas are supported but
    * pow() may differ in the last ulp across engines near an integer
    * boundary. Scale: one |strata|-row count agg to the driver
    * (planning metadata), then a pure map-side filter — no shuffle.
    */
  def temperatureMix(df: DataFrame, strataCol: String, idCol: String,
      alpha: Double, buckets: Int = 10000): DataFrame = {
    require(alpha > 0 && alpha <= 1, s"alpha must be in (0, 1]: $alpha")
    // null strata are dropped here (and could not survive anyway — the
    // mix filter tests equality against named strata), which also keeps
    // the getString below total
    val counts = df.filter(col(strataCol).isNotNull)
      .groupBy(col(strataCol)).agg(count(lit(1)).as("n"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    require(counts.nonEmpty, "empty corpus")
    val weights = counts.map { case (s, n) =>
      s -> math.floor(math.pow(n.toDouble, alpha))
        .max(1.0).min(Int.MaxValue.toDouble).toInt
    }
    // counts are already in hand — reuse them; a second corpus-wide
    // count agg (the old mixCorpus path) doubled the planning cost
    mixWithCounts(df, strataCol, idCol, weights, buckets, counts)
  }

  /** Deterministic fractional replication — source-level training
    * EPOCHS ("wikipedia x2.5"): every row of stratum s gets
    * floor(w_s) copies, plus one more iff its hash bucket falls under
    * frac(w_s)·buckets, so the realized factor is exact in expectation
    * and the SAME ids gain the extra epoch on every run and engine.
    * Adds `epoch` (1-based copy index); strata absent from `weights`
    * are dropped (unlisted sources must not leak into the mix). Pure
    * map-side explode — no shuffle, no RNG.
    */
  def replicateByWeight(df: DataFrame, strataCol: String, idCol: String,
      weights: Map[String, Double], buckets: Int = 10000): DataFrame = {
    require(weights.nonEmpty && weights.values.forall(_ > 0),
      s"positive weights required: $weights")
    require(!df.columns.contains("epoch") && !df.columns.contains("__copies"),
      "input already has an 'epoch'/'__copies' column")
    val b = hashBucket(col(idCol), buckets)
    val ordered = weights.toSeq.sortBy(_._1)
    val copies = ordered.map { case (s, w) =>
      val whole = math.floor(w).toLong
      // floor(w*buckets) - whole*buckets, NOT floor((w-whole)*buckets):
      // for w=1.2 the latter floors 1999.9999999999995 to 1999 while
      // stratifiedSampleByHash(0.2) uses 2000 — one-bucket drift between
      // the two operators for the same nominal fraction
      val thr = math.floor(w * buckets).toLong - whole * buckets
      (s, lit(whole) + when(b < thr, 1L).otherwise(0L))
    }
    val head = when(col(strataCol) === ordered.head._1, copies.head._2)
    val copiesCol = copies.tail.foldLeft(head) { case (acc, (s, c)) =>
      acc.when(col(strataCol) === s, c)
    }.otherwise(lit(0L))
    df.withColumn("__copies", copiesCol)
      .filter(col("__copies") >= 1)
      .withColumn("epoch", explode(sequence(lit(1L), col("__copies"))))
      .drop("__copies")
  }

  /** Deterministic corpus shuffle for training order: every row gets a
    * (shard, pos) from md5(seed:id) — pseudorandom but reproducible, so
    * a multi-week run can restart mid-epoch and different tables keyed
    * by the same ids interleave identically. Changing `seed` is a fresh
    * permutation (per-epoch reshuffle).
    *
    * Scale: shard = uniform hash bucket -> one shuffle on the shard key;
    * `pos` ranks WITHIN a shard (window partitioned by shard, ~n/shards
    * rows each) — there is no global sort anywhere. Downstream training
    * readers consume shards independently in pos order.
    *
    * `idCol` must be unique and non-null (like [[Packing.prefixSum]]'s
    * order key): duplicate ids share an md5 key, so their relative `pos`
    * would be partition-scan order — not reproducible.
    */
  def deterministicShuffle(df: DataFrame, idCol: String, shards: Int,
      seed: Long = 0L): DataFrame = {
    require(shards > 0, s"shards must be positive: $shards")
    Seq("shard", "pos", "__k").foreach(c =>
      require(!df.columns.contains(c), s"input already has a '$c' column"))
    // the per-row md5 is materialized once — the window sorts on the
    // column, not a second evaluation of the hash
    df.withColumn("__k", md5(concat(lit(s"$seed:"), col(idCol).cast("string"))))
      .withColumn("shard", bucketOfKey(col("__k"), shards))
      .withColumn("pos", row_number().over(
        Window.partitionBy(col("shard")).orderBy(col("__k"), col(idCol))))
      .drop("__k")
  }

  /** Weighted sampling WITHOUT replacement (Efraimidis–Spirakis A-ES,
    * "Weighted random sampling with a reservoir", IPL 2006): each row
    * draws u ~ U(0,1) and gets key u^(1/w); the k largest keys are an
    * exact weighted sample without replacement. Here u is md5-derived
    * ((bucket + 0.5) / 2^24 from the hash's first 6 hex digits — an
    * exactly-representable dyadic rational), so the sample is
    * deterministic and engine-reproducible; rows are ordered by
    * ln(u)/w DESC (the monotone log of the key — one ln and one divide),
    * quantized to DECIMAL(20,15) before ordering so a sub-ulp ln()
    * difference between engines can flip neither values nor ranks (the
    * q84_bm25 convention).
    *
    * Use for quality-weighted data selection: w = a quality score or
    * token count biases WHICH docs survive while every doc keeps a
    * nonzero chance — unlike a hard top-k by score, the selection is not
    * a cliff. Rows with w <= 0 are dropped (zero-weight rows can never
    * be sampled; negative weights are undefined).
    *
    * Scale: the key is a pure column expression (no shuffle); global
    * top-k plans as TakeOrderedAndProject (per-partition heaps + driver
    * merge of k·partitions rows — no global sort). Output adds `wkey`
    * (the ordering key as double).
    */
  def weightedSampleByHash(df: DataFrame, idCol: String, weightCol: String,
      k: Int, seed: Long = 0L): DataFrame = {
    require(k > 0, s"k must be positive: $k")
    df.filter(col(weightCol) > 0)
      .withColumn("wkey", samplingKey(col(idCol), col(weightCol), seed))
      .orderBy(col("wkey").desc, col(idCol))
      .limit(k)
      .withColumn("wkey", col("wkey").cast("double"))
  }

  /** [[weightedSampleByHash]] with the weight given in LOG space:
    * w = exp(`logWeightCol`), for weights spanning hundreds of orders of
    * magnitude (DSIR importance weights are log-ratios; exp() of them
    * under/overflows doubles). The E-S rank key is kept in log space
    * too — ln(u)/w DESC  ⟺  ln(−ln u) − lw ASC (both sides negative, u
    * uniform in (0,1)) — so no exp() is ever evaluated: the Gumbel
    * top-k trick. Same md5 uniforms, same TakeOrdered no-global-sort
    * plan; smallest key wins here. The key is quantized to 1e-6
    * micro-units (BIGINT), NOT [[samplingKey]]'s DECIMAL(20,15): the
    * nested ln(−ln u) doubles the engines' sub-ulp ln() disagreement,
    * and at 1e-15 granularity that flipped real rows in testing — at
    * 1e-6 the flip probability is ~1e-9/row (the q87 vocabulary-ln
    * discipline). Micro-ties break on id, deterministically in both
    * engines. Output adds `gkey` (the micro-unit ordering key, long).
    */
  def weightedSampleByLogWeight(df: DataFrame, idCol: String,
      logWeightCol: String, k: Int, seed: Long = 0L): DataFrame = {
    require(k > 0, s"k must be positive: $k")
    // Every non-null log-weight is a valid weight (log space has no
    // w <= 0), but a NULL one yields a null gkey — and plain ascending
    // sort is NULLS FIRST, so null-weight rows would deterministically
    // beat every real row into the sample. Guard by sorting nulls LAST
    // and dropping them from the ≤k-row result — NOT by filtering the
    // input: `logWeightCol` is typically a derived column (dsirScores'
    // avg_lw = the whole scoring aggregate), and an input filter gets
    // substituted through the projection into a predicate that re-runs
    // the aggregate per row with no subexpression elimination (measured
    // 5x on q139).
    df.withColumn("gkey", logSamplingKey(col(idCol), col(logWeightCol), seed))
      .orderBy(col("gkey").asc_nulls_last, col(idCol))
      .limit(k)
      .filter(col("gkey").isNotNull)
  }

  /** floor((ln(−ln u) − lw)·1e6 + 0.5) as BIGINT; u off md5(seed:id).
    * DuckDB mirror:
    * `CAST(floor((ln(-ln((CAST('0x'||substr(md5(seed||':'||id),1,6) AS
    *  BIGINT) + 0.5) / 16777216.0)) - lw) * 1e6 + 0.5) AS BIGINT)`.
    */
  private def logSamplingKey(id: Column, logWeight: Column,
      seed: Long): Column = {
    val u = (conv(substring(md5(concat(lit(s"$seed:"), id.cast("string"))),
      1, 6), 16, 10).cast("double") + 0.5) / 16777216.0
    floor((log(-log(u)) - logWeight.cast("double")) * 1e6 + 0.5).cast("long")
  }

  /** Per-group [[weightedSampleByHash]]: the k largest keys per group —
    * one shuffle on the group key, rank window partitioned (no global
    * stage).
    */
  def weightedSamplePerGroup(df: DataFrame, groupCols: Seq[String],
      idCol: String, weightCol: String, k: Int, seed: Long = 0L): DataFrame = {
    require(k > 0, s"k must be positive: $k")
    val w = Window.partitionBy(groupCols.map(col): _*)
      .orderBy(col("wkey").desc, col(idCol))
    df.filter(col(weightCol) > 0)
      .withColumn("wkey", samplingKey(col(idCol), col(weightCol), seed))
      .withColumn("__rk", row_number().over(w))
      .filter(col("__rk") <= k)
      .drop("__rk")
      .withColumn("wkey", col("wkey").cast("double"))
  }

  /** ln(u)/w quantized to an exact decimal; u = (bucket+0.5)/2^24 off
    * md5(seed:id). DuckDB mirror:
    * `CAST(ln((CAST('0x'||substr(md5(seed||':'||id),1,6) AS BIGINT) + 0.5)
    *  / 16777216.0) / w AS DECIMAL(20,15))`.
    */
  private def samplingKey(id: Column, weight: Column, seed: Long): Column = {
    val u = (conv(substring(md5(concat(lit(s"$seed:"), id.cast("string"))),
      1, 6), 16, 10).cast("double") + 0.5) / 16777216.0
    (log(u) / weight.cast("double")).cast("decimal(20,15)")
  }

  /** Deterministic train/val/test split: each row lands in the split
    * whose cumulative weight range contains its hash bucket. Pure column
    * expression — no shuffle, no RNG; the same id always lands in the
    * same split (also across tables sharing the id space).
    *
    * @param splits (label, weight) pairs; weights normalized to sum 1.
    */
  def splitByHash(df: DataFrame, idCol: String,
      splits: Seq[(String, Double)], outCol: String = "split",
      buckets: Int = 10000): DataFrame =
    splitByKeyHash(df, col(idCol), splits, outCol, buckets)

  /** [[splitByHash]] over an arbitrary key expression. */
  def splitByKeyHash(df: DataFrame, key: Column,
      splits: Seq[(String, Double)], outCol: String = "split",
      buckets: Int = 10000): DataFrame = {
    require(splits.nonEmpty && splits.forall(_._2 > 0), "positive weights required")
    val total = splits.map(_._2).sum
    val bounds = splits.scanLeft(0.0) { case (acc, (_, w)) => acc + w / total }
      .tail.map(f => math.round(f * buckets))
    val b = hashBucket(key, buckets)
    // ordered when-chain; the last bound is exactly `buckets`, so the
    // final otherwise is unreachable (kept for total-ness)
    val first = when(b < bounds.head, lit(splits.head._1))
    val labeled = splits.tail.zip(bounds.tail).foldLeft(first) {
      case (acc, ((label, _), hi)) => acc.when(b < hi, lit(label))
    }.otherwise(lit(splits.last._1))
    df.withColumn(outCol, labeled)
  }

  /** Leakage-safe corpus split: the hash key is the HOST of the row's
    * canonical URL, so every page of a domain lands in ONE split.
    * Near-duplicate pages (mirrors, template siblings, shared chrome)
    * overwhelmingly co-occur within a host — an id-hash split
    * ([[splitByHash]]) scatters them across train/test and leaks; a
    * host-disjoint split cannot. Hostless rows (unparseable URLs) fall
    * back to the id hash — they carry no domain identity to leak and
    * must not all collapse into one split ([[Urls.canonicalize]]'s
    * pass-through rationale). Adds `host` ("" when unparseable) and
    * `outCol`. Pure column expressions — no shuffle at any size.
    */
  def splitByHostHash(df: DataFrame, urlCol: String, idCol: String,
      splits: Seq[(String, Double)], outCol: String = "split",
      buckets: Int = 10000): DataFrame = {
    val withHost = df.withColumn("host",
      Urls.host(Urls.canonicalize(col(urlCol))))
    val key = when(col("host") === "", col(idCol).cast("string"))
      .otherwise(col("host"))
    splitByKeyHash(withHost, key, splits, outCol, buckets)
  }

  /** word2vec frequent-word subsampling (Mikolov et al. 2013 §2.3):
    * each token OCCURRENCE survives with probability
    * `min(1, sqrt(thresh / (f/T)))` — "the", "of" thin to ~sqrt scale
    * while words rarer than `thresh` always survive. Deterministic and
    * engine-exact: the survival threshold is `floor(p·1e6)` where the
    * only float ops are one IEEE multiply/divide chain and one
    * correctly-rounded sqrt per VOCAB entry (the q140 sqrt precedent),
    * and the per-occurrence uniform is the house md5 bucket off
    * (doc, pos) — each repeat of a word in a doc decides independently.
    *
    * Output: (idCol, n_tokens, n_kept) per non-empty doc. Scale shape:
    * tokenize-explode twice (the [[graft.operators.Quality.unigramLogprob]]
    * rationale — re-scanning beats materializing a corpus-sized token
    * table), a vocab-sized frequency agg, the 1-row total broadcast, a
    * vocab-keyed survival join, and one doc-keyed rollup.
    */
  def subsampleFrequentWords(df: DataFrame, idCol: String, textCol: String,
      thresh: Double = 1e-4): DataFrame = {
    require(thresh > 0, s"thresh must be positive: $thresh")
    val toksArr = tokens(col(textCol))
    val tok = df.filter(length(trim(col(textCol))) > 0)
      .select(col(idCol), posexplode(toksArr).as(Seq("pos0", "tok")))
      .select(col(idCol), (col("pos0") + 1).as("pos"), col("tok"))
    val freq = tok.groupBy(col("tok")).agg(count(lit(1)).as("f"))
    val total = freq.agg(sum(col("f")).as("tt"))
    val keep = freq.crossJoin(broadcast(total))
      .select(col("tok"), least(lit(1000000L),
        floor(sqrt(lit(thresh) * col("tt").cast("double") /
          col("f").cast("double")) * 1e6).cast("long")).as("keep_micro"))
    tok
      .withColumn("u", hashBucket(concat(col(idCol).cast("string"),
        lit(":"), col("pos").cast("string")), 1000000))
      .join(keep, Seq("tok"))
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_tokens"),
        sum(when(col("u") < col("keep_micro"), 1L).otherwise(0L))
          .as("n_kept"))
  }
}
