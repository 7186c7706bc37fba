package graft.operators

import graft.functions.TextFunctions._
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Corpus deduplication operators for training-data pipelines.
  *
  * Scale design (the 100 TB story):
  *  - exact: hash-groupBy on a digest — one shuffle keyed by md5/xxhash64,
  *    uniform key distribution (no skew by construction).
  *  - near-dup: MinHash+LSH — cost is O(n·bands) shuffle rows instead of
  *    O(n²) pairs; only bucket-colliding candidates are verified. Buckets
  *    are hashes, so they distribute uniformly across reducers.
  *  - jaccard verification: shingle-explode equi-join — a shuffle join on
  *    the shingle hash; high-frequency shingles (stop-shingles) are the
  *    skew risk, handled by `maxShingleFreq` which drops shingles occurring
  *    in more than N docs (standard frequency-pruning: a shingle shared by
  *    half the corpus carries no similarity signal but quadratic join
  *    cost).
  */
object Dedup {

  /** Exact dedup: keep the row with the smallest `idCol` per identical
    * `textCol`. One shuffle on the text digest; the digest (not the full
    * text) is the shuffle key at scale.
    */
  def exactDedup(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val keyed = df.withColumn("__digest", md5(col(textCol)))
    val keep = keyed.groupBy(col("__digest"))
      .agg(min(col(idCol)).as(idCol))
    keyed.join(keep, Seq("__digest", idCol), "left_semi").drop("__digest")
  }

  /** Per-id distinct word shingles, exploded: (id, shingle). `idCol` is
    * cast to long. Typed single-pass shingling — the interpreted Column
    * HOF form (`explode(wordShingles(...))`) is ~50x slower (see
    * MinhashImpl scaladoc).
    */
  def shingleTable(df: DataFrame, idCol: String, textCol: String, n: Int): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    df.select(col(idCol).cast("long"), col(textCol).cast("string"))
      .as[(Long, String)]
      .flatMap { case (id, t) =>
        graft.functions.MinhashImpl.shingles(t, n).iterator.map(s => (id, s)) }
      .toDF(idCol, "shingle")
  }

  /** Exact pairwise n-gram Jaccard via shingle equi-join.
    *
    * @param blockCol optional blocking column (e.g. language): only pairs
    *                 agreeing on it are compared — standard dedup blocking.
    * @param maxShingleFreq drop shingles occurring in more than this many
    *                 docs (skew + noise control). <=0 disables.
    */
  def jaccardPairs(df: DataFrame, idCol: String, textCol: String, n: Int,
      blockCol: Option[String] = None, maxShingleFreq: Int = 0): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    // typed single-pass shingling (see MinhashImpl scaladoc for why this
    // beats the interpreted Column HOF path ~50x)
    val sh0 = blockCol match {
      case Some(b) =>
        df.select(col(idCol).cast("long"), col(b).cast("string"),
            col(textCol).cast("string")).as[(Long, String, String)]
          .flatMap { case (id, blk, t) =>
            graft.functions.MinhashImpl.shingles(t, n).iterator.map(s => (id, blk, s)) }
          .toDF(idCol, b, "shingle")
      case None =>
        df.select(col(idCol).cast("long"), col(textCol).cast("string"))
          .as[(Long, String)]
          .flatMap { case (id, t) =>
            graft.functions.MinhashImpl.shingles(t, n).iterator.map(s => (id, s)) }
          .toDF(idCol, "shingle")
    }
    // Pair generation, two shapes:
    //  - capped (maxShingleFreq > 0): stop prune (count agg + broadcast
    //    anti — heavy hitters are few by Zipf, so the anti side
    //    broadcasts and the big shingle table is never shuffled for the
    //    pruning), then bucket + collect_list + pair explode — the
    //    per-shingle id array is bounded by the cap post-prune, so no
    //    single row can blow the 2 GB record limit. The per-doc SIZES
    //    derive from the same bucket table (explode the kept buckets
    //    back to (id) rows): the bucket exchange is reused, so the
    //    corpus is shingled TWICE (stop pass + bucket pass) instead of
    //    three times — at 100 TB one fewer full corpus scan. (A fully
    //    one-pass form — bounded-set aggregation replacing the stop
    //    pass too — measured ~1.6x SLOWER at sf0.1: the typed bounded
    //    aggregator and its array-bearing freq exchange cost more than
    //    the codegen count scan they saved; see OPTIMIZATION_r18.md.)
    //  - uncapped: streamed self-join — evaluates the subtree per side
    //    and shuffles twice, but a stop-shingle shared by m docs streams
    //    m² pairs instead of materializing one m-element array in a
    //    single row. Never collect_list without a bound.
    val (inter0, sizes) =
      if (maxShingleFreq > 0) {
        // (id, shingle) rows are distinct by construction (shingles are
        // de-duped per doc), so doc frequency is a plain count — no
        // distinct-aggregate expand.
        val stop = sh0.groupBy("shingle").agg(count(lit(1)).as("__f"))
          .filter(col("__f") > maxShingleFreq).select("shingle")
        val sh = sh0.join(broadcast(stop), Seq("shingle"), "left_anti")
        val buckets = blockCol match {
          case Some(b) => sh.groupBy(col("shingle"), col(b))
            .agg(collect_list(col(idCol)).as("ids"))
          case None => sh.groupBy(col("shingle"))
            .agg(collect_list(col(idCol)).as("ids"))
        }
        val pairs = buckets
          .filter(size(col("ids")) > 1)
          .select(explode(col("ids")).as("id_a"), col("ids"))
          .select(col("id_a"), explode(col("ids")).as("id_b"))
          .filter(col("id_a") < col("id_b"))
        val sz = buckets.select(explode(col("ids")).as(idCol))
          .groupBy(col(idCol)).agg(count(lit(1)).as("sz"))
        (pairs, sz)
      } else {
        val keys = "shingle" :: blockCol.toList
        val l = sh0.select(col(idCol).as("id_a") :: keys.map(col): _*)
        val r = sh0.select(col(idCol).as("id_b") ::
          keys.map(k => col(k).as(s"${k}__r")): _*)
        val cond = keys.map(k => col(k) === col(s"${k}__r"))
          .reduce(_ && _) && col("id_a") < col("id_b")
        val sz = sh0.groupBy(col(idCol)).agg(count(lit(1)).as("sz"))
        (l.join(r, cond).select(col("id_a"), col("id_b")), sz)
      }
    val inter = inter0
      .groupBy(col("id_a"), col("id_b"))
      .agg(count(lit(1)).as("inter"))
    inter
      .join(sizes.withColumnRenamed("sz", "sz_a"), inter("id_a") === sizes(idCol)).drop(idCol)
      .join(sizes.withColumnRenamed("sz", "sz_b"), col("id_b") === sizes(idCol)).drop(idCol)
      .withColumn("un", col("sz_a") + col("sz_b") - col("inter"))
      .withColumn("jaccard", col("inter").cast("double") / col("un").cast("double"))
      .select("id_a", "id_b", "inter", "un", "jaccard")
  }

  /** MinHash+LSH candidate pairs: signature -> band keys -> bucket
    * self-join. Returns distinct (id_a, id_b) candidates; verify with
    * [[jaccardPairs]] (or trust the LSH probability bound at scale).
    */
  def minhashCandidates(df: DataFrame, idCol: String, textCol: String,
      shingleN: Int = 3, k: Int = 8, bands: Int = 4,
      maxBucketSize: Int = 4096): DataFrame = {
    graft.functions.XxMinhashImpl.requireBanding(k, bands)
    val rows = k / bands
    val spark = df.sparkSession
    import spark.implicits._
    // Single typed pass per doc (see MinhashImpl: the Column HOF version
    // re-interprets the shingle tree per hash fn). Docs with no shingles
    // are skipped — they cannot collide. Respread.cores: k md5 hashes
    // per shingle make this pass hash-dominated (the q63 rationale;
    // measured 1.7→0.9 s on the q65 candidate pass at sf0.1)
    val banded = Respread.cores(df)
      .select(col(idCol).cast("long"), col(textCol).cast("string"))
      .as[(Long, String)]
      .flatMap { case (id, text) =>
        val sh = graft.functions.MinhashImpl.shingles(text, shingleN)
        if (sh.isEmpty) Iterator.empty
        else {
          val sig = graft.functions.MinhashImpl.signature(sh, k)
          graft.functions.MinhashImpl.bandKeys(sig, bands, rows)
            .iterator.zipWithIndex.map { case (bk, b) => (id, b, bk) }
        }
      }.toDF(idCol, "band", "bkey")
    // pairs per bucket — evaluates the signature pipeline once (a
    // self-join would run it twice) and shuffles only (band, bkey)
    bucketPairs(banded, idCol, maxBucketSize)
  }

  /** Production-hash MinHash+LSH candidate pairs: xxhash64 signatures
    * (~10x cheaper than the md5 form above), same banding shape. A pair
    * with Jaccard j collides on a band with probability j^rows — rows >= 2
    * matters at scale: single-row bands collide UNRELATED docs at rate j
    * per band, which turns the candidate set quadratic on a large corpus;
    * two-row bands push that to j², keeping candidates ~linear while a
    * verified pair above a 0.6 threshold is still missed with probability
    * (1-j²)^bands < 1e-3.
    */
  def minhashCandidatesFast(df: DataFrame, idCol: String, textCol: String,
      shingleN: Int = 3, k: Int = 16, bands: Int = 8,
      maxBucketSize: Int = 4096): DataFrame = {
    graft.functions.XxMinhashImpl.requireBanding(k, bands)
    val spark = df.sparkSession
    import spark.implicits._
    // Single typed pass per doc (XxMinhashImpl = bit-identical twin of the
    // xxhash64 Column path — parity spec'd): the Column HOF form pays the
    // interpreted-expression tax per (shingle × hash function), measured
    // 40x slower at sf0.1 with k=16. Docs with no shingles are skipped —
    // they cannot collide.
    bucketPairs(bandedTable(df, idCol, textCol, shingleN, k, bands),
      idCol, maxBucketSize)
  }

  /** (id, band, bkey) rows — the shared typed banding pass (see
    * minhashCandidatesFast scaladoc for why typed beats Column HOFs).
    */
  private def bandedTable(df: DataFrame, idCol: String, textCol: String,
      shingleN: Int, k: Int, bands: Int): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    df.select(col(idCol).cast("long"), col(textCol).cast("string"))
      .as[(Long, String)]
      .flatMap { case (id, text) =>
        graft.functions.XxMinhashImpl.bandRows(text, shingleN, k, bands)
          .map { case (b, bk) => (id, b, bk) }
      }.toDF(idCol, "band", "bkey")
  }

  /** Bucket -> candidate-pair expansion shared by both minhash paths.
    * The per-bucket id list is CAPPED: a bucket of m docs (an exact-dup/
    * template cluster — precisely what a dedup corpus contains) would
    * otherwise materialize one m-element array in a single aggregate row
    * (2 GB record limit / reducer OOM at corpus scale). The cap keeps the
    * `maxBucketSize` SMALLEST ids (deterministic) via [[graft.functions
    * .BoundedIdSet]] — a bounded-buffer Aggregator, so the cap is applied
    * in ONE shuffle with map-side partial aggregation (the earlier
    * `row_number` window form paid a full extra sort pass over the banded
    * table, measured 7x on q44 at sf0.1, and shipped uncapped buckets to
    * the reducer before capping). Run [[exactDedup]] first so monster
    * buckets are near-dup clusters, not exact copies.
    */
  private def bucketPairs(banded: DataFrame, idCol: String,
      maxBucketSize: Int): DataFrame = {
    require(maxBucketSize > 1, s"maxBucketSize must be > 1: $maxBucketSize")
    banded
      .groupBy(col("band"), col("bkey"))
      .agg(graft.functions.BoundedIdSet(maxBucketSize)(col(idCol)).as("ids"))
      .filter(size(col("ids")) > 1)
      // Dedup the id ARRAYS before the pair explosion: a near-dup
      // cluster agrees in every band, so all `bands` copies of its
      // bucket hold the identical (BoundedIdSet-sorted) id list — and
      // explosion is quadratic per copy. Collapsing array duplicates
      // first shrinks the exploded volume ~bands-fold on exactly the
      // corpora this operator exists for (measured 128M -> ~30M
      // pre-distinct pair rows at the 80x scale smoke); candidates are
      // a SET, so dropping duplicate buckets never changes the result.
      .select("ids").distinct()
      .select(explode(col("ids")).as("id_a"), col("ids"))
      .select(col("id_a"), explode(col("ids")).as("id_b"))
      .filter(col("id_a") < col("id_b"))
      .select("id_a", "id_b").distinct()
  }

  /** Exact Jaccard for an EXPLICIT candidate-pair set: per-doc distinct
    * shingle sets are joined onto the pairs and intersected per pair
    * (`array_intersect` over sorted distinct arrays). This verifies ONLY
    * the pairs LSH proposed — [[jaccardPairs]] over the candidate-doc
    * subset would instead rebuild every shared-shingle pair among those
    * docs (measured 47x the candidate count at sf0.1: 54,945 shingle
    * pairs to verify 1,168 LSH candidates). Two equi-joins keyed on the
    * id, candidate side ~O(n·P(collide)) — no pair explosion at scale.
    *
    * EAGER at construction: calling this (or the [[minhashNearDups]] /
    * [[minhashNearDupsFast]] wrappers) runs a Spark job THERE AND THEN
    * to materialize `cand` via [[Checkpoints.pin]] — callers that only
    * want to inspect the plan should know the candidate DAG has already
    * executed. The checkpoint's blocks are freed when the returned frame
    * is GC'd and the ContextCleaner runs;
    * long-lived sessions can release them deterministically with
    * [[Checkpoints.free]] after consuming the result.
    */
  def pairJaccard(cand: DataFrame, df: DataFrame, idCol: String,
      textCol: String, n: Int): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    // two consumers (the id-prune broadcast and the pair join): unpinned,
    // the candidate DAG ran twice (63 s vs 40 s at the 20x scale smoke)
    val candM = Checkpoints.pin(cand)
    val candIds = candM.select(col("id_a").as(idCol))
      .union(candM.select(col("id_b").as(idCol))).distinct()
    // only candidate docs are ever shingled (semi-join pruning); shingles
    // are hashed to xxhash64 longs BEFORE the pair join — the arrays ride
    // both sides of a pair-count-sized shuffle, and 8-byte longs cut that
    // volume ~3x vs the n-word strings while Jaccard is unchanged modulo
    // 64-bit collisions (see XxMinhashImpl.hashedShingles). This was the
    // dominant spill at the 80x scale smoke (358 s verify).
    val sets = df.join(broadcast(candIds), Seq(idCol), "left_semi")
      .select(col(idCol).cast("long"), col(textCol).cast("string"))
      .as[(Long, String)]
      .map { case (id, t) =>
        (id, graft.functions.XxMinhashImpl.hashedShingles(t, n)) }
      .toDF(idCol, "__sh")
    candM
      .join(sets.select(col(idCol).as("id_a"), col("__sh").as("__sh_a")), Seq("id_a"))
      .join(sets.select(col(idCol).as("id_b"), col("__sh").as("__sh_b")), Seq("id_b"))
      .withColumn("inter", size(array_intersect(col("__sh_a"), col("__sh_b"))))
      .withColumn("un",
        size(col("__sh_a")) + size(col("__sh_b")) - col("inter"))
      .withColumn("jaccard", col("inter").cast("double") / col("un").cast("double"))
      .select(col("id_a"), col("id_b"), col("inter"), col("un"), col("jaccard"))
  }

  /** MinHash banding derived from corpus size — the [[graft.operators
    * .Similarity.planesFor]] analog for the signature/band family. Fixed
    * (k, bands) at a growing corpus fails in BOTH directions: too few
    * rows per band and the candidate set turns quadratic on background
    * (unrelated-pair) Jaccard; too few bands and recall at `threshold`
    * decays. Derivation:
    *   - rows per band suppresses background collisions to ~O(1) noise
    *     candidates per document: n·bands·bg^rows <= 1, i.e.
    *     rows >= ln(n·bands)/ln(1/bgJaccard);
    *   - bands restores recall: miss = (1 - t^rows)^bands <= missRate,
    *     i.e. bands >= ln(missRate)/ln(1 - t^rows);
    *   - the mutual dependence is only logarithmic in one direction, so
    *     a 3-step fixed point settles for any practical n; k = rows·bands
    *     is capped at `maxK` (signature cost per doc), sacrificing miss
    *     rate — never selectivity — when the cap binds.
    * @return (k, bands) with k divisible by bands (rows = k/bands).
    */
  def bandingFor(corpusSize: Long, threshold: Double,
      missRate: Double = 1e-2, bgJaccard: Double = 0.1,
      maxK: Int = 256): (Int, Int) = {
    require(corpusSize > 0, s"positive corpus size required: $corpusSize")
    require(threshold > 0 && threshold < 1, s"threshold in (0,1): $threshold")
    require(missRate > 0 && missRate < 1 && bgJaccard > 0 && bgJaccard < 1,
      "missRate and bgJaccard must be in (0,1)")
    require(maxK >= 4, s"maxK must be >= 4: $maxK")
    var bands = 8
    var rows = 2
    (0 until 3).foreach { _ =>
      // all sizing in Double, clamped BEFORE materializing to Int: for a
      // low threshold at petabyte n the ideal band count overflows Int
      // (ceil -> 2^31-1), and `rows * bands` would wrap negative and
      // skip the cap entirely — the cap must bound the Double
      rows = math.min(maxK / 2, math.max(2, math.ceil(
        math.log(corpusSize.toDouble * bands)
          / math.log(1.0 / bgJaccard)).toInt))
      val ideal = math.ceil(math.log(missRate) /
        math.log(1.0 - math.pow(threshold, rows))) // may be huge or +Inf
      bands = math.max(2, math.min(ideal, (maxK / rows).toDouble).toInt)
    }
    (rows * bands, bands)
  }

  /** Explicit (k, bands) when BOTH are supplied (validated: bands | k),
    * auto-derived via [[bandingFor]] when NEITHER is. A partial override
    * (only one of the two) is rejected rather than silently ignored —
    * under the pre-auto-banding defaults `k = 32` alone was meaningful,
    * and dropping it without a sound would change recall behind the
    * caller's back.
    */
  private def resolveBanding(df: DataFrame, threshold: Double,
      k: Int, bands: Int): (Int, Int) = {
    require((k > 0) == (bands > 0),
      s"supply BOTH k and bands (explicit banding) or NEITHER " +
        s"(auto-derive from corpus size), got k=$k bands=$bands")
    if (k > 0) {
      graft.functions.XxMinhashImpl.requireBanding(k, bands)
      (k, bands)
    } else bandingFor(df.count(), threshold)
  }

  /** [[minhashNearDups]] on the production xxhash64 signature path:
    * fast candidates, then hash-free exact-Jaccard verification (which an
    * external oracle can reproduce — with bands=k the candidate recall on
    * verified pairs is effectively 1, so the output equals the exact
    * jaccard >= threshold pair set).
    *
    * `k <= 0` or `bands <= 0` (the default) derives the banding from the
    * corpus size and `threshold` via [[bandingFor]] — one `df.count()`
    * (parquet metadata at rest), then banding that tracks log(n) instead
    * of silently degrading as the corpus grows.
    */
  def minhashNearDupsFast(df: DataFrame, idCol: String, textCol: String,
      threshold: Double, shingleN: Int = 3, k: Int = 0, bands: Int = 0): DataFrame = {
    val (k0, b0) = resolveBanding(df, threshold, k, bands)
    pairJaccard(minhashCandidatesFast(df, idCol, textCol, shingleN, k0, b0),
        df, idCol, textCol, shingleN)
      .filter(col("jaccard") >= threshold)
      .select("id_a", "id_b", "jaccard")
  }

  /** Near-dup pairs: LSH candidates verified by exact Jaccard >= threshold.
    * Verification runs only over candidate documents (semi-join pruning) —
    * the whole point of LSH is that the O(n²) exact compare never touches
    * non-colliding docs. Banding auto-derives from the corpus size by
    * default (see [[minhashNearDupsFast]]).
    */
  def minhashNearDups(df: DataFrame, idCol: String, textCol: String,
      threshold: Double, shingleN: Int = 3, k: Int = 0, bands: Int = 0): DataFrame = {
    val (k0, b0) = resolveBanding(df, threshold, k, bands)
    // Candidate materialization (one pin, two consumers) happens inside
    // pairJaccard — see the comment there.
    pairJaccard(minhashCandidates(df, idCol, textCol, shingleN, k0, b0),
        df, idCol, textCol, shingleN)
      .filter(col("jaccard") >= threshold)
      .select("id_a", "id_b", "jaccard")
  }

  /** Incremental dedup: which INCOMING rows duplicate the EXISTING
    * corpus — 'exact' (identical text digest) or 'near' (exact n-gram
    * Jaccard >= threshold, LSH-candidate-pruned)? Returns one row per
    * dropped incoming doc: (idCol, reason), exact taking precedence.
    * Ids must be globally unique across both frames.
    *
    * The production shape for a corpus that already exists: nothing
    * re-deduplicates the 100 TB against itself — the incoming batch's
    * band rows join the corpus band rows on (band, bkey), so corpus-side
    * work is one banding pass + an equi-join keyed by uniform hashes;
    * the digest probe is likewise an equi-join on md5. No corpus
    * self-pairs are ever generated (the within-batch variant is
    * [[minhashNearDupsFast]] on `incoming` alone).
    */
  def incrementalDedupReport(incoming: DataFrame, corpus: DataFrame,
      idCol: String, textCol: String, shingleN: Int = 3, k: Int = 16,
      bands: Int = 8, threshold: Double = 0.6,
      maxBucketSize: Int = 4096): DataFrame = {
    graft.functions.XxMinhashImpl.requireBanding(k, bands)
    // exact tier: digest equi-join (uniform keys, one shuffle)
    val corpD = corpus.select(md5(col(textCol)).as("__d")).distinct()
    val exact = incoming.select(col(idCol).cast("long"), md5(col(textCol)).as("__d"))
      .join(corpD, Seq("__d"), "left_semi")
      .select(col(idCol)).distinct()
    // near tier: cross-table LSH banding, then hash-free exact-Jaccard
    // verification of only the colliding (incoming, corpus) pairs. Each
    // side's bucket membership is CAPPED (smallest ids, BoundedIdSet)
    // exactly like the within-batch bucketPairs path: a template cluster
    // present in both splits would otherwise stream m_in x m_corp pairs
    // out of one hot (band, bkey).
    def cappedBuckets(df: DataFrame, as: String) =
      bandedTable(df, idCol, textCol, shingleN, k, bands)
        .groupBy(col("band"), col("bkey"))
        .agg(graft.functions.BoundedIdSet(maxBucketSize)(col(idCol)).as(as))
    val cand = cappedBuckets(incoming, "in_ids")
      .join(cappedBuckets(corpus, "corp_ids"), Seq("band", "bkey"))
      // same bucket-array dedup as bucketPairs: a template cluster
      // present in both splits agrees in every band, so all `bands`
      // copies of the colliding bucket pair hold identical
      // (BoundedIdSet-sorted) arrays — collapse them BEFORE the
      // quadratic in x corp explode; candidates are a set either way
      .select("in_ids", "corp_ids").distinct()
      .select(explode(col("in_ids")).as("id_a"), col("corp_ids"))
      .select(col("id_a"), explode(col("corp_ids")).as("id_b"))
      .distinct()
    val all = incoming.select(col(idCol).cast("long"), col(textCol))
      .union(corpus.select(col(idCol).cast("long"), col(textCol)))
    val near = pairJaccard(cand, all, idCol, textCol, shingleN)
      .filter(col("jaccard") >= threshold)
      .select(col("id_a").as(idCol)).distinct()
    exact.withColumn("reason", lit("exact"))
      .union(near.join(exact, Seq(idCol), "left_anti")
        .withColumn("reason", lit("near")))
  }

  /** Duplicate n-gram SPAN coverage — the "exact substring dup" metric
    * (dedup-50-gram style, at word granularity): for each doc, the
    * fraction of its tokens covered by at least one n-gram that also
    * appears in ANOTHER doc. Overlapping duplicated spans are
    * interval-UNIONED per doc (sort by position + running-max-end), so
    * a token inside three overlapping dup 5-grams counts once.
    *
    * Scale: one typed positional-shingle pass (map-side), one shuffle
    * keyed by the shingle for the cross-doc frequency, one shuffle keyed
    * by doc id for the per-doc window — the window partitions by doc, so
    * no global sort / single-task stage. Output: docs with >= 1
    * duplicated span: (idCol, n_tokens, covered, covered_frac).
    */
  def dupSpanCoverage(df: DataFrame, idCol: String, textCol: String,
      n: Int): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    // (id, pos, shingle) with 1-based positions; ALL n-grams, order kept.
    // The shingle STRING never leaves this block: every downstream use
    // (the duplicated-shingle groupBy and the spans join) only tests
    // equality, so the shuffles key on xxhash64(shingle) — 8-byte longs
    // instead of ~25-byte n-word strings (the 80x scale smoke spilled
    // 468 s on the string-keyed form). Collisions (P ~ rows²/2⁶⁴) could
    // only over-mark a span as duplicated — negligible.
    val sh = df.select(col(idCol).cast("long"), col(textCol).cast("string"))
      .as[(Long, String)]
      .flatMap { case (id, t) =>
        val toks = tokens(t)
        if (toks.length < n) Iterator.empty
        else toks.sliding(n).zipWithIndex.map { case (w, i) =>
          (id, i + 1, w.mkString(" ")) }
      }.toDF(idCol, "pos", "sh")
      .select(col(idCol), col("pos"), xxhash64(col("sh")).as("sh"))
    val dup = sh.groupBy($"sh")
      .agg(countDistinct(col(idCol)).as("nd"))
      .filter($"nd" >= 2).select($"sh")
    val spans = sh.join(dup, Seq("sh"))
      .select(col(idCol), $"pos", ($"pos" + (n - 1)).as("e"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col(idCol)).orderBy($"pos")
      .rowsBetween(Long.MinValue, -1)
    val covered = spans
      .withColumn("pm", max($"e").over(w))
      .withColumn("contrib", greatest(lit(0),
        $"e" - greatest($"pos", coalesce($"pm", lit(0)) + 1) + 1))
      .groupBy(col(idCol)).agg(sum($"contrib").as("covered"))
    val lens = df.select(col(idCol).cast("long"),
      size(tokens(col(textCol))).cast("long").as("n_tokens"))
    covered.join(lens, Seq(idCol))
      .select(col(idCol), $"n_tokens", $"covered",
        round($"covered".cast("double") / $"n_tokens".cast("double"), 6)
          .as("covered_frac"))
  }

  /** Corpus-wide exact-substring span REMOVAL (the Lee et al. 2021
    * "Deduplicating Training Data Makes Language Models Better"
    * ExactSubstr shape, at word granularity): every maximal duplicated
    * token run keeps its globally FIRST occurrence — ordered by
    * (doc id, position) — and is excised everywhere else. Extends
    * [[dupSpanCoverage]] (q89's measurement) into removal: the same
    * positional n-gram anchors, but instead of reporting coverage the
    * losing anchors' token intervals are unioned per doc and cut out of
    * the text. A duplicated run longer than `n` is covered by a chain of
    * overlapping losing anchors, so the whole run disappears — the
    * suffix-array extend-left/right step of the paper falls out of
    * anchor overlap for free. Within-doc repeats lose too (their first
    * occurrence survives).
    *
    * Scale shape (one shingle-keyed shuffle + one doc-keyed shuffle):
    *  - survivors: ONE aggregation keyed by the anchor digest —
    *    `min(struct(id, pos))` partial-aggregates map-side, so a 10⁹-copy
    *    boilerplate anchor reaches the reducer as one row per task (the
    *    `Boilerplate.dedupSegmentsKeepFirst` posture);
    *  - losers: a left-anti join on (digest, id, pos) — a UNIQUE key, so
    *    a hot anchor's occurrences spread uniformly across reducers;
    *  - excision: `collect_list(pos)` keyed by doc (bounded by the doc's
    *    own length) and a ROW-LOCAL covered-position rebuild —
    *    `array_except` over the position range (hash-set membership), so
    *    per-doc cost is O(L·n), even for a ~100% duplicate document.
    * Anchors key on xxhash64 of the n-gram — the [[dupSpanCoverage]]
    * lesson verbatim: the 32-byte md5 hex form shuffled 4x the bytes
    * (together with the membership-scan rebuild it replaced: 95 s → 35 s
    * at the 80x replication worst case). A 64-bit
    * collision (P ~ rows²/2⁶⁴) could only excise a non-duplicate span;
    * the DuckDB oracle groups by the n-gram STRING, so q142 passing is
    * itself the no-collision witness at test scale. Rebuilt text is
    * single-space joined — token exact for a whitespace-tokenized
    * corpus ([[stripFrequentWindows]] precedent). Output: (idCol, text,
    * n_tokens, n_removed) for EVERY input doc (docs with no duplicated
    * span pass through rebuilt).
    */
  def dedupSpansKeepFirst(df0: DataFrame, idCol: String, textCol: String,
      n: Int): DataFrame = {
    require(n >= 2, s"anchor length must be >= 2 tokens: $n")
    // Respread: per-doc CPU (tokenize + anchor hashing + rebuild) lives
    // in the pre-shuffle map stages, and the local single-split fixture
    // would run them as ONE task (measured 5x on the composed q146
    // chain); a real corpus arrives in thousands of splits → no-op
    val df = Respread(df0)
    val occ = spanAnchors(df, idCol, textCol, n)
    val firsts = occ.groupBy(col("__h"))
      .agg(min(struct(col(idCol), col("pos"))).as("__first"))
      .select(col("__h"), col("__first").getField(idCol).as(idCol),
        col("__first").getField("pos").as("pos"))
    val losers = occ.join(firsts, Seq("__h", idCol, "pos"), "left_anti")
    rebuildExcised(df, idCol, textCol, losers, n)
  }

  /** Incremental [[dedupSpansKeepFirst]]: excise from `incoming` every
    * duplicated run that already exists ANYWHERE in `corpus` (the corpus
    * keeps all its copies — it is the already-accepted past), plus
    * within-batch repeats of corpus-absent runs (keep-first inside the
    * batch). The per-micro-batch production form of exact-substring
    * dedup: wrap in `foreachBatch` with a static corpus frame — every
    * step is a batch op, no streaming state (the
    * `StreamDedup.againstCorpusExact` posture).
    *
    * Scale: the corpus side reduces to DISTINCT anchor digests (one agg,
    * map-side combine — positions never shuffle), the membership test is
    * an anti join on the 8-byte digest, and only `incoming` is ever
    * rebuilt. Output: (idCol, text, n_tokens, n_removed) for every
    * incoming doc.
    */
  def dedupSpansIncremental(incoming0: DataFrame, corpus: DataFrame,
      idCol: String, textCol: String, n: Int): DataFrame =
    dedupSpansIncrementalWith(incoming0,
      corpusSpanDigests(corpus, idCol, textCol, n), idCol, textCol, n)

  /** The accepted corpus reduced to its DISTINCT anchor digests
    * (`__h`: BIGINT xxhash64) — the state a production per-batch dedup
    * loop maintains instead of re-scanning the corpus every batch:
    * persist this table once, and after each accepted batch append the
    * batch's own digests (a distinct-union, monotone). One agg with
    * map-side combine; positions never shuffle.
    */
  def corpusSpanDigests(corpus: DataFrame, idCol: String, textCol: String,
      n: Int): DataFrame = {
    require(n >= 2, s"anchor length must be >= 2 tokens: $n")
    spanAnchors(Respread(corpus), idCol, textCol, n)
      .select(col("__h")).distinct()
  }

  /** [[dedupSpansIncremental]] against a PRECOMPUTED digest set
    * ([[corpusSpanDigests]]) — the foreachBatch production form: the
    * corpus is never re-scanned, each micro-batch pays only its own
    * anchors + one membership anti join against the digest table.
    */
  def dedupSpansIncrementalWith(incoming0: DataFrame, corpusH: DataFrame,
      idCol: String, textCol: String, n: Int): DataFrame = {
    require(n >= 2, s"anchor length must be >= 2 tokens: $n")
    val incoming = Respread(incoming0)
    val occ = spanAnchors(incoming, idCol, textCol, n)
    // anchors whose run exists in the corpus all lose; the rest keep
    // their first (id, pos) occurrence within the batch
    val fresh = occ.join(corpusH.select(col("__h")), Seq("__h"), "left_anti")
    val firsts = fresh.groupBy(col("__h"))
      .agg(min(struct(col(idCol), col("pos"))).as("__first"))
      .select(col("__h"), col("__first").getField(idCol).as(idCol),
        col("__first").getField("pos").as("pos"))
    val losers = occ.join(firsts, Seq("__h", idCol, "pos"), "left_anti")
    rebuildExcised(incoming, idCol, textCol, losers, n)
  }

  /** (id, pos, __h): 1-based positional n-gram anchors keyed by
    * xxhash64; docs shorter than n contribute none (sequence(1, L-n+1)
    * would run DESCENDING for L < n — guard it).
    */
  private def spanAnchors(df: DataFrame, idCol: String, textCol: String,
      n: Int): DataFrame = {
    val toks = tokens(col(textCol))
    val anchors = when(size(toks) >= n,
      transform(sequence(lit(1), size(toks) - (n - 1)),
        i => struct(i.as("pos"),
          xxhash64(concat_ws(" ", slice(toks, i, lit(n)))).as("__h"))))
      .otherwise(array().cast("array<struct<pos:int,__h:bigint>>"))
    df.select(col(idCol).cast("long").as(idCol),
        explode(anchors).as("a"))
      .select(col(idCol), col("a.pos").as("pos"), col("a.__h").as("__h"))
  }

  /** Shared excision tail: union losing anchors' intervals per doc and
    * rebuild (single-space joined). Surviving positions via
    * `array_except` (hash-set lookup, first-array order preserved) — the
    * per-token `array_contains` scan this replaced was O(L·|covered|)
    * per doc, the rebuild's wall-clock at the 80x all-duplicate worst
    * case. covered ⊆ [1, L] by construction, so n_removed = |covered|;
    * keptToks is referenced exactly ONCE (CollapseProject would inline
    * the whole rebuild into every consumer).
    */
  private def rebuildExcised(df: DataFrame, idCol: String, textCol: String,
      losers: DataFrame, n: Int): DataFrame = {
    val toks = tokens(col(textCol))
    val dups = losers.groupBy(col(idCol))
      .agg(sort_array(collect_list(col("pos"))).as("__dups"))
    val covered = array_distinct(flatten(transform(col("__dups"),
      p => sequence(p, p + (n - 1)))))
    val keptToks = transform(
      array_except(sequence(lit(1), size(toks)), covered),
      p => element_at(toks, p))
    df.select(col(idCol).cast("long").as(idCol), col(textCol))
      .join(dups, Seq(idCol), "left")
      .withColumn("__dups", coalesce(col("__dups"), array().cast("array<int>")))
      .select(col(idCol),
        concat_ws(" ", keptToks).as("text"),
        size(toks).cast("long").as("n_tokens"),
        size(covered).cast("long").as("n_removed"))
  }

  /** 64-bit SimHash per document: explode tokens, hash each with xxhash64,
    * sum ±1 per bit position, sign -> bit. Distributed as one groupBy on
    * the id (no pair joins); near-dups then cluster by hamming distance
    * (`bit_count(a ^ b)`) on signature prefixes.
    */
  def simhash64(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val tok = df.select(col(idCol), explode(tokens(col(textCol))).as("tok"))
      .withColumn("h", xxhash64(col("tok")))
    val bitSums: Seq[Column] = (0 until 64).map { j =>
      sum(when(shiftrightunsigned(col("h"), j).bitwiseAND(lit(1L)) === 1L, 1)
        .otherwise(-1)).as(s"b$j")
    }
    val agg = tok.groupBy(col(idCol)).agg(bitSums.head, bitSums.tail: _*)
    val sig = (0 until 64).map { j =>
      when(col(s"b$j") > 0, shiftleft(lit(1L), j)).otherwise(lit(0L))
    }.reduce(_.bitwiseOR(_))
    agg.select(col(idCol), sig.as("simhash"))
  }

  /** SimHash near-dup pairs within a hamming radius, blocked on the top
    * `prefixBits` bits — the cheap single-probe heuristic (recall < 1:
    * a differing bit inside the prefix hides the pair). For guaranteed
    * full recall within the radius use [[simhashNearDupsExact]].
    */
  def simhashNearDups(df: DataFrame, idCol: String, textCol: String,
      maxHamming: Int = 8, prefixBits: Int = 12): DataFrame = {
    val sigs = simhash64(df, idCol, textCol)
      .withColumn("prefix", shiftrightunsigned(col("simhash"), 64 - prefixBits))
    simhashPairs(sigs, idCol, maxHamming)
  }

  /** `bits`-wide SimHash over md5 token hashes (first bits/4 hex chars →
    * unsigned int) — bit-for-bit reproducible in any SQL engine with md5,
    * so the DuckDB oracle can verify the full near-dup pipeline.
    * `bits` must be a positive multiple of 4, at most 60 (keeps the
    * signature strictly positive in a signed 64-bit long, so prefix
    * shifts and comparisons agree across engines). Production uses the
    * xxhash64 64-bit form above (~10x cheaper hash, widest signature).
    */
  def simhashMd5(df: DataFrame, idCol: String, textCol: String,
      bits: Int): DataFrame = {
    require(bits > 0 && bits % 4 == 0 && bits <= 60,
      s"bits must be a positive multiple of 4 <= 60, got $bits")
    val spark = df.sparkSession
    import spark.implicits._
    // typed single pass per doc (SimhashMd5Impl, parity-spec'd vs the
    // Column form below): no token explode, no `bits` aggregate columns —
    // measured ~3x faster at sf0.1 with bits=48, same shuffle-free shape.
    // Respread.cores: one md5 per token makes this the rare pass whose
    // per-row CPU dwarfs the spread exchange (q63 2.1→0.3 s; no-op on a
    // many-split corpus)
    Respread.cores(df)
      .select(col(idCol).cast("long"), col(textCol).cast("string"))
      .as[(Long, String)]
      .map { case (id, t) =>
        (id, graft.functions.SimhashMd5Impl.signature(t, bits)) }
      .toDF(idCol, "simhash")
  }

  /** Column-expression form of [[simhashMd5]] — the engine-neutral
    * reference implementation the typed path is parity-tested against
    * (and the shape that stays inside Catalyst when that matters more
    * than the interpreted-vs-typed constant factor).
    */
  def simhashMd5Columns(df: DataFrame, idCol: String, textCol: String,
      bits: Int): DataFrame = {
    require(bits > 0 && bits % 4 == 0 && bits <= 60,
      s"bits must be a positive multiple of 4 <= 60, got $bits")
    val tok = df.select(col(idCol), explode(tokens(col(textCol))).as("tok"))
      .withColumn("h",
        conv(substring(md5(col("tok")), 1, bits / 4), 16, 10).cast("long"))
    val bitSums: Seq[Column] = (0 until bits).map { j =>
      sum(when(shiftrightunsigned(col("h"), j).bitwiseAND(lit(1L)) === 1L, 1)
        .otherwise(-1)).as(s"b$j")
    }
    val agg = tok.groupBy(col(idCol)).agg(bitSums.head, bitSums.tail: _*)
    val sig = (0 until bits).map { j =>
      when(col(s"b$j") > 0, shiftleft(lit(1L), j)).otherwise(lit(0L))
    }.reduce(_.bitwiseOR(_))
    agg.select(col(idCol), sig.as("simhash"))
  }

  /** Oracle-reproducible near-dup pairs over [[simhashMd5]]. */
  def simhashNearDupsMd5(df: DataFrame, idCol: String, textCol: String,
      maxHamming: Int = 4, prefixBits: Int = 8, bits: Int = 32): DataFrame = {
    val sigs = simhashMd5(df, idCol, textCol, bits)
      .withColumn("prefix", shiftrightunsigned(col("simhash"), bits - prefixBits))
    simhashPairs(sigs, idCol, maxHamming)
  }

  /** EXACT Hamming-radius near-dup pairs over the 64-bit production
    * SimHash — multi-probe done right: the signature is split into
    * `maxHamming + 1` disjoint chunks and pairs are blocked on (chunk
    * index, chunk value). Pigeonhole guarantees recall 1: a pair with at
    * most `maxHamming` differing bits cannot touch all `maxHamming + 1`
    * chunks, so it collides on at least one block. Precision 1 comes from
    * the explicit hamming filter. Cost: `maxHamming + 1` blocking rows per
    * doc (vs 1 for the single-prefix heuristic [[simhashNearDups]], which
    * misses pairs whose differing bits land in the prefix) — same shuffle
    * shape, uniform hash-valued keys. This is the standard exact
    * Hamming-LSH construction (chunk blocking, cf. multi-index hashing).
    */
  def simhashNearDupsExact(df: DataFrame, idCol: String, textCol: String,
      maxHamming: Int = 6): DataFrame =
    simhashChunkPairs(simhash64(df, idCol, textCol), idCol, 64, maxHamming)

  /** Oracle-reproducible twin of [[simhashNearDupsExact]] over the
    * `bits`-wide md5 signature — the DuckDB gate verifies the pigeonhole
    * blocking equals brute-force all-pairs hamming.
    */
  def simhashNearDupsExactMd5(df: DataFrame, idCol: String, textCol: String,
      maxHamming: Int = 6, bits: Int = 48): DataFrame =
    simhashChunkPairs(simhashMd5(df, idCol, textCol, bits), idCol, bits, maxHamming)

  private def simhashChunkPairs(sigs: DataFrame, idCol: String, bits: Int,
      maxHamming: Int): DataFrame = {
    // BALANCED chunk widths (base or base+1): the naive ceil split can
    // leave trailing zero-width chunks when bits % n != 0, whose constant
    // 0 key degenerates the block join to all-pairs; every chunk must own
    // >= 1 bit for the pigeonhole argument to hold. maxHamming = 0 is
    // rejected — radius-0 search is exact signature equality (group on
    // the signature), not a blocking problem.
    require(maxHamming >= 1 && maxHamming + 1 <= bits,
      s"need 1 <= maxHamming <= bits-1, got maxHamming=$maxHamming bits=$bits")
    val n = maxHamming + 1
    val base = bits / n
    val extra = bits % n
    val widths = Seq.tabulate(n)(i => base + (if (i < extra) 1 else 0))
    val lows = widths.scanLeft(0)(_ + _).init
    val chunkCols: Seq[Column] = lows.zip(widths).map { case (lo, width) =>
      shiftrightunsigned(col("simhash"), lo)
        .bitwiseAND(lit((1L << width) - 1L))
    }
    val keyed = sigs.select(col(idCol).as("__id"), col("simhash"),
      posexplode(array(chunkCols: _*)).as(Seq("chunk", "ckey")))
    val l = keyed.select(col("chunk"), col("ckey"),
      col("__id").as("id_a"), col("simhash").as("sig_a"))
    val r = keyed.select(col("chunk").as("chunk_r"), col("ckey").as("ckey_r"),
      col("__id").as("id_b"), col("simhash").as("sig_b"))
    l.join(r, col("chunk") === col("chunk_r") && col("ckey") === col("ckey_r") &&
        col("id_a") < col("id_b"))
      .select("id_a", "id_b", "sig_a", "sig_b").distinct()
      .withColumn("hamming", bit_count(col("sig_a").bitwiseXOR(col("sig_b"))))
      .filter(col("hamming") <= maxHamming)
      .select("id_a", "id_b", "hamming")
  }

  /** Prefix-blocked pair join + hamming filter shared by both simhash
    * variants. The prefix block bounds the self-join: only same-prefix
    * docs pair up (2^prefixBits buckets, uniform by hash construction).
    */
  private def simhashPairs(sigs: DataFrame, idCol: String, maxHamming: Int): DataFrame = {
    val l = sigs.select(col(idCol).as("id_a"), col("simhash").as("sig_a"), col("prefix"))
    val r = sigs.select(col(idCol).as("id_b"), col("simhash").as("sig_b"),
      col("prefix").as("prefix_r"))
    l.join(r, l("prefix") === r("prefix_r") && l("id_a") < r("id_b"))
      .withColumn("hamming", bit_count(col("sig_a").bitwiseXOR(col("sig_b"))))
      .filter(col("hamming") <= maxHamming)
      .select("id_a", "id_b", "hamming")
  }

  /** All pairs at edit distance <= 1, EXACT and COMPLETE, via FastSS
    * deletion neighborhoods (Bocek et al., "Fast Similarity Search in
    * Large Dictionaries"): each string contributes itself plus its
    * single-character-deletion variants as join keys; any two strings
    * within one edit share at least one key (equal -> the string itself;
    * deletion/insertion -> the shorter string; substitution at i -> the
    * delete-at-i variant), so the equi-join finds every true pair and a
    * final levenshtein filter kills the rare dist-2 key collisions.
    *
    * Scale: len+1 keys per string, hash-uniform (near-dup corpora cluster
    * per key only as much as they genuinely collide); ONE shuffle on the
    * key — per-key ids collected, pairs exploded, verified, and only
    * then deduplicated. The per-key array is O(m) for a key shared by m
    * strings while the pair OUTPUT is O(m²) either way, so the array is
    * never the binding constraint (a key's m is bounded by
    * (len+1)·|alphabet| distinct one-insert parents plus exact copies;
    * run exact dedup first — m copies of one string stream m² candidate
    * pairs under any shape). The self-join form this replaced shuffled
    * the strings TWICE and deduplicated the full candidate set before
    * verifying: verify-then-dedup moves the distinct below the >90%
    * selective filter, and the round-18 bench measured the join itself
    * (sort + two string exchanges) at 2.3x the whole bucket shape.
    * Output: (id_a, id_b, dist) with dist in {0, 1}.
    */
  def editDistance1Pairs(df: DataFrame, idCol: String, strCol: String): DataFrame = {
    val base = df.select(col(idCol).cast("long").as("__id"),
      col(strCol).cast("string").as("__s"))
    // delete-at-i variants as pure column ops (codegen'd): concat of the
    // prefix before i (1-based substr) and the suffix after it
    val dels = transform(sequence(lit(0), length(col("__s")) - 1), i =>
      concat(col("__s").substr(lit(1), i),
        col("__s").substr(i + lit(2), length(col("__s")))))
    // group on the variant's xxhash64, not the variant string: the
    // shuffle carries 8-byte longs instead of len-char strings, and the
    // final levenshtein verify kills any hash-collision false candidate
    val keyed = base
      .select(col("__id"), col("__s"),
        explode(array_union(array(col("__s")), dels)).as("__k"))
      .select(col("__id"), col("__s"), xxhash64(col("__k")).as("__kh"))
    keyed.groupBy(col("__kh"))
      .agg(collect_list(struct(col("__id"), col("__s"))).as("xs"))
      .filter(size(col("xs")) > 1)
      .select(explode(col("xs")).as("a"), col("xs"))
      .select(col("a"), explode(col("xs")).as("b"))
      .filter(col("a.__id") < col("b.__id"))
      // threshold form = banded O(len) verify; -1 means "over threshold"
      .withColumn("dist", levenshtein(col("a.__s"), col("b.__s"), 1))
      .filter(col("dist") >= 0)
      .select(col("a.__id").as("id_a"), col("b.__id").as("id_b"), col("dist"))
      .distinct()
  }

  /** All pairs at edit distance <= maxDist, EXACT and COMPLETE, via
    * segment-pigeonhole candidate generation (PassJoin, Li et al.,
    * PVLDB 2011): partition the shorter string of a pair into
    * `maxDist + 1` near-even segments; if ed(r, s) <= maxDist then at
    * least one segment of r survives unedited, appearing in s as a
    * contiguous substring whose start is shifted by at most maxDist. So
    * the candidate join is an EQUI-join on
    * (segment index, |r|, segment text) between each string's segments
    * and each string's shifted substrings — never a pair enumeration —
    * followed by a banded levenshtein verify.
    *
    * Cost per row: k+1 segment keys + (k+1)(k+1)(2k+1) probe substrings
    * (k = maxDist; 45 for k = 2) — linear in rows, one shuffle on the
    * hash-uniform key. Contrast with a blocked self-join at B rows per
    * block: B^2 banded verifies ([[fuzzyPairs]] exists for when a
    * natural block column makes that bound fine).
    *
    * Degenerate corners, documented:
    *  - strings shorter than `maxDist + 1` produce zero-width segments
    *    whose empty key over-matches (pairs are still found, with more
    *    candidates to verify);
    *  - a corpus sharing a long CONSTANT PREFIX (ID-like strings:
    *    "Customer#0000...") makes segment 0 one giant bucket and the
    *    candidate join quadratic — measured 158 s vs 0.4 s on selective
    *    input at the same row count. For such data use
    *    [[editDistance1Pairs]] (deletion neighborhoods are content-
    *    agnostic) or strip the constant prefix first.
    *
    * Output: (id_a, id_b, dist), id_a < id_b, dist <= maxDist.
    */
  def edJoinPairs(df: DataFrame, idCol: String, strCol: String,
      maxDist: Int): DataFrame = {
    require(maxDist >= 1, s"maxDist must be >= 1, got $maxDist")
    val k = maxDist
    val n = k + 1
    val base = df.select(col(idCol).cast("long").as("__id"),
      col(strCol).cast("string").as("__s"), length(col(strCol)).as("__len"))

    // segment i of an rlen-char string: widths base/base+1 (first
    // rlen % n segments take the extra char); start_i in closed form
    def segStart(rlen: Column, i: Column): Column =
      i * (rlen / n) + least(i, rlen % n)
    def segWidth(rlen: Column, i: Column): Column =
      (rlen / n) + when(i < (rlen % n), 1).otherwise(0)

    // left: each string partitioned into its own n segments
    val segs = base.select(col("__id"), col("__s"), col("__len"),
        explode(sequence(lit(0), lit(n - 1))).as("__i"))
      .select(col("__id").as("id_r"), col("__s").as("__sr"),
        col("__i"), col("__len").as("__rlen"),
        xxhash64(col("__s").substr(segStart(col("__len"), col("__i")) + 1,
          segWidth(col("__len"), col("__i")))).as("__segh"))

    // right: every substring of s that could equal segment __i of an
    // rlen-char partner, rlen in [len(s)-k, len(s)] (r is the shorter
    // side; equal-length pairs appear once in each role and dedupe),
    // start shifted by at most k from the segment's home position
    val probes = base
      .select(col("__id"), col("__s"), col("__len"),
        explode(sequence(lit(0), lit(n - 1))).as("__i"))
      .select(col("*"), explode(sequence(lit(0), lit(k))).as("__dl"))
      .select(col("*"), explode(sequence(lit(-k), lit(k))).as("__d"))
      .withColumn("__rlen", col("__len") - col("__dl"))
      // >= 0, not >= 1: an empty string is a legitimate partner (its
      // zero-width segments match the empty probe substring; the verify
      // computes the true distance) — filtering rlen 0 silently lost
      // every pair involving ""
      .filter(col("__rlen") >= 0)
      .withColumn("__w", segWidth(col("__rlen"), col("__i")))
      .withColumn("__pos",
        greatest(lit(0), least(segStart(col("__rlen"), col("__i")) + col("__d"),
          col("__len") - col("__w"))))
      .select(col("__id").as("id_s"), col("__s").as("__ss"),
        col("__i").as("__i_s"), col("__rlen").as("__rlen_s"),
        xxhash64(col("__s").substr(col("__pos") + 1, col("__w"))).as("__subh"))
      .distinct()

    // substring text joined by xxhash64 (8-byte shuffle keys; the banded
    // levenshtein verify kills hash-collision false candidates)
    segs.join(probes,
        col("__i") === col("__i_s") && col("__rlen") === col("__rlen_s") &&
        col("__segh") === col("__subh") && col("id_r") =!= col("id_s"))
      .select(least(col("id_r"), col("id_s")).as("id_a"),
        greatest(col("id_r"), col("id_s")).as("id_b"),
        when(col("id_r") < col("id_s"), col("__sr")).otherwise(col("__ss")).as("__sa"),
        when(col("id_r") < col("id_s"), col("__ss")).otherwise(col("__sr")).as("__sb"))
      .distinct()
      .withColumn("dist", levenshtein(col("__sa"), col("__sb"), k))
      .filter(col("dist") >= 0)
      .select("id_a", "id_b", "dist")
  }

  /** Blocked fuzzy-match pairs: exact banded levenshtein within blocks
    * (the [[jaccardPairs]] blocking pattern for edit distance). Pairs are
    * bounded by the largest block, so pick `blockCol` with bounded
    * cardinality-per-value (language, source, length band, sort key); the
    * threshold form of levenshtein early-exits at O(len * maxDist) per
    * pair instead of O(len^2). For complete block-free joins use
    * [[editDistance1Pairs]] (dist <= 1) or [[edJoinPairs]] (any dist).
    */
  def fuzzyPairs(df: DataFrame, idCol: String, strCol: String,
      blockCol: String, maxDist: Int): DataFrame = {
    require(maxDist >= 1, s"maxDist must be >= 1, got $maxDist")
    val l = df.select(col(blockCol).as("__b"), col(idCol).cast("long").as("id_a"),
      col(strCol).cast("string").as("__sa"))
    val r = df.select(col(blockCol).as("__b_r"), col(idCol).cast("long").as("id_b"),
      col(strCol).cast("string").as("__sb"))
    l.join(r, col("__b") === col("__b_r") && col("id_a") < col("id_b"))
      .withColumn("dist", levenshtein(col("__sa"), col("__sb"), maxDist))
      .filter(col("dist") >= 0)
      .select(col("__b").as(blockCol), col("id_a"), col("id_b"), col("dist"))
  }
}
