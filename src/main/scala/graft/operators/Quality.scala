package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Model-based quality scoring: unigram language-model log-probability
  * per document — the cheap tier of the standard "perplexity filter"
  * (score each doc under a reference LM; drop the tails). The LM here is
  * the corpus's own unigram distribution; swapping in an external token
  * frequency table gives the CCNet-style filter unchanged.
  *
  * Determinism across engines: per-token logprobs are quantized to
  * integer MICRO-UNITS (`floor(ln(f/T)·1e6 + 0.5)`) at the vocabulary
  * level (one ln per DISTINCT token), and per-doc scores are integer
  * SUMS of those units — addition order cannot change the result, so
  * the score is bit-exact in any engine. The only float op is one ln
  * per vocab entry, where a 1-ulp divergence must land exactly on a
  * floor boundary to matter.
  *
  * Scale: tokenize-explode is map-side; the frequency table is
  * vocabulary-sized (shuffles by token — uniform hash keys); scoring
  * re-joins tokens to the vocab table (broadcast when the vocab is
  * small, shuffle otherwise) and reduces per doc — one uniform-key
  * shuffle each way at 100 TB.
  */
object Quality {

  /** (id, token) rows via the exact Column-twin tokenization
    * ([[graft.functions.TextFunctions.tokens]] — SQL trim/split semantics,
    * null-safe). Docs that are empty after the space-only trim are
    * dropped entirely (the oracle's `len(trim(text)) > 0`); edge
    * tab/newline docs keep their empty-field tokens like both engines.
    */
  private def tokenTable(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    df.select(col(idCol).cast("long"), col(textCol).cast("string"))
      .as[(Long, String)]
      .flatMap { case (id, t) =>
        val tk = graft.functions.TextFunctions.tokens(t)
        // tokens == [""] iff the space-trimmed text is empty
        if (tk.length == 0 || (tk.length == 1 && tk(0).isEmpty)) Iterator.empty
        else tk.iterator.map(w => (id, w))
      }
      .toDF(idCol, "tok")
  }

  /** Per-document unigram score: (idCol, n_tokens, lp_micro, avg_lp).
    * `lp_micro` = Σ over tokens of ln p(w) in 1e-6 units (exact BIGINT);
    * `avg_lp` = lp_micro / n_tokens / 1e6 (deterministic double).
    * Empty docs are absent from the output (no tokens to score).
    */
  def unigramLogprob(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    // The corpus is tokenized twice (LM-build pass + scoring pass) ON
    // PURPOSE: persisting the exploded token table to avoid the second
    // pass would materialize a larger-than-corpus intermediate, and at
    // 100 TB a re-scan + split is cheaper than that storage round-trip.
    // Pipelines scoring MANY corpora against one LM should build `vocab`
    // once and call [[unigramLogprobWith]].
    val tok = tokenTable(df, idCol, textCol)
    val freq = tok.groupBy(col("tok")).agg(count(lit(1)).as("f"))
    val total = freq.agg(sum(col("f")).as("t"))
    val vocab = freq.crossJoin(broadcast(total))
      .withColumn("lpu",
        Selection.qln(col("f").cast("double") / col("t").cast("double")))
      .select(col("tok"), col("lpu"))
    unigramLogprobWith(df, idCol, textCol, vocab)
  }

  /** Score against an EXTERNAL unigram LM: `vocab` = (tok, lpu) with
    * lpu = ln p(tok) in 1e-6 units. Tokens absent from the vocab are
    * dropped (equivalently: supply an OOV floor row upstream). This is
    * the CCNet form — one reference LM, many corpora.
    */
  def unigramLogprobWith(df: DataFrame, idCol: String, textCol: String,
      vocab: DataFrame): DataFrame =
    tokenTable(df, idCol, textCol).join(vocab, Seq("tok"))
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_tokens"), sum(col("lpu")).as("lp_micro"))
      .withColumn("avg_lp",
        col("lp_micro").cast("double") / col("n_tokens").cast("double") / 1e6)

  /** Top-`k` TF-IDF terms per document — the classic keyword-extraction /
    * topic-fingerprint step (smoothed idf: ln((N+1)/(df+1)) + 1).
    *
    * Determinism: idf is quantized to integer micro-units at the
    * VOCABULARY level (one ln per distinct term, same pattern as
    * [[unigramLogprob]]), and the score is the exact BIGINT product
    * tf·idf_micro — ranking ties break on the term string, so ranks are
    * bit-identical in any engine. `score_u` stays in micro-units
    * (divide by 1e6 for the conventional float score).
    *
    * Scale: two uniform-key shuffles build tf (doc, term) and df (term);
    * N is a broadcast scalar; the idf table is vocabulary-sized and
    * joins back onto tf by term (AQE broadcasts it when small); the
    * final per-doc top-k is a row_number window PARTITIONED by doc —
    * no global ordering stage anywhere.
    */
  /** Per-document token (Shannon) entropy — the low-entropy filter for
    * repetitive/boilerplate pages (a Gopher-family signal): `H =
    * Σ (c/n)·ln(n/c)` over the doc's own token distribution. Emitted as
    * the exact BIGINT `ent_micro = n·qln(n) − Σ c·qln(c)` (each qln =
    * `floor(ln·1e6 + 0.5)` of an exact integer count — the vocab-level
    * quantization discipline, applied per (doc, token) row), plus the
    * derived `ent_norm = ent_micro / n / 1e6 ≈ H` as a deterministic
    * double. Keyword-stuffed or template pages score near 0; natural
    * prose scores near ln(n_distinct).
    *
    * Scale shape: two uniform-key shuffles — (doc, token) counts with
    * map-side partials, then the doc-keyed rollup. Nothing is
    * corpus-global: no vocabulary table, no broadcast.
    */
  def tokenEntropy(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val ent = col("n_tokens") * Selection.qln(col("n_tokens").cast("double")) -
      col("s")
    tokenTable(df, idCol, textCol)
      .groupBy(col(idCol), col("tok")).agg(count(lit(1)).as("c"))
      .groupBy(col(idCol))
      .agg(sum(col("c")).as("n_tokens"),
        count(lit(1)).as("n_distinct"),
        sum(col("c") * Selection.qln(col("c").cast("double"))).as("s"))
      .select(col(idCol), col("n_tokens"), col("n_distinct"),
        ent.as("ent_micro"),
        (ent.cast("double") / col("n_tokens").cast("double") / 1e6)
          .as("ent_norm"))
  }

  def tfidfTopTerms(df: DataFrame, idCol: String, textCol: String,
      k: Int): DataFrame = {
    val tf = tokenTable(df, idCol, textCol)
      .groupBy(col(idCol), col("tok")).agg(count(lit(1)).as("tf"))
    val nd = tf.agg(countDistinct(col(idCol)).as("n"))
    val idf = tf.groupBy(col("tok")).agg(count(lit(1)).as("dfc"))
      .crossJoin(broadcast(nd))
      .withColumn("idfu",
        Selection.qln((col("n").cast("double") + 1.0) /
          (col("dfc").cast("double") + 1.0)) + 1000000L)
      .select(col("tok"), col("idfu"))
    tf.join(idf, Seq("tok"))
      .withColumn("score_u", col("tf") * col("idfu"))
      .withColumn("rk", row_number().over(Window.partitionBy(col(idCol))
        .orderBy(col("score_u").desc, col("tok"))))
      .filter(col("rk") <= k)
      .select(col(idCol), col("tok").as("term"), col("tf"), col("score_u"))
  }

  /** The pre-checkpoint scoring plan of [[selectByTokenBudget]] —
    * factored out so its shape can be plan-gated directly: the
    * localCheckpoint in the caller collapses all of this to a LogicalRDD
    * leaf, making it invisible to any gate over the FINAL plan.
    */
  private[graft] def scoredBands(df: DataFrame, idCol: String,
      textCol: String, bandScale: Int): DataFrame =
    unigramLogprob(df, idCol, textCol)
      .withColumn("band", floor(col("avg_lp") * bandScale).cast("long"))

  /** Select the highest-quality documents until a global TOKEN budget is
    * spent — the "best N tokens" corpus-selection step (greedy by
    * quality, the batch twin of quality-threshold filtering when the
    * target is a token count, not a score cutoff).
    *
    * Docs are ranked by (quality band desc, id asc) where band =
    * floor(avg_lp · bandScale): quality finer than one band does not
    * reorder — band width IS the selection granularity (raise
    * `bandScale` for finer cuts). A doc is kept iff the inclusive
    * running token total at its rank is <= budget.
    *
    * EAGER at construction: the per-doc score table materializes via
    * `localCheckpoint` when this is CALLED (it feeds three consumers —
    * rationale at the definition); release its blocks with
    * [[Checkpoints.free]] in long-lived sessions.
    *
    * Scale: no window ever sees raw docs. Per-band token totals
    * (thousands of rows at bandScale=1000) take the only unpartitioned
    * window; bands wholly inside (outside) the budget keep (drop) their
    * docs with a broadcast-joined filter and NO per-doc ordering at
    * all; exactly ONE band can straddle the budget, and only its docs
    * pay a running sum — executed as [[Packing.prefixSum]]'s two-level
    * bucket-offset shape, so even the worst case (a quality-homogeneous
    * corpus landing every doc in one band) stays distributed, under the
    * same id-density assumption prefixSum documents.
    */
  def selectByTokenBudget(df: DataFrame, idCol: String, textCol: String,
      budget: Long, bandScale: Int = 1000,
      bucketWidth: Long = 1L << 16): DataFrame = {
    require(budget >= 0, s"budget must be non-negative: $budget")
    // EAGER localCheckpoint: the scored table feeds THREE consumers
    // (band totals, whole-band keep filter, boundary-band prefix sum),
    // and each would otherwise re-run the two corpus tokenization passes
    // inside unigramLogprob — measured 174 s vs ~60 s at the 80x scale
    // smoke. One row per doc (id, tokens, score, band), far smaller than
    // the corpus; same eager-not-persist rationale as Dedup.pairJaccard,
    // released deterministically via [[Checkpoints.free]] if needed.
    val scored = scoredBands(df, idCol, textCol, bandScale).localCheckpoint()
    val bands = scored.groupBy(col("band"))
      .agg(sum(col("n_tokens")).as("__bt"))
    val wB = Window.orderBy(col("band").desc)
      .rowsBetween(Window.unboundedPreceding, -1)
    val offsets = bands
      .withColumn("__prev", coalesce(sum(col("__bt")).over(wB), lit(0L)))
      .select(col("band"), col("__bt"), col("__prev"))
    val joined = scored.join(broadcast(offsets), Seq("band"))
    val out = Seq(col(idCol), col("band"), col("n_tokens"))
    val full = joined.filter(col("__prev") + col("__bt") <= budget)
    val boundary = joined.filter(col("__prev") < budget &&
      col("__prev") + col("__bt") > budget)
    val boundarySel = Packing
      .prefixSum(boundary, idCol, "n_tokens", "__cum", bucketWidth)
      .filter(col("__prev") + col("__cum") <= budget)
    full.select(out: _*).unionByName(boundarySel.select(out: _*))
  }

  /** Keep documents whose `avg_lp` lies inside [lo, hi] — the standard
    * both-tails trim (gibberish scores low; degenerate repetition /
    * boilerplate scores suspiciously high). Cutoffs are caller-supplied
    * (at corpus scale: approx_percentile over a sample, or fixed SLOs);
    * docs with no tokens are dropped with the tails.
    */
  def filterByLogprobBand(df: DataFrame, idCol: String, textCol: String,
      lo: Double, hi: Double): DataFrame = {
    val keep = unigramLogprob(df, idCol, textCol)
      .filter(col("avg_lp") >= lo && col("avg_lp") <= hi)
      .select(col(idCol))
    df.join(keep, Seq(idCol), "left_semi")
  }

  /** Per-document bigram-LM score with Laplace (add-1) smoothing — the
    * conditional-fluency step up from [[unigramLogprob]] (the CCNet
    * perplexity-filter shape: n-gram LM trained on the corpus, documents
    * ranked by average log-probability; a repeated-phrase page scores
    * HIGH, a shuffled-word page scores LOW — complementary to
    * [[graft.operators.Repetition]]'s surface counts).
    *
    * P(b|a) = (c(a b) + 1) / (c(a ·) + V), V = distinct-token vocabulary.
    * Output: (idCol, n_bigrams, lp_micro, avg_lp); single-token and empty
    * docs have no bigrams and are absent (the q87 convention).
    *
    * Determinism: ln is quantized to integer micro-units at the
    * VOCABULARY level (one ln per distinct bigram — the [[unigramLogprob]]
    * discipline), so the per-doc sum is an exact BIGINT.
    *
    * Scale: the bigram table shuffles once to count (keys ~V², uniform);
    * the history totals aggregate the vocabulary-sized count table, not
    * the corpus; V is a 1-row broadcast; scoring re-derives the corpus
    * bigrams (same deliberate re-tokenize as [[unigramLogprob]] — cheaper
    * than materializing a larger-than-corpus intermediate at 100 TB) and
    * joins the vocabulary-sized LM table (AQE broadcasts it when small).
    */
  def bigramLogprob(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val bg = bigramTable(df, idCol, textCol)
    val cg = bg.groupBy(col("a"), col("b")).agg(count(lit(1)).as("f"))
    val ch = cg.groupBy(col("a")).agg(sum(col("f")).as("fh"))
    val v = tokenTable(df, idCol, textCol)
      .agg(countDistinct(col("tok")).as("nv"))
    val lm = cg.join(ch, Seq("a")).crossJoin(broadcast(v))
      .withColumn("lpu",
        Selection.qln((col("f") + 1L).cast("double")
          / (col("fh") + col("nv")).cast("double")))
      .select(col("a"), col("b"), col("lpu"))
    bigramLogprobWith(df, idCol, textCol, lm)
  }

  /** Score against an EXTERNAL bigram LM: `lm` = (a, b, lpu) keyed by
    * the (history, next) token pair, lpu = ln P(b|a) in 1e-6 units.
    * Bigrams absent from the LM are dropped (supply smoothed floor rows
    * upstream for OOV handling) — one reference LM, many corpora.
    */
  def bigramLogprobWith(df: DataFrame, idCol: String, textCol: String,
      lm: DataFrame): DataFrame =
    bigramTable(df, idCol, textCol).join(lm, Seq("a", "b"))
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_bigrams"), sum(col("lpu")).as("lp_micro"))
      .withColumn("avg_lp",
        col("lp_micro").cast("double") / col("n_bigrams").cast("double") / 1e6)

  /** (idCol, a, b) per bigram occurrence — the [[tokenTable]] typed
    * flatMap extended one token of lookahead (the HOF shingle form
    * `wordShinglesAll(_, 2)` is interpreted, not codegen'd, and measured
    * ~10x slower per bigram; tokenization is exactly TextFunctions.tokens
    * both ways). Docs empty after trim contribute nothing.
    */
  private def bigramTable(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    df.select(col(idCol).cast("long"), col(textCol).cast("string"))
      .as[(Long, String)]
      .flatMap { case (id, t) =>
        val tk = graft.functions.TextFunctions.tokens(t)
        if (tk.length < 2 || (tk.length == 1 && tk(0).isEmpty)) Iterator.empty
        else (0 until tk.length - 1).iterator.map(i => (id, tk(i), tk(i + 1)))
      }
      .toDF(idCol, "a", "b")
  }

  /** Per-group exact second-moment sums between two INTEGER signals —
    * the distributed half of Pearson correlation / covariance /
    * least-squares, kept in the engine as pure BIGINT so any engine
    * replays it bit for bit: n, Σx, Σy, Σxy, Σx², Σy². The float
    * finish (corr = (nΣxy−ΣxΣy)/√(nΣx²−(Σx)²)/√(nΣy²−(Σy)²)) is
    * model-sized driver/reader arithmetic on those six numbers — the
    * Pca.gramianMicro discipline: gate the corpus-scale sums, derive
    * floats downstream.
    *
    * One map-side-partial aggregate; nothing but (key, 6 longs)
    * shuffles. Caller guarantees |x|,|y| small enough that Σxy fits in
    * BIGINT at corpus scale (quantize upstream if not).
    */
  def momentSums(df: DataFrame, keyCol: String, xCol: String,
      yCol: String): DataFrame = {
    val x = col(xCol).cast("long")
    val y = col(yCol).cast("long")
    df.groupBy(col(keyCol))
      .agg(count(lit(1)).as("n"),
        sum(x).as("sx"), sum(y).as("sy"),
        sum(x * y).as("sxy"), sum(x * x).as("sxx"), sum(y * y).as("syy"))
  }
}
