package graft.operators

import graft.functions.TextFunctions.tokens
import graft.operators.Selection.qln
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Word-level skip-gram co-occurrence counts — the embedding-training
  * prep table (word2vec / GloVe input). The aggregation shape is the
  * reference's flagship streaming WordCount
  * (`scala/src/main/scala/com/ngt/wc/StreamWordCount.scala:15-20` —
  * flatMap-split, key, running count)
  * generalized from unigrams to windowed pairs; the streaming twin in
  * StreamingAppsSpec runs it in update mode exactly like that demo.
  *
  * For every token position and
  * every offset d ∈ [1, window], the (center, context) pair is counted
  * once in EACH direction (the symmetric-context convention) with the
  * harmonic distance weight 1/d (GloVe's decreasing weighting) carried
  * as the exact integer `1000000 / d` micro-units, so cross-engine sums
  * are bit-identical — no float accumulates anywhere.
  *
  * Tokenization is the house exact Column-twin convention
  * ([[graft.functions.TextFunctions.tokens]] — space-trim then split on
  * `\s+`; docs empty after the space trim contribute nothing), matching
  * the `regexp_split_to_array(trim(text), '\s+')` oracle CTE used by
  * the LM family (q134/q139).
  *
  * Scale shape (100 TB): pair generation is a typed flatMap — map-only,
  * at most 2·window rows per token, pipelined with the scan; the ONLY
  * shuffle is the (center, context) aggregate, where map-side partial
  * aggregation collapses each task's repeats of hot pairs ("of the",
  * "in a") before the exchange — the hot-pair skew safety word2vec
  * relies on. `minCount` prunes the long singleton tail AFTER the
  * count (the word2vec `min_count` discipline), bounding the output
  * table without any upstream work; it cannot change surviving values.
  */
object Cooccurrence {

  /** (center, context, n_pairs, w_micro) — n_pairs = co-occurrence
    * count within `window`, w_micro = Σ 1000000/d over those
    * occurrences (exact BIGINT). Rows with n_pairs < minCount are
    * dropped.
    */
  /** Per-document pair kernel: every symmetric (center, context,
    * 1000000/d) emission for one text — shared by the batch aggregate
    * and the streaming update-mode counter (StreamingAppsSpec's
    * skip-gram twin).
    */
  private[graft] def pairIter(text: String,
      window: Int): Iterator[(String, String, Long)] = {
    val tk = tokens(text)
    if (tk.length == 0 || (tk.length == 1 && tk(0).isEmpty))
      Iterator.empty
    else
      (0 until tk.length - 1).iterator.flatMap { i =>
        (1 to math.min(window, tk.length - 1 - i)).iterator
          .flatMap { d =>
            val w = 1000000L / d
            Iterator((tk(i), tk(i + d), w), (tk(i + d), tk(i), w))
          }
      }
  }

  def skipgramPairs(df: DataFrame, textCol: String, window: Int = 4,
      minCount: Long = 1L): DataFrame = {
    require(window >= 1, s"window must be >= 1: $window")
    val spark = df.sparkSession
    import spark.implicits._
    val pairs = df.select(col(textCol).cast("string")).as[String]
      .flatMap(pairIter(_, window))
      .toDF("center", "context", "wm")
    pairs.groupBy(col("center"), col("context"))
      .agg(count(lit(1)).as("n_pairs"), sum(col("wm")).as("w_micro"))
      .filter(col("n_pairs") >= minCount)
  }

  /** word2vec negative-sampling table: `p(w) ∝ f^(3/4)` over the
    * top-`maxVocab` tokens (the practical cap every implementation
    * applies — the tail's mass is negligible and an unbounded table
    * would not broadcast to samplers). The 3/4 power is two
    * correctly-rounded IEEE sqrts over the double image of f³ — no
    * `pow`, so any IEEE engine reproduces the exact same doubles (the
    * q140 sqrt discipline) — quantized to 1e-6 units. `cum_micro` is
    * the EXCLUSIVE prefix sum in (f desc, tok) order: a sampler draws
    * u ∈ [0, Σw) and binary-searches the ranges.
    *
    * Scale shape: one vocab-keyed frequency agg, then top-V via
    * orderBy+limit (TakeOrdered — no global sort), then the prefix
    * window over the ≤ maxVocab-row result — the Packing.prefixSum
    * bounded-window precedent, never over corpus rows.
    */
  def negativeSamplingTable(df: DataFrame, textCol: String,
      maxVocab: Int = 100000): DataFrame = {
    require(maxVocab >= 1, s"maxVocab must be >= 1: $maxVocab")
    import org.apache.spark.sql.expressions.Window
    val tok = df.filter(length(trim(col(textCol))) > 0)
      .select(explode(tokens(col(textCol))).as("tok"))
    val d = col("f").cast("double")
    val top = tok.groupBy(col("tok")).agg(count(lit(1)).as("f"))
      .orderBy(col("f").desc, col("tok")).limit(maxVocab)
      .withColumn("w_micro",
        floor(sqrt(sqrt(d * d * d)) * 1e6).cast("long"))
    top.withColumn("cum_micro",
      coalesce(sum(col("w_micro")).over(
        Window.orderBy(col("f").desc, col("tok"))
          .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
  }

  /** Pointwise mutual information over the [[skipgramPairs]] matrix —
    * the table SVD-PMI / GloVe-style embedding pipelines factorize:
    * `pmi = ln(n_ab · T / (n_a · n_b))` with T the matrix total and
    * n_a / n_b the row/column marginals (equal here — the matrix is
    * symmetric by construction).
    *
    * Determinism: every ln is quantized to integer micro-units at the
    * value it applies to (`qln(x) = floor(ln(x)·1e6 + 0.5)`, x an exact
    * BIGINT count), and `pmi_micro = qln(n_ab) + qln(T) − qln(n_a) −
    * qln(n_b)` is integer arithmetic over those units — the engine-
    * replayable form of the LM family's vocab-level quantization.
    *
    * Scale shape: the pair matrix materializes ONCE (a pin —
    * it feeds the total, the marginal aggregate, and the output join;
    * re-deriving it would re-scan the corpus three times). Marginals
    * are vocabulary-sized and join back on the uniform center/context
    * keys; the 1-row total broadcasts. No corpus re-key anywhere.
    */
  def pmiPairs(df: DataFrame, textCol: String, window: Int = 4,
      minCount: Long = 1L): DataFrame = {
    val pairs = Checkpoints.pin(skipgramPairs(df, textCol, window, minCount))
    val total = pairs.agg(sum(col("n_pairs")).as("t"))
    val marg = pairs.groupBy(col("center").as("w"))
      .agg(sum(col("n_pairs")).as("n_w"))
    pairs
      .join(marg.select(col("w").as("center"), col("n_w").as("n_a")),
        Seq("center"))
      .join(marg.select(col("w").as("context"), col("n_w").as("n_b")),
        Seq("context"))
      .crossJoin(broadcast(total))
      .select(col("center"), col("context"), col("n_pairs"),
        (qln(col("n_pairs").cast("double")) + qln(col("t").cast("double")) -
          qln(col("n_a").cast("double")) - qln(col("n_b").cast("double")))
          .as("pmi_micro"))
  }
}
