package graft.operators

import graft.functions.TextFunctions.tokens
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Inverted-index retrieval over a document corpus — build once, search
  * many: the full-text twin of the IVF vector tier
  * (`Similarity.ivfWriteIndex/ivfSearchStored`). The reference computes
  * relevance only as a per-document score scan; a 100 TB corpus needs the
  * index shape, where a query touches the postings of ITS terms, never
  * the corpus.
  *
  * Index layout: `postings` carries (term, doc_id, tf, len) — document
  * length is DENORMALIZED into the posting (the classic posting-norm
  * trick) so search never joins a doc-side table; `terms` carries
  * (term, df); `stats` is one row (n, sumlen). BM25 parameters enter at
  * search time, so one index serves any (k1, b).
  *
  * Scale shape: the build is ONE shuffle keyed by (term, doc). A search
  * broadcasts the query-term set into the postings join (only matched
  * postings flow), aggregates per (query, doc) — that aggregation is the
  * only search shuffle — and ranks inside a per-query window partition.
  * The stored form partitions postings by a term hash-bucket column so a
  * search reads only its terms' buckets (partition pruning, same
  * mechanism `ivfSearchStored` gates).
  *
  * Determinism: per-term contributions are quantized to DECIMAL(18,9)
  * BEFORE the per-document sum (exact, order-free — the q84_bm25
  * convention extended to aggregate sums), and ranking orders on the
  * exact decimal, so sub-ulp `ln` differences between engines can flip
  * neither scores nor ranks.
  */
object Retrieval {

  /** An inverted index over (idCol, textCol). */
  final case class TextIndex(postings: DataFrame, terms: DataFrame,
      stats: DataFrame)

  /** Build the index: postings (term, doc_id, tf, len), terms (term, df),
    * stats (n, sumlen). One shuffle over the corpus.
    *
    * Two build-time disciplines (both SCALE.md rules): if the corpus
    * arrives in fewer splits than the cluster has cores (the local
    * single-file fixture; a no-op on a real corpus that lands in
    * thousands of splits), it is respread first so the tokenize/explode
    * CPU parallelizes; and postings — which feed THREE consumers (the
    * search join, the df aggregate, the stored write) — are eagerly
    * pinned so the corpus tokenize pass runs exactly once,
    * not once per consumer.
    */
  def buildIndex(docs: DataFrame, idCol: String, textCol: String): TextIndex = {
    val p = docs.sparkSession.sparkContext.defaultParallelism
    val src = if (docs.rdd.getNumPartitions < p) docs.repartition(2 * p) else docs
    val t = tokens(col(textCol))
    val exploded = src.select(col(idCol).as("doc_id"), size(t).as("len"),
      explode(t).as("term"))
    val postings = Checkpoints.pin(exploded
      .groupBy(col("term"), col("doc_id"), col("len"))
      .agg(count(lit(1)).as("tf")))
    val terms = postings.groupBy(col("term")).agg(count(lit(1)).as("df"))
    // corpus stats straight off the docs scan — map-side aggregate, no
    // shuffle (postings would need a second doc_id-keyed aggregation)
    val stats = src.select(size(t).as("len"))
      .agg(count(lit(1)).cast("double").as("n"),
        sum(col("len").cast("long")).cast("double").as("sumlen"))
    TextIndex(postings, terms, stats)
  }

  /** BM25 contribution of one matched posting, written in the exact
    * operation order the DuckDB oracle mirrors (q84 conventions).
    */
  private def contrib(k1: Double, b: Double): Column = {
    val tfc = col("tf").cast("double")
    val idf = log((col("n") - col("df").cast("double") + 0.5) /
      (col("df").cast("double") + 0.5) + 1.0)
    (idf * (tfc * (k1 + 1.0)) /
      (tfc + lit(k1) * (lit(1.0 - b) +
        lit(b) * (col("len").cast("double") / (col("sumlen") / col("n"))))))
      .cast("decimal(18,9)")
  }

  /** Top-k BM25 retrieval for a batch of queries (`query_id`, `qtext`):
    * (query_id, doc_id, rk, score). Distinct query terms each contribute
    * once (short-query convention); documents matching no term don't
    * appear. The query side is broadcast; the only shuffle aggregates
    * matched postings per (query, doc).
    */
  def searchBm25(index: TextIndex, queries: DataFrame, k: Int,
      k1: Double = 1.2, b: Double = 0.75): DataFrame = {
    require(k > 0, s"k must be positive: $k")
    val qt = queries.select(col("query_id"),
      explode(array_distinct(tokens(col("qtext")))).as("term"))
    val matched = index.postings
      .join(broadcast(qt), Seq("term"))
      .join(broadcast(index.terms.join(broadcast(qt.select(col("term")).distinct()),
        Seq("term"))), Seq("term"))
      .crossJoin(broadcast(index.stats))
    val scored = matched
      .groupBy(col("query_id"), col("doc_id"))
      .agg(sum(contrib(k1, b)).as("sdec"))
    scored
      .withColumn("rk", row_number().over(
        Window.partitionBy(col("query_id"))
          .orderBy(col("sdec").desc, col("doc_id"))))
      .filter(col("rk") <= k)
      .select(col("query_id"), col("doc_id"), col("rk"),
        col("sdec").cast("double").as("score"))
  }

  /** Hard-negative mining for retrieval/embedding training (the DPR /
    * sentence-transformers recipe): for each query, retrieve the BM25
    * top `kPos + kNeg` and emit ranks kPos+1 .. kPos+kNeg — documents
    * the lexical ranker finds MOST similar yet which rank below the
    * presumed-relevant head. When an explicit positives table is given
    * (query_id, doc_id), those documents are excluded by anti-join
    * instead of by rank position and the top `kNeg` survivors are kept.
    *
    * Scale shape: everything downstream of [[searchBm25]] operates on
    * rank lists (|Q|·(kPos+kNeg) rows) — the corpus is touched exactly
    * once by the retrieval itself; the positives anti-join is
    * broadcastable because a labeled positives set is training
    * metadata, orders smaller than the corpus.
    *
    * Returns (query_id, doc_id, rk, score): `rk` is the rank in the
    * ORIGINAL retrieval list (1-based), so the consumer can see how
    * close each negative sat to the head.
    */
  def hardNegatives(index: TextIndex, queries: DataFrame, kPos: Int,
      kNeg: Int, positives: Option[DataFrame] = None,
      k1: Double = 1.2, b: Double = 0.75): DataFrame = {
    require(kPos >= 0, s"kPos must be non-negative: $kPos")
    require(kNeg > 0, s"kNeg must be positive: $kNeg")
    val top = searchBm25(index, queries, kPos + kNeg, k1, b)
    positives match {
      case None => top.filter(col("rk") > kPos)
      case Some(pos) =>
        val keep = top.join(broadcast(pos.select(col("query_id"), col("doc_id"))),
          Seq("query_id", "doc_id"), "left_anti")
        keep.withColumn("__keep", row_number().over(
            Window.partitionBy(col("query_id"))
              .orderBy(col("rk"))))
          .filter(col("__keep") <= kNeg).drop("__keep")
    }
  }

  /** Reciprocal-rank fusion of retrieval arms (the standard
    * hybrid-search combiner, Cormack/Clarke/Buettcher SIGIR'09): each
    * arm is a rank list (query_id, doc_id, rk); a document's fused
    * score is the sum over arms of `scale div (kRrf + rk)`. Exact
    * integer micro-units (the [[Graphs]] discipline) — floor division
    * on non-negative integers is bit-identical in any engine and the
    * sum is order-free, so fused ranks can never flip across engines.
    *
    * Scale shape: arms arrive already top-k-bounded (|Q|·k rows each —
    * e.g. [[searchBm25]] and a `Similarity` ANN arm), so fusion never
    * touches the corpus; one union plus one (query, doc)-keyed
    * aggregate is the only shuffle, and the final ranking windows
    * within a query's ≤ arms·k fused candidates.
    *
    * Returns (query_id, doc_id, rk, score_u) — the fused top `k` per
    * query, ties broken by doc_id.
    */
  def rrfFuse(arms: Seq[DataFrame], k: Int, kRrf: Int = 60,
      scale: Long = 1000000000000L): DataFrame = {
    require(arms.nonEmpty, "rrfFuse needs at least one arm")
    require(k > 0, s"k must be positive: $k")
    require(kRrf >= 0, s"kRrf must be non-negative: $kRrf")
    require(scale > 0, s"scale must be positive: $scale")
    val union = arms
      .map(_.select(col("query_id"), col("doc_id"),
        col("rk").cast("long").as("rk")))
      .reduce(_ unionByName _)
    union
      .withColumn("c", expr(s"${scale}L div (${kRrf}L + rk)"))
      .groupBy(col("query_id"), col("doc_id"))
      .agg(sum(col("c")).as("score_u"))
      .withColumn("rk", row_number().over(
        Window.partitionBy(col("query_id"))
          .orderBy(col("score_u").desc, col("doc_id"))))
      .filter(col("rk") <= k)
      .select(col("query_id"), col("doc_id"), col("rk"), col("score_u"))
  }

  /** IR quality metrics for a rank list against a relevance set —
    * the evaluation harness a retrieval/dedup pipeline runs after every
    * index or model change: per-query recall@k, reciprocal rank, and
    * nDCG@k. `results`: (query_id, doc_id, rk); `qrels`: (query_id,
    * doc_id).
    *
    * Determinism: the reciprocal rank is exact integer micro-units
    * (`scale div first_rk`); DCG terms use the `ln(2)/ln(rk+1)` form
    * quantized to DECIMAL(18,9) BEFORE summing (the q84 BM25
    * discipline — ulp-level libm differences can't flip a quantized
    * term), and ideal DCG folds the same quantized terms over
    * `sequence(1, min(tot_rel, k))`; the final nDCG divides the two
    * exact decimals as doubles (one IEEE division).
    *
    * Scale: rank lists arrive |Q|·k-bounded; qrels aggregate per query
    * before the metrics join — per-query rows only.
    */
  def evalMetrics(results: DataFrame, qrels: DataFrame, k: Int,
      scale: Long = 1000000000000L): DataFrame = {
    require(k > 0, s"k must be positive: $k")
    def dcgTerm(c: Column): Column =
      (lit(math.log(2.0)) / log(c + lit(1.0))).cast("decimal(18,9)")
    // duplicate qrels lines (common in hand-assembled judgment files)
    // would inflate tot_rel AND fan out the hits join — dedup first
    val rels = qrels.select(col("query_id"), col("doc_id")).distinct()
    val tot = rels.groupBy(col("query_id")).agg(count(lit(1)).as("tot_rel"))
    val hits = results.filter(col("rk") <= k)
      .join(rels, Seq("query_id", "doc_id"))
    val per = hits.groupBy(col("query_id"))
      .agg(count(lit(1)).as("rel_found"),
        min(col("rk")).as("first_rk"),
        sum(dcgTerm(col("rk").cast("double"))).as("dcg"))
    tot.join(per, Seq("query_id"), "left")
      .withColumn("rel_found", coalesce(col("rel_found"), lit(0L)))
      .withColumn("recall",
        col("rel_found").cast("double") / col("tot_rel").cast("double"))
      .withColumn("rr_u", coalesce(expr(s"${scale}L div first_rk"), lit(0L)))
      // acc at DECIMAL(28,9): (28,9)+(18,9) widens to (29,9) with NO
      // scale loss (a (38,9) acc would — Spark trims to scale 8), and
      // the cast back is lossless for sums of <= k unit-sized terms
      .withColumn("idcg", aggregate(
        sequence(lit(1L), least(col("tot_rel"), lit(k.toLong))),
        lit(BigDecimal(0)).cast("decimal(28,9)"),
        (acc, i) => (acc + dcgTerm(i.cast("double"))).cast("decimal(28,9)")))
      .withColumn("ndcg",
        coalesce(col("dcg").cast("double"), lit(0.0)) /
          col("idcg").cast("double"))
      .select(col("query_id"), col("tot_rel"), col("rel_found"),
        col("recall"), col("rr_u"), col("ndcg"))
  }

  /** Persist the index partitioned by a term hash bucket (`tb`), the
    * build-once production layout: `searchBm25Stored` prunes to the
    * buckets of the query's terms. `nBuckets` sizes partitions — at
    * 100 TB a few thousand buckets keeps each a scannable slice.
    */
  def writeIndex(index: TextIndex, path: String, nBuckets: Int = 64): Unit = {
    require(nBuckets > 0, s"nBuckets must be positive: $nBuckets")
    index.postings
      .withColumn("tb", pmod(xxhash64(col("term")), lit(nBuckets.toLong)))
      .write.mode("overwrite").partitionBy("tb")
      .parquet(s"$path/postings")
    index.terms.write.mode("overwrite").parquet(s"$path/terms")
    index.stats.write.mode("overwrite").parquet(s"$path/stats")
  }

  /** Search a stored index: reads ONLY the postings buckets containing
    * the query's terms (an `isin` partition filter on `tb` — verifiable
    * in the scan's PartitionFilters, plan-gated like `ivfSearchStored`).
    */
  def searchBm25Stored(spark: SparkSession, path: String, queries: DataFrame,
      k: Int, nBuckets: Int = 64, k1: Double = 1.2, b: Double = 0.75): DataFrame = {
    // bucket ids of the query's terms, computed with Spark's own xxhash64
    // so they bit-match writeIndex's `tb` (bounded: distinct query terms)
    val buckets = queries
      .select(explode(array_distinct(tokens(col("qtext")))).as("term"))
      .select(pmod(xxhash64(col("term")), lit(nBuckets.toLong)).as("tb"))
      .distinct().collect().map(_.getLong(0)).toIndexedSeq
    val postings = spark.read.parquet(s"$path/postings")
      .filter(col("tb").isin(buckets: _*))
    val terms = spark.read.parquet(s"$path/terms")
    val stats = spark.read.parquet(s"$path/stats")
    searchBm25(TextIndex(postings, terms, stats), queries, k, k1, b)
  }
}
