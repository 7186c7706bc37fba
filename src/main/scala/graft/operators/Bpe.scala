package graft.operators

import graft.functions.TextFunctions.tokens
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Distributed byte-pair-encoding tokenizer training — the canonical
  * "train a tokenizer on the corpus" job of an LLM data pipeline.
  *
  * Architecture (the part that matters at 100 TB): classic BPE trains on
  * the WORD-FREQUENCY table, not the raw corpus — so the corpus-scale
  * work is exactly ONE shuffle ([[wordFrequencies]]: tokenize + count),
  * after which every merge round runs over the compact distinct-word
  * table (vocabulary-sized — millions of rows, not terabytes). Each
  * round is: one distributed pair-count aggregate, a 1-row argmax
  * collect (bounded — planning metadata, the CC-loop pattern), and a
  * map-only merge application. The corpus is never touched again.
  *
  * Merge application is a single left-to-right greedy pass per word.
  * Applying learned merges sequentially in rank order is equivalent to
  * rank-priority application: a merge can only create NEW symbols, and
  * an earlier merge's pair consists of symbols that existed before that
  * merge, so later merges can never create new occurrences of earlier
  * pairs.
  *
  * Reference analog: the closest reference shape is the iterative
  * refinement loop (`IterateDemo.java:22-50`); BPE itself is engine
  * surface the reference lacks.
  */
object Bpe {

  /** (word, freq) over whitespace tokens — THE corpus-scale pass. */
  def wordFrequencies(docs: DataFrame, textCol: String): DataFrame =
    docs.select(explode(tokens(col(textCol))).as("word"))
      .filter(col("word") =!= "")
      .groupBy(col("word")).agg(count(lit(1)).as("freq"))

  /** A word as its initial symbol sequence (single characters). */
  def charSymbols(word: Column): Column =
    transform(sequence(lit(1), length(word)), i => word.substr(i, lit(1)))

  /** Adjacent-pair counts over (syms, freq): (a, b, cnt), weighted by
    * word frequency. One aggregate over the compact word table.
    */
  def pairCounts(words: DataFrame): DataFrame =
    words.filter(size(col("syms")) >= 2)
      .select(explode(transform(sequence(lit(1), size(col("syms")) - 1),
        i => struct(element_at(col("syms"), i).as("a"),
          element_at(col("syms"), (i + 1).cast("int")).as("b")))).as("p"),
        col("freq"))
      .groupBy(col("p.a").as("a"), col("p.b").as("b"))
      .agg(sum(col("freq")).as("cnt"))

  /** One left-to-right greedy merge pass of (a, b) → a+b over a symbol
    * array, as a pure column fold (no UDF).
    */
  def applyMerge(syms: Column, a: String, b: String): Column =
    aggregate(syms, array().cast("array<string>"), (acc, s) =>
      when(size(acc) > 0 && element_at(acc, -1) === a && s === b,
        concat(slice(acc, lit(1), size(acc) - 1), array(lit(a + b))))
        .otherwise(concat(acc, array(s))))

  /** Train `nMerges` merges: returns (rank, left, right, cnt) in learned
    * order. Deterministic argmax (cnt DESC, left, right); stops early
    * when the best pair's count drops below `minFreq` (a pair seen once
    * is noise, not structure).
    *
    * Driver-side loop of O(nMerges) rounds over the word table, with the
    * lineage cut each round (localCheckpoint) so round n doesn't replay
    * rounds 1..n-1 — the [[Clusters]] loop discipline.
    */
  def train(docs: DataFrame, textCol: String, nMerges: Int,
      minFreq: Long = 2L): Seq[(String, String, Long)] = {
    require(nMerges > 0, s"nMerges must be positive: $nMerges")
    var words = wordFrequencies(docs, textCol)
      .withColumn("syms", charSymbols(col("word")))
      .select(col("syms"), col("freq"))
      .localCheckpoint(true)
    val merges = Seq.newBuilder[(String, String, Long)]
    var done = false
    var round = 0
    try while (round < nMerges && !done) {
      val best = pairCounts(words)
        .orderBy(col("cnt").desc, col("a"), col("b"))
        .limit(1).collect()
      if (best.isEmpty || best(0).getLong(2) < minFreq) done = true
      else {
        val (a, b, c) = (best(0).getString(0), best(0).getString(1),
          best(0).getLong(2))
        merges += ((a, b, c))
        val old = words
        words = words.withColumn("syms", applyMerge(col("syms"), a, b))
          .localCheckpoint(true)
        Checkpoints.free(old)
      }
      round += 1
    } finally Checkpoints.free(words)
    merges.result()
  }

  /** Tokenize a corpus with learned merges: adds `bpe` (array of
    * symbols) — each word's chars folded through the merges in rank
    * order, words concatenated in document order. Column-expression form
    * for bounded merge lists (expression depth grows with merges); a
    * production 30k-merge vocab would apply the same greedy loop in one
    * typed mapPartitions pass — see [[tokenizeTyped]], which this form
    * is spec-matched against.
    */
  def tokenize(docs: DataFrame, textCol: String,
      merges: Seq[(String, String)]): DataFrame = {
    val words = tokens(col(textCol))
    val perWord = (w: Column) =>
      merges.foldLeft(charSymbols(w)) { case (s, (a, b)) => applyMerge(s, a, b) }
    docs.withColumn("bpe", flatten(transform(words, perWord)))
  }

  /** [[tokenize]] as one typed pass — the production shape for real
    * vocabularies: merges become an in-memory rank map applied by a tight
    * greedy loop per word (O(len · merges-applied), no expression tree).
    */
  def tokenizeTyped(docs: DataFrame, textCol: String,
      merges: Seq[(String, String)]): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    val ranked = merges.zipWithIndex.toMap
    val bMerges = spark.sparkContext.broadcast(ranked)
    val withBpe = docs.select(col(textCol).cast("string")).as[String]
      .mapPartitions { it =>
        val rank = bMerges.value
        it.map { text =>
          val toks = tokens(text).filter(_.nonEmpty)
          val out = Seq.newBuilder[String]
          toks.foreach { w =>
            var syms = w.map(_.toString).toVector
            var changed = true
            while (changed && syms.length >= 2) {
              // lowest-rank applicable merge, applied left-to-right
              var bestRank = Int.MaxValue
              var i = 0
              while (i < syms.length - 1) {
                rank.get((syms(i), syms(i + 1))).foreach { r =>
                  if (r < bestRank) bestRank = r
                }
                i += 1
              }
              if (bestRank == Int.MaxValue) changed = false
              else {
                val (a, b) = merges(bestRank)
                val acc = Vector.newBuilder[String]
                var j = 0
                while (j < syms.length) {
                  if (j < syms.length - 1 && syms(j) == a && syms(j + 1) == b) {
                    acc += (a + b); j += 2
                  } else { acc += syms(j); j += 1 }
                }
                syms = acc.result()
              }
            }
            out ++= syms
          }
          (text, out.result())
        }
      }.toDF(textCol, "bpe")
    docs.join(withBpe.dropDuplicates(textCol), Seq(textCol))
  }
}
