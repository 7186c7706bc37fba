package graft.functions

/** JVM twin of `Classifier.tokenBucket` + the frozen-weight multi-class
  * scorer (`Classifier.scoreSoftmaxMicro`'s row kernel) + DSIR's feature
  * counter and scorer (`Selection.dsirTable` / `scoreWith`).
  *
  * Why typed: the columnar K-class integer fold would be referenced once
  * per output column (pred, best score), and CollapseProject inlines the
  * whole md5-hashing fold into every consumer — a binary scorer can
  * dodge that by deriving its second column arithmetically (q143), a
  * K-class argmax cannot. One pass per row here computes every class
  * sum, the argmax, and the token count.
  *
  * Bucket parity is EXACT with the column path
  * (`pmod(conv(substring(md5(tok), 1, 15), 16, 10) cast long, buckets)`):
  * lowercase-hex MD5, first 15 hex digits parsed as a long (< 2^60, no
  * overflow), floor-mod. [[graft.operators.ClassifierSpec]] pins the
  * parity on the fixture corpus.
  */
object ClassifierImpl {

  private val md5Local: ThreadLocal[java.security.MessageDigest] =
    ThreadLocal.withInitial(() =>
      java.security.MessageDigest.getInstance("MD5"))

  def tokenBucket(tok: String, buckets: Int): Int = {
    val md = md5Local.get()
    md.reset()
    val d = md.digest(tok.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    // first 15 hex digits = first 7 bytes + the high nibble of byte 8
    var v = 0L
    var i = 0
    while (i < 7) { v = (v << 8) | (d(i) & 0xffL); i += 1 }
    v = (v << 4) | ((d(7) & 0xf0L) >> 4)
    java.lang.Math.floorMod(v, buckets.toLong).toInt
  }

  /** Per-document bucket occurrence counts: (bucket, count) pairs for
    * every distinct feature bucket the doc's tokens hash into. The
    * row kernel behind the exact-integer gradient/count aggregations
    * (`Classifier.gradientAtZero` / `softmaxGradientAtZero`) — the
    * column-HOF form re-interpreted the md5+conv lambda per token
    * (round-18 measurement: ~25 µs per occurrence, the documented
    * interpreted-HOF tax), and pre-aggregating per doc also shrinks the
    * exploded row count from one-per-occurrence to one-per-distinct-
    * bucket (≤ min(tokens, buckets)). Null text contributes nothing
    * (the column twin's `explode(null)` semantics); empty-trimmed text
    * contributes its [""] token like the column `split` does.
    */
  def bucketCounts(text: String, buckets: Int): Array[(Int, Int)] = {
    val toks = TextFunctions.tokens(text)
    tally(toks.length, toks(_), buckets)
  }

  /** DSIR's per-document feature counts: [[bucketCounts]] over every
    * unigram and every adjacent bigram (`tok_i + " " + tok_{i+1}`) —
    * the row kernel behind `Selection.dsirTable`'s one aggregate. Null
    * text contributes nothing.
    */
  def featureCounts(text: String, buckets: Int): Array[(Int, Int)] = {
    val toks = TextFunctions.tokens(text)
    tally(featureTotal(toks.length), feature(toks, _), buckets)
  }

  /** (n_feats, lw_micro): the exact integer sum of `lam` over a
    * document's [[featureCounts]] features, one `lam` entry per bucket —
    * `Selection.scoreWith`'s row kernel. Null text has no features
    * (0, 0); the caller decides how a null row reads.
    */
  def featureScore(text: String, lam: Array[Long]): (Long, Long) = {
    val toks = TextFunctions.tokens(text)
    val n = featureTotal(toks.length)
    var s = 0L
    var i = 0
    while (i < n) { s += lam(tokenBucket(feature(toks, i), lam.length)); i += 1 }
    (n.toLong, s)
  }

  /** Unigrams then bigrams: n tokens give n + (n − 1) features. */
  private def featureTotal(nToks: Int): Int = if (nToks == 0) 0 else 2 * nToks - 1

  private def feature(toks: Array[String], i: Int): String =
    if (i < toks.length) toks(i)
    else toks(i - toks.length) + " " + toks(i - toks.length + 1)

  /** (bucket, count) over the `n` items `item(0 until n)`. */
  private def tally(n: Int, item: Int => String, buckets: Int): Array[(Int, Int)] =
    if (buckets <= (1 << 16)) {
      val cnt = new Array[Int](buckets)
      var t = 0
      while (t < n) { cnt(tokenBucket(item(t), buckets)) += 1; t += 1 }
      val out = Array.newBuilder[(Int, Int)]
      var b = 0
      while (b < buckets) { if (cnt(b) > 0) out += ((b, cnt(b))); b += 1 }
      out.result()
    } else {
      val m = scala.collection.mutable.LongMap.empty[Int]
      var t = 0
      while (t < n) {
        val b = tokenBucket(item(t), buckets)
        m(b) = m.getOrElse(b, 0) + 1; t += 1
      }
      m.iterator.map { case (b, c) => (b.toInt, c) }.toArray
    }

  /** (nToks, scoreMicro): exact integer weight sum over the token
    * buckets — `Classifier.scoreMicro`'s row kernel (same rationale as
    * [[bucketCounts]]; null text scores as empty, the
    * [[scoreSoftmax]] convention).
    */
  def scoreMicro(text: String, weightsMicro: Array[Long]): (Long, Long) = {
    val toks = TextFunctions.tokens(if (text == null) "" else text)
    val buckets = weightsMicro.length
    var s = 0L
    var t = 0
    while (t < toks.length) { s += weightsMicro(tokenBucket(toks(t), buckets)); t += 1 }
    (toks.length.toLong, s)
  }

  /** (nToks, predIdx, bestMicro): exact integer per-class sums over the
    * token buckets, argmax with ties to the LOWEST class index.
    */
  def scoreSoftmax(text: String, weightsMicro: Array[Array[Long]]): (Long, Int, Long) = {
    val toks = TextFunctions.tokens(if (text == null) "" else text)
    val k = weightsMicro.length
    val sums = new Array[Long](k)
    val buckets = weightsMicro(0).length
    var t = 0
    while (t < toks.length) {
      val b = tokenBucket(toks(t), buckets)
      var c = 0
      while (c < k) { sums(c) += weightsMicro(c)(b); c += 1 }
      t += 1
    }
    var best = 0
    var c = 1
    while (c < k) { if (sums(c) > sums(best)) best = c; c += 1 }
    (toks.length.toLong, best, sums(best))
  }
}
