package graft.functions

/** Scala-native twin of the md5 minhash column functions in
  * [[TextFunctions]] — bit-identical results, ~50x faster per row.
  *
  * Higher-order Column functions (transform/aggregate) are
  * CodegenFallback: evaluated interpreted, re-walking the expression tree
  * per element. For the minhash hot path (k hash functions × every
  * shingle) that interpretation tax dominates, so the dedup operator runs
  * this single-pass implementation inside a typed flatMap instead;
  * OperatorsSpec asserts both paths produce identical signatures.
  */
object MinhashImpl {

  private val hexChars = "0123456789abcdef".toCharArray

  /** One digest per thread: getInstance("MD5") does a JCA provider lookup
    * per call, which dominates when hashing millions of short shingles.
    */
  private val digest = new ThreadLocal[java.security.MessageDigest] {
    override def initialValue(): java.security.MessageDigest =
      java.security.MessageDigest.getInstance("MD5")
  }

  /** Lowercase hex md5 — matches Spark's and DuckDB's `md5()`. */
  def md5hex(s: String): String = {
    val md = digest.get()
    md.reset()
    val d = md.digest(s.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    val out = new Array[Char](32)
    var i = 0
    while (i < 16) {
      out(2 * i) = hexChars((d(i) >> 4) & 0xf)
      out(2 * i + 1) = hexChars(d(i) & 0xf)
      i += 1
    }
    new String(out)
  }

  /** Distinct n-word shingles over [[TextFunctions.tokens]]. Empty when
    * the doc has fewer than n tokens or a null text.
    */
  def shingles(text: String, n: Int): Array[String] = {
    val toks = TextFunctions.tokens(text)
    if (toks.length < n) Array.empty
    else toks.sliding(n).map(_.mkString(" ")).toArray.distinct
  }

  /** MinHash signature: component i = min over shingles of md5("i#" + s). */
  def signature(sh: Array[String], k: Int): Array[String] =
    Array.tabulate(k) { i =>
      val prefix = s"$i#"
      var min: String = null
      var j = 0
      while (j < sh.length) {
        val h = md5hex(prefix + sh(j))
        if (min == null || h < min) min = h
        j += 1
      }
      min
    }

  /** LSH band keys: md5("b:" + sig(b*rows) + ":" + ...) — identical string
    * layout to TextFunctions.lshBandKeys (concat_ws ":").
    */
  def bandKeys(sig: Array[String], bands: Int, rows: Int): Array[String] =
    Array.tabulate(bands) { b =>
      val sb = new StringBuilder
      sb.append(b)
      var r = 0
      while (r < rows) { sb.append(':').append(sig(b * rows + r)); r += 1 }
      md5hex(sb.toString)
    }
}

/** Scala-native twin of Dedup.simhashMd5's Column form — bit-identical
  * signatures (parity-spec'd), one pass per doc instead of exploding
  * |tokens| rows and evaluating `bits` aggregate columns over each.
  */
object SimhashMd5Impl {

  /** `bits`-wide md5 simhash of [[TextFunctions.tokens]] — duplicates
    * kept, simhash weighs every occurrence.
    */
  def signature(text: String, bits: Int): Long = {
    val hexChars = bits / 4
    val counters = new Array[Int](bits)
    val toks = TextFunctions.tokens(text)
    var i = 0
    while (i < toks.length) {
      val h = java.lang.Long.parseLong(
        MinhashImpl.md5hex(toks(i)).substring(0, hexChars), 16)
      var j = 0
      while (j < bits) {
        if (((h >>> j) & 1L) == 1L) counters(j) += 1 else counters(j) -= 1
        j += 1
      }
      i += 1
    }
    var sig = 0L
    var j = 0
    while (j < bits) {
      if (counters(j) > 0) sig |= (1L << j)
      j += 1
    }
    sig
  }
}

/** Scala-native twin of the xxhash64 minhash column path
  * (TextFunctions.minhashSignatureFast + xxhash64 band keys) — calls the
  * same XxHash64 Spark uses for the `xxhash64()` SQL function, so results
  * are bit-identical to the Column version (MinhashFastParitySpec), while
  * paying the per-row interpreted-HOF tax exactly once per doc instead of
  * once per (shingle × hash function).
  */
object XxMinhashImpl {
  import org.apache.spark.sql.catalyst.expressions.XxHash64Function
  import org.apache.spark.sql.types.{IntegerType, LongType}
  import org.apache.spark.unsafe.types.UTF8String

  /** xxhash64(lit(i), s) folds left with seed 42: the int index first,
    * then the string bytes with the running result as seed.
    */
  private def seedFor(i: Int): Long = XxHash64Function.hash(i, IntegerType, 42L)

  /** MinHash signature: component i = min over shingles of
    * xxhash64(i, xxhash64(shingle)); signed long min (array_min on
    * LongType order). The shingle's bytes are walked ONCE — the k
    * components re-hash the resulting 8-byte value, so per-shingle cost
    * is one string hash + k constant-width hashes instead of k string
    * hashes (one-hash minhash family; same collision analysis, the
    * derived hashes stay pairwise-independent enough for banding).
    */
  def signature(sh: Array[String], k: Int): Array[Long] = {
    val seeds = Array.tabulate(k)(seedFor)
    val out = Array.fill(k)(Long.MaxValue)
    var j = 0
    while (j < sh.length) {
      val h0 = XxHash64Function.hash(UTF8String.fromString(sh(j)),
        org.apache.spark.sql.types.StringType, 42L)
      var i = 0
      while (i < k) {
        val h = XxHash64Function.hash(h0, LongType, seeds(i))
        if (h < out(i)) out(i) = h
        i += 1
      }
      j += 1
    }
    out
  }

  /** Distinct n-word shingles hashed to xxhash64 longs (seed 42 — the
    * `xxhash64()` SQL function's seed, so an external engine can
    * reproduce the set). Jaccard over the hashed sets equals Jaccard
    * over the string sets unless two DISTINCT shingles of the same doc
    * pair collide in 64 bits (P ~ s²/2⁶⁴ per doc pair, s ≈ hundreds —
    * negligible); the win is the verify join shuffling 8-byte longs
    * instead of ~25-byte strings and intersecting with long equality.
    */
  def hashedShingles(text: String, n: Int): Array[Long] = {
    val sh = MinhashImpl.shingles(text, n)
    val out = new Array[Long](sh.length)
    var i = 0
    while (i < sh.length) {
      out(i) = XxHash64Function.hash(UTF8String.fromString(sh(i)),
        org.apache.spark.sql.types.StringType, 42L)
      i += 1
    }
    // distinct AFTER hashing: a cross-shingle collision inside one doc
    // must collapse to one element so |A| stays consistent with what the
    // intersection sees
    out.distinct
  }

  /** Band key b = xxhash64(b, sig(b*rows), ..) — same left fold. */
  def bandKeys(sig: Array[Long], bands: Int, rows: Int): Array[Long] =
    Array.tabulate(bands) { b =>
      var seed = seedFor(b)
      var r = 0
      while (r < rows) {
        seed = XxHash64Function.hash(sig(b * rows + r), LongType, seed)
        r += 1
      }
      seed
    }

  /** Full doc -> band-row pipeline shared by the batch candidates
    * (Dedup.minhashCandidatesFast) and the streaming claims
    * (StreamDedup): (band index, band key) per band; empty when the doc
    * has no shingles (it cannot collide). Callers validate banding params
    * via [[requireBanding]] ONCE per operator — rows = 0 bands would
    * degenerate every key to the constant band seed and pair the whole
    * corpus.
    */
  def bandRows(text: String, shingleN: Int, k: Int, bands: Int)
      : Iterator[(Int, Long)] = {
    val sh = MinhashImpl.shingles(text, shingleN)
    if (sh.isEmpty) Iterator.empty
    else bandKeys(signature(sh, k), bands, k / bands)
      .iterator.zipWithIndex.map { case (bk, b) => (b, bk) }
  }

  /** Fail fast on banding configs that silently explode: bands must
    * divide k with >= 1 row per band (rows = 0 -> constant band keys ->
    * full cross product; k % bands != 0 -> trailing signature components
    * silently ignored).
    */
  def requireBanding(k: Int, bands: Int): Unit =
    require(bands >= 1 && k >= bands && k % bands == 0,
      s"bands must divide k with >= 1 row per band, got k=$k bands=$bands")
}
