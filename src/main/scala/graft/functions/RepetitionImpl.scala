package graft.functions

/** The one implementation of the run-length repetition statistics behind
  * `Repetition.ngramStats` (q131/q135), `filterByRepetition` and
  * `lineStats`: sort a document's units (n-grams or lines) and walk the
  * runs once. A run of r copies of unit g adds one distinct unit and, when
  * r > 1, r−1 duplicate occurrences and r·chars(g) duplicate characters.
  *
  * Semantics are Spark's column functions', so the SQL oracles (explode +
  * GROUP BY) match exactly: characters are code points, as `length`
  * counts them, and the modal unit's count ties go to the smallest in
  * UTF-8 byte order, as `array_sort` and `ORDER BY` compare strings
  * (`String.length` and `compareTo` disagree on non-BMP text).
  * Tokenization is [[TextFunctions.tokens]].
  */
object RepetitionImpl {

  /** Run-length statistics over one unit bag. `topChars` = topCnt ·
    * chars(topGram); an empty bag is all zeros with `topGram` "".
    */
  final case class Stats(total: Long, distinct: Long, dupOcc: Long,
      dupChars: Long, topCnt: Long, topChars: Long, topGram: String)

  /** Per-document line statistics (`Repetition.lineStats`). */
  final case class LineStats(nLines: Long, nDistinct: Long,
      dupChars: Long, totalChars: Long)

  /** Characters as Spark's `length` counts them: code points. */
  private def chars(s: String): Long = s.codePointCount(0, s.length).toLong

  /** Orders as UTF-8 bytes do (code point order), without encoding:
    * UTF-16 order, except that surrogates (code points ≥ U+10000) sort
    * after U+E000–U+FFFF.
    */
  private def compareUtf8(a: String, b: String): Int = {
    var i = 0
    while (i < a.length && i < b.length && a.charAt(i) == b.charAt(i)) i += 1
    if (i == a.length || i == b.length) a.length - b.length
    else {
      def key(c: Char): Int = if (Character.isSurrogate(c)) c + 0x10000 else c
      key(a.charAt(i)) - key(b.charAt(i))
    }
  }

  /** Statistics over `units`, which this sorts in place. */
  private def runStats(units: Array[String]): Stats = {
    val m = units.length
    java.util.Arrays.sort(units, java.util.Comparator.naturalOrder[String]())
    var distinct = 0L; var dupOcc = 0L; var dupChars = 0L
    var topCnt = 0L; var topGram = ""
    var runStart = 0
    var i = 1
    while (i <= m) {
      if (i == m || units(i) != units(runStart)) {
        val run = (i - runStart).toLong
        val g = units(runStart)
        distinct += 1
        if (run > 1) { dupOcc += run - 1; dupChars += run * chars(g) }
        if (run > topCnt || (run == topCnt && compareUtf8(g, topGram) < 0)) {
          topCnt = run; topGram = g
        }
        runStart = i
      }
      i += 1
    }
    Stats(m.toLong, distinct, dupOcc, dupChars, topCnt,
      topCnt * chars(topGram), topGram)
  }

  /** Statistics over the space-joined n-grams of `toks` (none when there
    * are fewer than n tokens).
    */
  def ngramStats(toks: Array[String], n: Int): Stats = {
    val m = math.max(toks.length - n + 1, 0)
    val grams = new Array[String](m)
    var i = 0
    while (i < m) {
      if (n == 1) grams(i) = toks(i)
      else {
        val sb = new java.lang.StringBuilder(toks(i))
        var j = 1
        while (j < n) { sb.append(' ').append(toks(i + j)); j += 1 }
        grams(i) = sb.toString
      }
      i += 1
    }
    runStats(grams)
  }

  /** The per-document report: one [[Stats]] per order in `ns`, over one
    * tokenization. Null text has no tokens, so every order is all zeros.
    */
  def report(text: String, ns: Array[Int]): Array[Stats] = {
    val toks = TextFunctions.tokens(text)
    ns.map(ngramStats(toks, _))
  }

  /** Line statistics over `text` split on the literal `delim` (trailing
    * empty lines kept, as Spark's `split` keeps them); null for null text.
    */
  def lineStats(text: String, delim: String): LineStats = {
    if (text == null) return null
    val lines = text.split(java.util.regex.Pattern.quote(delim), -1)
    var totalChars = 0L
    lines.foreach(l => totalChars += chars(l))
    val s = runStats(lines)
    LineStats(s.total, s.distinct, s.dupChars, totalChars)
  }

  /** The Gopher keep decision: duplicate-word fraction, top-bigram
    * character fraction and duplicate-trigram character fraction, each
    * against its threshold. Null text is dropped; the fractions' base is
    * the text's character count. Short-circuits per condition, so most
    * rejects never compute the trigram pass.
    */
  def keep(text: String, maxDupWordFrac: Double,
      maxTopBigramCharFrac: Double, maxDupTrigramCharFrac: Double): Boolean = {
    if (text == null) return false
    val toks = TextFunctions.tokens(text)
    val textChars = chars(text).toDouble
    val s1 = ngramStats(toks, 1)
    val keep1 = s1.total == 0 ||
      1.0 - s1.distinct.toDouble / s1.total.toDouble <= maxDupWordFrac
    if (!keep1) return false
    if (textChars == 0) return true
    val s2 = ngramStats(toks, 2)
    if (s2.topChars.toDouble / textChars > maxTopBigramCharFrac) return false
    val s3 = ngramStats(toks, 3)
    s3.dupChars.toDouble / textChars <= maxDupTrigramCharFrac
  }
}
