package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Text-analysis column functions for large-scale corpus pipelines.
  *
  * Everything here is pure `Column` composition over
  * org.apache.spark.sql.functions — whole-stage-codegen friendly, no UDFs,
  * so Catalyst can pushdown/prune around them and the hot path stays in
  * generated code at 100 TB. The one exception is the typed twin of
  * [[tokens]], the token rule for typed kernels; it lives here so the
  * rule has one home.
  *
  * Hash-bearing functions (minhash/fingerprint) use md5 so an external SQL
  * engine (the DuckDB oracle) can reproduce them bit-for-bit; a faster
  * xxhash64 variant of each is provided for production use where
  * cross-engine reproducibility is not required.
  */
object TextFunctions {

  /** Whitespace tokenization — graft's one token rule, which every
    * oracle replays as `string_split_regex(trim(text), '\s+')` (alias
    * `regexp_split_to_array`). SQL `trim` strips SPACES only, and SQL
    * `split` keeps empty fields (limit -1): `"hello\n"` gives
    * `["hello", ""]`, `"\tz"` gives `["", "z"]`, `""` gives `[""]`, and
    * null text gives null (explode emits no rows). Java's
    * `text.trim.split("\\s+")` is a different rule: it strips edge tabs
    * and newlines and drops trailing empty fields. The typed twin below
    * is this rule for code that runs over strings.
    */
  def tokens(text: Column): Column = split(trim(text), "\\s+")

  /** [[tokens]] over a string, for typed kernels — element for element
    * the Column form's array; null text gives no tokens.
    */
  def tokens(text: String): Array[String] = {
    if (text == null) return Array.empty
    var i = 0
    var j = text.length
    while (i < j && text.charAt(i) == ' ') i += 1
    while (j > i && text.charAt(j - 1) == ' ') j -= 1
    text.substring(i, j).split("\\s+", -1)
  }

  /** Token count. */
  def tokenCount(text: Column): Column = size(tokens(text))

  /** Distinct n-word shingles; empty array when the doc is shorter than n
    * tokens (mirrors the oracle's `range(1, greatest(len-n+1, 1))`).
    */
  def wordShingles(text: Column, n: Int): Column = {
    val t = tokens(text)
    when(size(t) >= n,
      array_distinct(transform(
        sequence(lit(1), size(t) - (n - 1)),
        i => concat_ws(" ", slice(t, i, lit(n))))))
      .otherwise(array().cast("array<string>"))
  }

  /** ALL n-word shingles in order, duplicates kept — the form repetition
    * metrics need (dedup'd shingles would hide exactly the signal).
    */
  def wordShinglesAll(text: Column, n: Int): Column = {
    val t = tokens(text)
    when(size(t) >= n,
      transform(
        sequence(lit(1), size(t) - (n - 1)),
        i => concat_ws(" ", slice(t, i, lit(n)))))
      .otherwise(array().cast("array<string>"))
  }

  /** MinHash signature: k independent hash functions simulated as
    * md5(i # shingle); the signature component is the lexicographic min of
    * the fixed-width hex digests (hex-string min == numeric min).
    */
  def minhashSignature(shingles: Column, k: Int): Column =
    array((0 until k).map { i =>
      array_min(transform(shingles, s => md5(concat(lit(s"$i#"), s))))
    }: _*)

  /** LSH band keys over a minhash signature: bands of `rows` signature
    * components hashed together. Two docs collide on a band iff all rows
    * in the band match -> P(candidate) = 1-(1-j^rows)^bands.
    */
  def lshBandKeys(sig: Column, bands: Int, rows: Int): Column =
    array((0 until bands).map { b =>
      val parts = (0 until rows).map(r => element_at(sig, b * rows + r + 1))
      md5(concat_ws(":", (lit(s"$b") +: parts): _*))
    }: _*)

  /** Production minhash (xxhash64 — ~10x cheaper than md5, not
    * oracle-reproducible). Each shingle is string-hashed ONCE
    * (`xxhash64(s)`), and the k components re-hash that 8-byte value with
    * the component index — k fixed-width hashes instead of k walks over
    * the shingle bytes (the classic one-hash minhash family; at k=16 this
    * removes 15/16 of the string hashing, the dominant cost at corpus
    * scale).
    */
  def minhashSignatureFast(shingles: Column, k: Int): Column = {
    val hs = transform(shingles, s => xxhash64(s))
    array((0 until k).map { i =>
      array_min(transform(hs, h => xxhash64(lit(i), h)))
    }: _*)
  }

  /** BPE-style pre-tokenization (the GPT-2 pre-tokenizer shape: leading-
    * space word / number / punctuation runs, plus bare contraction tails)
    * without lookarounds, so the same pattern runs on Java regex and RE2 —
    * engine-neutral and oracle-checkable. A real BPE vocab merge happens
    * downstream in the tokenizer; counting pre-tokens is the standard
    * cheap token-budget estimate for corpus sizing.
    */
  val bpePretokenPattern: String =
    "'(s|t|re|ve|m|ll|d)| ?\\p{L}+| ?\\p{N}+| ?[^\\s\\p{L}\\p{N}]+"

  /** Number of BPE-style pre-tokens in `text`. */
  def bpeTokenCount(text: Column): Column =
    size(regexp_extract_all(text, lit(bpePretokenPattern), lit(0)))

  /** Count of tokens found in `stops`. */
  def stopwordHits(text: Column, stops: Seq[String]): Column =
    size(filter(tokens(text), t => t.isin(stops.map(x => x: Any): _*)))

  /** Stopword ratio in [0,1]; 0 for empty docs. */
  def stopwordRatio(text: Column, stops: Seq[String]): Column = {
    val n = tokenCount(text)
    when(n > 0, stopwordHits(text, stops).cast("double") / n.cast("double"))
      .otherwise(lit(0.0))
  }

  /** Content fingerprint: min md5 over sliding char n-grams (a
    * winnowing-style document signature; oracle-reproducible).
    */
  def charFingerprint(text: Column, n: Int): Column =
    array_min(transform(
      sequence(lit(1), greatest(length(text) - (n - 1), lit(1))),
      i => md5(text.substr(i, lit(n)))))

  /** Production fingerprint via xxhash64 rolling windows. */
  def charFingerprintFast(text: Column, n: Int): Column =
    array_min(transform(
      sequence(lit(1), greatest(length(text) - (n - 1), lit(1))),
      i => xxhash64(text.substr(i, lit(n)))))

  // --- PII scrubbing -------------------------------------------------
  // Patterns stay inside the Java-regex ∩ RE2 subset (no lookaround, no
  // backreferences) so the DuckDB oracle (RE2) replays them identically.
  // NOTE for oracle SQL: DuckDB regexp_replace is first-match unless the
  // 'g' flag is passed; Spark replaces all occurrences by default.
  // Known class edge: Java \s includes \x0B (vertical tab), RE2 \s does
  // not — none of these patterns rely on \s around a \x0B boundary.

  val emailPattern: String = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
  val ipv4Pattern: String = "\\b\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\b"
  /** TPC-H-style phone numbers: `25-989-741-2988`. */
  val phonePattern: String = "\\b\\d{2}-\\d{3}-\\d{3}-\\d{4}\\b"

  /** Replace emails / IPv4s / phone numbers with typed placeholders.
    * Email runs first so its digit-bearing domain can't be half-eaten by
    * the narrower numeric patterns. Pure codegen'd expression — the scrub
    * runs in the scan stage at 100 TB, no shuffle.
    */
  def redactPii(text: Column): Column =
    regexp_replace(
      regexp_replace(
        regexp_replace(text, emailPattern, "<EMAIL>"),
        ipv4Pattern, "<IP>"),
      phonePattern, "<PHONE>")

  /** Number of PII hits by type (email + ip + phone). */
  def piiCount(text: Column): Column =
    regexp_count(text, lit(emailPattern)) +
      regexp_count(regexp_replace(text, emailPattern, "<EMAIL>"),
        lit(ipv4Pattern)) +
      regexp_count(
        regexp_replace(regexp_replace(text, emailPattern, "<EMAIL>"),
          ipv4Pattern, "<IP>"),
        lit(phonePattern))

  /** Canonical text normalization for dedup keys: lowercase, non-alnum
    * runs to a single space, whitespace collapsed, trimmed. The standard
    * pre-pass before exact/near dedup so cosmetic variants (case,
    * punctuation, spacing) collapse to one digest.
    */
  def normalizeText(text: Column): Column =
    trim(regexp_replace(
      regexp_replace(lower(text), "[^a-z0-9\\s]+", " "), "\\s+", " "))

  /** Simple per-language stopword profiles for the n-gram/stopword
    * language-ID heuristic. Public, standard closed-class words.
    */
  val langProfiles: Map[String, Seq[String]] = Map(
    "en" -> Seq("the", "a", "of", "to", "and", "is", "in", "that", "it", "for"),
    "de" -> Seq("der", "die", "das", "und", "ist", "nicht", "ein", "zu", "ich", "mit"),
    "fr" -> Seq("le", "la", "les", "et", "est", "un", "une", "de", "que", "pour"),
    "es" -> Seq("el", "la", "los", "las", "y", "es", "un", "una", "de", "que"),
    "it" -> Seq("il", "la", "e", "che", "di", "un", "una", "per", "non", "sono"))

  /** Language-ID heuristic: the profile with the most stopword hits wins;
    * `und` (undetermined) when nothing matches. Pure column expression —
    * distributes with no shuffle.
    */
  def langId(text: Column): Column = {
    val t = tokens(text)
    val scored = langProfiles.toSeq.sortBy(_._1).map { case (lang, stops) =>
      struct(size(filter(t, x => x.isin(stops.map(s => s: Any): _*))).as("hits"),
        lit(lang).as("lang"))
    }
    val best = greatest(scored: _*)
    when(best.getField("hits") > 0, best.getField("lang")).otherwise(lit("und"))
  }
}
