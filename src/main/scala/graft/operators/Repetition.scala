package graft.operators

import graft.functions.RepetitionImpl
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Per-document repetition signals — the Gopher/MassiveText quality-filter
  * family (Rae et al. 2021, appendix A1.1): duplicate-line fraction,
  * top-n-gram character fraction, duplicate-n-gram character fraction —
  * plus intra-document line dedup (keep first occurrence).
  *
  * Every per-document statistic here is computed WITHOUT a shuffle: the
  * report, the filter and the line statistics all run one typed row
  * kernel, [[graft.functions.RepetitionImpl]]'s sort and run-length scan
  * over the document's own units, inside a map-only projection pipelined
  * into the scan — no exploded token table ever materializes, nothing
  * keys on doc_id. Contrast the corpus-level twins (Boilerplate document
  * frequency, BM25 postings), which genuinely need the shuffle because
  * their unit of aggregation spans documents; a document's repetition
  * score does not.
  *
  * Determinism: all emitted statistics are exact integers (counts and
  * code-point character tallies); the modal n-gram's ties go to the
  * smallest in UTF-8 byte order (Spark's string order). Fractions for
  * filtering are derived, not emitted, so the gate surface stays
  * hash-exact.
  */
object Repetition {

  /** Per-document repetition report for n-gram orders `ns`: for each n,
    * columns `n{n}_total, n{n}_distinct, n{n}_dup_occ, n{n}_dup_chars,
    * n{n}_top_cnt, n{n}_top_chars` (all BIGINT) plus `n1_top_gram` when
    * 1 ∈ ns. Map-only at any corpus size: one kernel call per document
    * tokenizes once and scans every order
    * ([[graft.functions.RepetitionImpl.report]]).
    */
  def ngramStats(df: DataFrame, idCol: String, textCol: String,
      ns: Seq[Int] = Seq(1, 2, 3)): DataFrame = {
    val orders = ns.toArray
    val kernel = udf((t: String) => RepetitionImpl.report(t, orders))
    val cols: Seq[Column] = col(idCol) +: ns.zipWithIndex.flatMap { case (n, k) =>
      val s = col("_rs")(k)
      val base = Seq(
        s("total").as(s"n${n}_total"),
        s("distinct").as(s"n${n}_distinct"),
        s("dupOcc").as(s"n${n}_dup_occ"),
        s("dupChars").as(s"n${n}_dup_chars"),
        s("topCnt").as(s"n${n}_top_cnt"),
        s("topChars").as(s"n${n}_top_chars"))
      if (n == 1) base :+ s("topGram").as("n1_top_gram") else base
    }
    df.select(col(idCol), kernel(col(textCol)).as("_rs")).select(cols: _*)
  }

  /** Gopher-style repetition filter: keep documents whose
    *   duplicate-word fraction   (1 - distinct/total words)   <= maxDupWordFrac,
    *   top-bigram char fraction  (top2_chars / text chars)    <= maxTopBigramCharFrac,
    *   dup-trigram char fraction (dup3_chars / text chars)    <= maxDupTrigramCharFrac.
    * Fractions are derived per row (doubles never aggregated). Map-only:
    * a typed row predicate ([[graft.functions.RepetitionImpl.keep]]) over
    * the same kernel as [[ngramStats]], so its decisions equal those
    * thresholds applied to the report. Null text drops.
    */
  def filterByRepetition(df: DataFrame, idCol: String, textCol: String,
      maxDupWordFrac: Double = 0.6,
      maxTopBigramCharFrac: Double = 0.18,
      maxDupTrigramCharFrac: Double = 0.4): DataFrame = {
    val ti = df.schema.fieldIndex(textCol)
    df.filter { (r: org.apache.spark.sql.Row) =>
      RepetitionImpl.keep(
        if (r.isNullAt(ti)) null else r.getString(ti),
        maxDupWordFrac, maxTopBigramCharFrac, maxDupTrigramCharFrac)
    }
  }

  /** Split `text` into lines and report duplicate-line statistics:
    * (id, n_lines, n_distinct_lines, dup_line_chars, total_line_chars).
    * Same kernel, unit = delimiter-separated segment; null text gives
    * null statistics.
    */
  def lineStats(df: DataFrame, idCol: String, textCol: String,
      delim: String = "\n"): DataFrame = {
    val kernel = udf((t: String) => RepetitionImpl.lineStats(t, delim))
    df.select(col(idCol), kernel(col(textCol)).as("_ls"))
      .select(col(idCol), col("_ls.nLines").as("n_lines"),
        col("_ls.nDistinct").as("n_distinct_lines"),
        col("_ls.dupChars").as("dup_line_chars"),
        col("_ls.totalChars").as("total_line_chars"))
  }

  /** Intra-document line dedup, keep FIRST occurrence, order preserved —
    * the within-page half of dedup (cross-document dedup is
    * [[Dedup]]'s job; a page repeating its own nav block needs no corpus
    * context). Zero shuffle: each document rewrites itself in place via
    * position-of-first-occurrence filtering on its own line array.
    *
    * Cost is O(L²) array probes per document (L = line count) — fine for
    * page-shaped documents (L bounded by layout, not corpus size); a
    * pathological single-document book with 10⁶ lines would want the
    * exploded window form instead, which is what [[Boilerplate
    * .stripFrequentLines]]'s machinery does across documents.
    *
    * Output: idCol, `text` (deduped), `n_lines`, `n_kept`.
    */
  def dedupLinesWithinDoc(df: DataFrame, idCol: String, textCol: String,
      delim: String = "\n"): DataFrame = {
    // Intermediate columns get fresh names: the output column is ALSO
    // named `text`, and expressions that both emit and reference the
    // name `text` in one projection get partially rebound to the new
    // column when projects collapse — compute once into `_kept`, then
    // derive text/n_kept from it (also guarantees the two agree).
    val lines = split(col(textCol), java.util.regex.Pattern.quote(delim))
    // a line is kept iff its position IS the first occurrence's position
    def keptOf(ls: Column): Column = transform(
      filter(
        transform(ls, (l, i) =>
          struct(l.as("l"), (array_position(ls, l) === i + 1L).as("first"))),
        s => s("first")),
      s => s("l"))
    df.select(col(idCol), lines.as("_lines"))
      .select(col(idCol), keptOf(col("_lines")).as("_kept"),
        size(col("_lines")).cast("long").as("n_lines"))
      .select(col(idCol),
        concat_ws(delim, col("_kept")).as("text"),
        col("n_lines"),
        size(col("_kept")).cast("long").as("n_kept"))
  }
}
