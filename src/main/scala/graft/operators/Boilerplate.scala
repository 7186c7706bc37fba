package graft.operators

import graft.functions.TextFunctions.tokens
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Boilerplate removal for web-scale training corpora — the
  * RefinedWeb/C4-style line-frequency filter: a text segment (a line, or
  * a fixed token window when the corpus has no line structure) that
  * recurs across many DISTINCT documents is template chrome (nav bars,
  * cookie banners, license footers), not content; drop every occurrence
  * and reassemble the documents in original order.
  *
  * Reference analog: the corpus-frequency filters of §2.3 (value
  * bucketing / in-list filtering, `BMWMileAvgDay.scala:25-47`) applied at
  * segment rather than row granularity; no reference operator computes a
  * cross-document frequency, which is exactly what a 100 TB curation
  * pipeline adds.
  *
  * Scale shape (100 TB): segmentation is a map-side explode; the
  * document-frequency count is ONE shuffle keyed by segment; the
  * surviving frequent-segment set is tiny by construction (segments
  * repeated across >= minDocs docs) so the removal join broadcasts it;
  * reassembly is ONE shuffle keyed by doc id. No global sort, no
  * all-pairs anything.
  */
object Boilerplate {

  /** (idCol, pos, seg) — documents split on a delimiter, position kept
    * for order-preserving reassembly. Empty/whitespace-only segments are
    * kept (they carry document structure) but never counted as frequent.
    */
  def segmentsByDelim(docs: DataFrame, idCol: String, textCol: String,
      delim: String = "\n"): DataFrame =
    docs.select(col(idCol), posexplode(split(col(textCol),
      java.util.regex.Pattern.quote(delim))).as(Seq("pos", "seg")))

  /** (idCol, pos, seg) — fixed `winTokens`-token windows aligned at
    * positions 1, 1+win, ... over whitespace tokens; the segmentation for
    * corpora without line structure. The final window keeps whatever
    * tokens remain.
    */
  def segmentsByWindow(docs: DataFrame, idCol: String, textCol: String,
      winTokens: Int): DataFrame = {
    require(winTokens > 0, s"winTokens must be positive: $winTokens")
    val toks = tokens(col(textCol))
    docs.select(col(idCol),
      posexplode(transform(sequence(lit(1), greatest(size(toks), lit(1)), lit(winTokens)),
        i => concat_ws(" ", slice(toks, i, lit(winTokens))))).as(Seq("pos", "seg")))
  }

  /** Segments appearing in >= minDocs DISTINCT documents:
    * (seg, n_docs). One shuffle on the segment value; blank segments are
    * excluded (they would always be "frequent").
    */
  def frequentSegments(segments: DataFrame, idCol: String,
      minDocs: Int): DataFrame = {
    require(minDocs >= 2, s"minDocs must be >= 2: $minDocs")
    segments.filter(trim(col("seg")) =!= "")
      .groupBy(col("seg"))
      .agg(countDistinct(col(idCol)).as("n_docs"))
      .filter(col("n_docs") >= minDocs)
  }

  /** Drop every occurrence of a frequent segment and reassemble each
    * document (original order, segments rejoined with `rejoin`). Output =
    * the input columns with textCol REPLACED by the stripped text, plus
    * `n_segments` (before) and `n_dropped`. A document whose segments are
    * all boilerplate survives with empty text — dropping rows is the
    * caller's policy decision, not this operator's.
    */
  def stripFrequent(docs: DataFrame, idCol: String, textCol: String,
      segments: DataFrame, minDocs: Int, rejoin: String): DataFrame = {
    val freq = frequentSegments(segments, idCol, minDocs).select(col("seg"))
    val kept = segments.join(broadcast(freq), Seq("seg"), "left_anti")
    rebuildFromKept(docs, idCol, textCol, segments, kept, rejoin)
  }

  /** Reassemble documents from a surviving subset of their segments:
    * original order, `n_segments` (before) and `n_dropped` appended,
    * textCol replaced. One shuffle keyed by doc id (totals and rebuilt
    * share the partitioning).
    */
  private def rebuildFromKept(docs: DataFrame, idCol: String, textCol: String,
      segments: DataFrame, kept: DataFrame, rejoin: String): DataFrame = {
    val totals = segments.groupBy(col(idCol))
      .agg(count(lit(1)).as("n_segments"))
    val rebuilt = kept.groupBy(col(idCol))
      .agg(count(lit(1)).as("__n_kept"),
        array_join(
          transform(array_sort(collect_list(struct(col("pos"), col("seg")))),
            x => x.getField("seg")),
          rejoin).as("__stripped"))
    docs.drop("n_segments", "n_dropped")
      .join(totals, Seq(idCol), "left")
      .join(rebuilt, Seq(idCol), "left")
      .withColumn(textCol, coalesce(col("__stripped"), lit("")))
      .withColumn("n_dropped",
        col("n_segments") - coalesce(col("__n_kept"), lit(0L)))
      .drop("__stripped", "__n_kept")
  }

  /** Line-delimited form: strip lines recurring in >= minDocs docs. */
  def stripFrequentLines(docs: DataFrame, idCol: String, textCol: String,
      minDocs: Int, delim: String = "\n"): DataFrame =
    stripFrequent(docs, idCol, textCol,
      segmentsByDelim(docs, idCol, textCol, delim), minDocs, delim)

  /** Corpus-level KEEP-FIRST segment dedup (the RefinedWeb/C4 exact line
    * dedup): every duplicate occurrence of a segment is dropped EXCEPT
    * the globally first one — first by (doc id, position) — and documents
    * are reassembled in original order. Differs from [[stripFrequent]]
    * in both threshold (any 2nd occurrence is a duplicate) and policy
    * (one copy survives rather than none); differs from
    * `Repetition.dedupLinesWithinDoc` in scope (cross-document).
    * Whitespace-only segments are exempt (structure, not content).
    *
    * Scale shape: the first-occurrence table is ONE aggregation keyed by
    * the segment digest — `min(struct(id, pos))` partial-aggregates
    * map-side, so a boilerplate line with 10^9 copies still reaches the
    * reducer as one row per upstream task (no hot-key funnel, unlike a
    * per-segment row_number window). The keep decision is a left-semi
    * join on (digest, id, pos) — a UNIQUE key, so that join cannot skew
    * either. Reassembly is one shuffle keyed by doc id.
    */
  def dedupSegmentsKeepFirst(docs: DataFrame, idCol: String, textCol: String,
      segments: DataFrame, rejoin: String): DataFrame = {
    val occ = segments.withColumn("__h", md5(col("seg")))
    val firsts = occ.filter(trim(col("seg")) =!= "")
      .groupBy(col("__h"))
      .agg(min(struct(col(idCol), col("pos"))).as("__first"))
      .select(col("__h"), col("__first").getField(idCol).as(idCol),
        col("__first").getField("pos").as("pos"))
    val kept = occ.filter(trim(col("seg")) === "")
      .unionByName(occ.join(firsts, Seq("__h", idCol, "pos"), "left_semi"))
      .drop("__h")
    rebuildFromKept(docs, idCol, textCol, segments, kept, rejoin)
  }

  /** Line-delimited keep-first form. */
  def dedupLinesKeepFirst(docs: DataFrame, idCol: String, textCol: String,
      delim: String = "\n"): DataFrame =
    dedupSegmentsKeepFirst(docs, idCol, textCol,
      segmentsByDelim(docs, idCol, textCol, delim), delim)

  /** Token-window form: strip aligned `winTokens`-token windows recurring
    * in >= minDocs docs; rejoins with single spaces (token-exact for a
    * whitespace-tokenized corpus).
    */
  def stripFrequentWindows(docs: DataFrame, idCol: String, textCol: String,
      winTokens: Int, minDocs: Int): DataFrame =
    stripFrequent(docs, idCol, textCol,
      segmentsByWindow(docs, idCol, textCol, winTokens), minDocs, " ")
}
