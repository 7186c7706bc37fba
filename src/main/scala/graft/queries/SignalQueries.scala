package graft.queries

import graft.Tables
import graft.functions.TextFunctions.tokens
import graft.operators.{Classifier, Repetition}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Round-10 document-signal additions: Gopher-style repetition metrics and
  * intra-document line dedup — the per-document half of web curation
  * (corpus-level boilerplate/dedup live in q115/q121; these operators need
  * no corpus context, so their 100 TB form is a zero-shuffle map pass).
  */
object SignalQueries extends QueryModule {

  /** Tokens-per-line used to synthesize multi-line text for q132 —
    * 2-token lines make intra-document duplicates actually occur in the
    * word-soup corpus (the oracle mirrors the same line synthesis).
    */
  private val lineTokens = 2

  /** The documents as (doc_id, text) with each text re-lined at
    * [[lineTokens]] tokens per `\n`-joined line — q132's synthesis, and
    * q138's corpus-wide.
    */
  private[queries] def relined(s: SparkSession, dir: String): DataFrame = {
    val t = tokens(col("text"))
    val lines = transform(
      sequence(lit(0), floor((size(t) - 1) / lineTokens).cast("int")),
      i => concat_ws(" ", slice(t, i * lineTokens + 1, lit(lineTokens))))
    Tables.documents(s, dir).select(col("doc_id"), concat_ws("\n", lines).as("text"))
  }

  override def queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    // Per-document token entropy (the low-entropy repetitive-page
    // signal): exact BIGINT ent_micro = n·qln(n) − Σ c·qln(c) over the
    // doc's own token counts — two uniform-key shuffles, no corpus
    // state.
    "q152_token_entropy" -> ((s, dir) => {
      import s.implicits._
      graft.operators.Quality.tokenEntropy(
          Tables.documents(s, dir), "doc_id", "text")
        .orderBy($"doc_id")
    }),

    // Gopher/MassiveText repetition report (Rae et al. 2021 A1.1) at
    // n = 1/2/3: totals, distincts, duplicate occurrences, duplicate-
    // covered characters, and the modal n-gram — ALL exact integers,
    // computed per document by one typed sort-and-run-length row kernel
    // with ZERO shuffles; the only exchange is the output sort. The filter thresholds derive from these columns row-locally.
    "q131_repetition" -> ((s, dir) => {
      import s.implicits._
      Repetition.ngramStats(Tables.documents(s, dir), "doc_id", "text",
        Seq(1, 2, 3))
        .orderBy($"doc_id")
    }),

    // Intra-document line dedup (keep first occurrence, order preserved):
    // documents are re-lined at 2 tokens/line deterministically, then each
    // page drops its own repeated lines — the within-page nav/chrome
    // remover that needs no corpus context (cross-document chrome is
    // q115's job). Zero shuffles except the output sort.
    "q132_linededup" -> ((s, dir) => {
      import s.implicits._
      Repetition.dedupLinesWithinDoc(relined(s, dir), "doc_id", "text")
        .select($"doc_id", $"text", $"n_lines", $"n_kept")
        .orderBy($"doc_id")
    }),

    // Hashed-feature quality classifier, corpus-scale half: the exact
    // integer 2x logistic gradient at w = 0 per md5 feature bucket
    // (label: is the page English reference text). Gates the feature
    // hashing + the bucket-keyed gradient aggregation — the GD loop's
    // float numerics are ClassifierSpec's job (PCA-gramian discipline).
    "q133_quality_grad" -> ((s, dir) => {
      import s.implicits._
      Classifier.gradientAtZero(
        Tables.documents(s, dir).withColumn("is_ref", $"lang" === "en"),
        "text", "is_ref", buckets = 64)
        .orderBy($"bucket")
    }),

    // The classifier's SCORING half, closed into the gate (q133 covers
    // the gradient half): freeze an integer weight vector — one exact
    // integer GD step at w = 0, w_micro(b) = −grad2(b) — collect it as
    // bounded metadata (≤ buckets rows, the λ-table discipline), and
    // score every document as an exact BIGINT occurrence-weighted sum.
    "q143_classifier_score" -> ((s, dir) => {
      import s.implicits._
      val docs = Tables.documents(s, dir)
        .withColumn("is_ref", $"lang" === "en")
      val w = Array.fill(64)(0L)
      Classifier.gradientAtZero(docs, "text", "is_ref", buckets = 64)
        .select($"bucket".cast("int"), $"grad2")
        .as[(Int, Long)].collect()
        .foreach { case (b, g) => w(b) = -g }
      Classifier.scoreMicro(docs, "doc_id", "text", w)
        .orderBy($"doc_id")
    }),

    // Multi-class (softmax) lang-ID classifier, corpus-scale half: the
    // exact integer K·gradient at W = 0 over the full bucket × class
    // grid (q133's discipline generalized — at the zero matrix every
    // class probability is exactly 1/K). The GD loop + argmax scoring
    // are ClassifierSpec's job.
    "q145_langid_softmax_grad" -> ((s, dir) => {
      import s.implicits._
      Classifier.softmaxGradientAtZero(Tables.documents(s, dir),
        "text", "lang", buckets = 64)
        .orderBy($"bucket", $"cls")
    }),

    // The multi-class scoring half closed into the gate (q145 covers the
    // gradient): freeze per-class integer weights w_c(b) = −gradk(b,c) =
    // K·n_bc − n_b (one integer GD step at W = 0, the q143 discipline,
    // collected as bucket×class bounded metadata) and score every
    // document with exact per-class sums + deterministic argmax (ties to
    // the alphabetically first class).
    "q147_softmax_score" -> ((s, dir) => {
      import s.implicits._
      val docs = Tables.documents(s, dir)
      val grid = Classifier.softmaxGradientGrid(docs, "text", "lang",
        buckets = 64)
      val classes = grid.map(_._2).distinct.sorted.toArray
      val idx = classes.zipWithIndex.toMap
      val w = Array.fill(classes.length, 64)(0L)
      grid.foreach { case (b, c, _, g) => w(idx(c))(b.toInt) = -g }
      Classifier.scoreSoftmaxMicro(docs, "doc_id", "text", w, classes)
        .orderBy($"doc_id")
    }),

    // Bigram-LM fluency scoring (CCNet shape): Laplace-smoothed
    // conditional logprobs trained on the corpus itself, quantized to
    // integer micro-units at the vocabulary level, summed exactly per
    // document. Complements q131: repeated phrases score HIGH here and
    // flag in the repetition report — the two signals disagree by design.
    "q134_bigram_lm" -> ((s, dir) => {
      import s.implicits._
      SharedLm.scored(s, dir)
        .select($"doc_id", $"n_bigrams", $"lp_micro", $"avg_lp")
        .orderBy($"doc_id")
    })
  )

  override def oracles: Map[String, String] = Map(

    // Per (doc, token) counts, each qln'd BEFORE the integer rollup —
    // the engine's exact two-level aggregate replayed in SQL. c and the
    // products stay far under BIGINT; the SUMs are re-cast from DuckDB's
    // HUGEINT widening.
    "q152_token_entropy" ->
      """WITH words AS (
        |  SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS w
        |  FROM documents WHERE len(trim(text)) > 0),
        |tok AS (SELECT doc_id, unnest(w) AS tok FROM words),
        |c AS (SELECT doc_id, tok, CAST(COUNT(*) AS BIGINT) AS c
        |      FROM tok GROUP BY 1, 2),
        |d AS (SELECT doc_id,
        |        CAST(SUM(c) AS BIGINT) AS n_tokens,
        |        CAST(COUNT(*) AS BIGINT) AS n_distinct,
        |        CAST(SUM(c * CAST(floor(ln(CAST(c AS DOUBLE)) * 1e6 + 0.5)
        |          AS BIGINT)) AS BIGINT) AS s
        |      FROM c GROUP BY 1)
        |SELECT doc_id, n_tokens, n_distinct,
        |  n_tokens * CAST(floor(ln(CAST(n_tokens AS DOUBLE)) * 1e6 + 0.5)
        |    AS BIGINT) - s AS ent_micro,
        |  CAST(n_tokens * CAST(floor(ln(CAST(n_tokens AS DOUBLE)) * 1e6
        |      + 0.5) AS BIGINT) - s AS DOUBLE)
        |    / CAST(n_tokens AS DOUBLE) / 1e6 AS ent_norm
        |FROM d ORDER BY doc_id""".stripMargin,

    // Replays the run-length kernel as explode + GROUP BY: per (doc, gram)
    // counts, then per-doc integer aggregates; the modal gram is the
    // row_number()=1 row ordered (cnt DESC, gram ASC) — exactly the
    // kernel's tie-break (smallest gram in byte order).
    "q131_repetition" ->
      """WITH words AS (
        |  SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS w
        |  FROM documents),
        |g1 AS (SELECT doc_id, unnest(w) AS g FROM words),
        |c1 AS (SELECT doc_id, g, COUNT(*) AS cnt FROM g1 GROUP BY 1, 2),
        |a1 AS (SELECT doc_id,
        |         CAST(SUM(cnt) AS BIGINT) AS n1_total,
        |         CAST(COUNT(*) AS BIGINT) AS n1_distinct,
        |         CAST(SUM(CASE WHEN cnt > 1 THEN cnt - 1 ELSE 0 END) AS BIGINT)
        |           AS n1_dup_occ,
        |         CAST(SUM(CASE WHEN cnt > 1 THEN cnt * length(g) ELSE 0 END)
        |           AS BIGINT) AS n1_dup_chars
        |       FROM c1 GROUP BY 1),
        |t1 AS (SELECT doc_id, cnt AS top_cnt, g AS top_gram FROM (
        |         SELECT doc_id, g, cnt, ROW_NUMBER() OVER (
        |           PARTITION BY doc_id ORDER BY cnt DESC, g) AS rn
        |         FROM c1) WHERE rn = 1),
        |g2 AS (SELECT doc_id, w[CAST(i AS INT)] || ' ' || w[CAST(i AS INT) + 1] AS g
        |       FROM words, UNNEST(range(1, len(w))) AS t(i)),
        |c2 AS (SELECT doc_id, g, COUNT(*) AS cnt FROM g2 GROUP BY 1, 2),
        |a2 AS (SELECT doc_id,
        |         CAST(SUM(cnt) AS BIGINT) AS n2_total,
        |         CAST(COUNT(*) AS BIGINT) AS n2_distinct,
        |         CAST(SUM(CASE WHEN cnt > 1 THEN cnt - 1 ELSE 0 END) AS BIGINT)
        |           AS n2_dup_occ,
        |         CAST(SUM(CASE WHEN cnt > 1 THEN cnt * length(g) ELSE 0 END)
        |           AS BIGINT) AS n2_dup_chars
        |       FROM c2 GROUP BY 1),
        |t2 AS (SELECT doc_id, cnt AS top_cnt, g AS top_gram FROM (
        |         SELECT doc_id, g, cnt, ROW_NUMBER() OVER (
        |           PARTITION BY doc_id ORDER BY cnt DESC, g) AS rn
        |         FROM c2) WHERE rn = 1),
        |g3 AS (SELECT doc_id,
        |         w[CAST(i AS INT)] || ' ' || w[CAST(i AS INT) + 1] || ' ' ||
        |           w[CAST(i AS INT) + 2] AS g
        |       FROM words, UNNEST(range(1, len(w) - 1)) AS t(i)),
        |c3 AS (SELECT doc_id, g, COUNT(*) AS cnt FROM g3 GROUP BY 1, 2),
        |a3 AS (SELECT doc_id,
        |         CAST(SUM(cnt) AS BIGINT) AS n3_total,
        |         CAST(COUNT(*) AS BIGINT) AS n3_distinct,
        |         CAST(SUM(CASE WHEN cnt > 1 THEN cnt - 1 ELSE 0 END) AS BIGINT)
        |           AS n3_dup_occ,
        |         CAST(SUM(CASE WHEN cnt > 1 THEN cnt * length(g) ELSE 0 END)
        |           AS BIGINT) AS n3_dup_chars
        |       FROM c3 GROUP BY 1),
        |t3 AS (SELECT doc_id, cnt AS top_cnt, g AS top_gram FROM (
        |         SELECT doc_id, g, cnt, ROW_NUMBER() OVER (
        |           PARTITION BY doc_id ORDER BY cnt DESC, g) AS rn
        |         FROM c3) WHERE rn = 1)
        |SELECT d.doc_id,
        |  COALESCE(a1.n1_total, 0) AS n1_total,
        |  COALESCE(a1.n1_distinct, 0) AS n1_distinct,
        |  COALESCE(a1.n1_dup_occ, 0) AS n1_dup_occ,
        |  COALESCE(a1.n1_dup_chars, 0) AS n1_dup_chars,
        |  COALESCE(t1.top_cnt, 0) AS n1_top_cnt,
        |  CAST(COALESCE(t1.top_cnt * length(t1.top_gram), 0) AS BIGINT)
        |    AS n1_top_chars,
        |  COALESCE(t1.top_gram, '') AS n1_top_gram,
        |  COALESCE(a2.n2_total, 0) AS n2_total,
        |  COALESCE(a2.n2_distinct, 0) AS n2_distinct,
        |  COALESCE(a2.n2_dup_occ, 0) AS n2_dup_occ,
        |  COALESCE(a2.n2_dup_chars, 0) AS n2_dup_chars,
        |  COALESCE(t2.top_cnt, 0) AS n2_top_cnt,
        |  CAST(COALESCE(t2.top_cnt * length(t2.top_gram), 0) AS BIGINT)
        |    AS n2_top_chars,
        |  COALESCE(a3.n3_total, 0) AS n3_total,
        |  COALESCE(a3.n3_distinct, 0) AS n3_distinct,
        |  COALESCE(a3.n3_dup_occ, 0) AS n3_dup_occ,
        |  COALESCE(a3.n3_dup_chars, 0) AS n3_dup_chars,
        |  COALESCE(t3.top_cnt, 0) AS n3_top_cnt,
        |  CAST(COALESCE(t3.top_cnt * length(t3.top_gram), 0) AS BIGINT)
        |    AS n3_top_chars
        |FROM documents d
        |LEFT JOIN a1 USING (doc_id) LEFT JOIN t1 USING (doc_id)
        |LEFT JOIN a2 USING (doc_id) LEFT JOIN t2 USING (doc_id)
        |LEFT JOIN a3 USING (doc_id) LEFT JOIN t3 USING (doc_id)
        |ORDER BY d.doc_id""".stripMargin,

    // Same 2-token line synthesis, then keep-first via ROW_NUMBER over
    // (doc, line) ordered by position; string_agg skips the NULLed
    // repeat lines and reassembles in position order.
    "q132_linededup" ->
      """WITH words AS (
        |  SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS w
        |  FROM documents),
        |lines AS (
        |  SELECT doc_id, i,
        |    CASE WHEN CAST(2 * i + 2 AS INT) <= len(w)
        |      THEN w[CAST(2 * i + 1 AS INT)] || ' ' || w[CAST(2 * i + 2 AS INT)]
        |      ELSE w[CAST(2 * i + 1 AS INT)] END AS line
        |  FROM words, UNNEST(range(0, (len(w) + 1) // 2)) AS t(i)),
        |firsts AS (
        |  SELECT doc_id, i, line, ROW_NUMBER() OVER (
        |    PARTITION BY doc_id, line ORDER BY i) AS rn
        |  FROM lines)
        |SELECT doc_id,
        |  COALESCE(string_agg(CASE WHEN rn = 1 THEN line END, chr(10)
        |    ORDER BY i), '') AS text,
        |  CAST(COUNT(*) AS BIGINT) AS n_lines,
        |  CAST(SUM(CASE WHEN rn = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_kept
        |FROM firsts GROUP BY doc_id
        |ORDER BY doc_id""".stripMargin,

    // Same md5-prefix bucket hash as the Spark side; (1 − 2y) = −1 for
    // the positive (English) class. All-integer aggregation.
    "q133_quality_grad" ->
      """WITH toks AS (
        |  SELECT (CASE WHEN lang = 'en' THEN -1 ELSE 1 END) AS s,
        |    unnest(regexp_split_to_array(trim(text), '\s+')) AS tok
        |  FROM documents)
        |SELECT CAST('0x' || substr(md5(tok), 1, 15) AS BIGINT) % 64 AS bucket,
        |  CAST(SUM(s) AS BIGINT) AS grad2,
        |  CAST(COUNT(*) AS BIGINT) AS n_terms
        |FROM toks GROUP BY 1
        |ORDER BY 1""".stripMargin,

    // q133's gradient CTE negated into weights, then per-doc exact
    // integer sums over the same hashed occurrences.
    "q143_classifier_score" ->
      """WITH feat AS (
        |  SELECT doc_id,
        |    (CASE WHEN lang = 'en' THEN -1 ELSE 1 END) AS s,
        |    CAST('0x' || substr(md5(tok), 1, 15) AS BIGINT) % 64 AS b
        |  FROM (SELECT doc_id, lang,
        |          unnest(regexp_split_to_array(trim(text), '\s+')) AS tok
        |        FROM documents)),
        |wt AS (SELECT b, CAST(-SUM(s) AS BIGINT) AS w FROM feat GROUP BY 1)
        |SELECT f.doc_id, CAST(COUNT(*) AS BIGINT) AS n_toks,
        |  CAST(SUM(wt.w) AS BIGINT) AS score_micro
        |FROM feat f JOIN wt USING (b)
        |GROUP BY f.doc_id
        |ORDER BY f.doc_id""".stripMargin,

    // One (bucket, lang) count, per-bucket totals, K = distinct langs,
    // full grid via cross join: gradk = n_b − K·n_bc. All integers.
    "q145_langid_softmax_grad" ->
      """WITH feats AS (
        |  SELECT lang AS cls,
        |    CAST('0x' || substr(md5(tok), 1, 15) AS BIGINT) % 64 AS bucket
        |  FROM (SELECT lang,
        |          unnest(regexp_split_to_array(trim(text), '\s+')) AS tok
        |        FROM documents)),
        |cnt AS (SELECT bucket, cls, COUNT(*) AS n_bc FROM feats
        |        GROUP BY 1, 2),
        |nb AS (SELECT bucket, CAST(SUM(n_bc) AS BIGINT) AS nb FROM cnt
        |       GROUP BY 1),
        |kk AS (SELECT COUNT(DISTINCT cls) AS k FROM cnt),
        |cl AS (SELECT DISTINCT cls FROM cnt)
        |SELECT nb.bucket, cl.cls,
        |  CAST(COALESCE(ct.n_bc, 0) AS BIGINT) AS n_bc,
        |  CAST(nb.nb - kk.k * COALESCE(ct.n_bc, 0) AS BIGINT) AS gradk
        |FROM nb CROSS JOIN cl CROSS JOIN kk
        |LEFT JOIN cnt ct ON ct.bucket = nb.bucket AND ct.cls = cl.cls
        |ORDER BY nb.bucket, cl.cls""".stripMargin,

    // q145's grid negated into per-class weights, per-doc per-class
    // exact sums (each token joins exactly one wt row per class), argmax
    // via ROW_NUMBER (s DESC, cls ASC) = ties to the first class.
    "q147_softmax_score" ->
      """WITH feat AS (
        |  SELECT doc_id, lang AS cls,
        |    CAST('0x' || substr(md5(tok), 1, 15) AS BIGINT) % 64 AS b
        |  FROM (SELECT doc_id, lang,
        |          unnest(regexp_split_to_array(trim(text), '\s+')) AS tok
        |        FROM documents)),
        |cnt AS (SELECT b, cls, COUNT(*) AS n_bc FROM feat GROUP BY 1, 2),
        |nb AS (SELECT b, CAST(SUM(n_bc) AS BIGINT) AS nb FROM cnt
        |       GROUP BY 1),
        |kk AS (SELECT COUNT(DISTINCT cls) AS k FROM cnt),
        |cl AS (SELECT DISTINCT cls FROM cnt),
        |wt AS (
        |  SELECT nb.b, cl.cls,
        |    CAST(kk.k * COALESCE(ct.n_bc, 0) - nb.nb AS BIGINT) AS wv
        |  FROM nb CROSS JOIN cl CROSS JOIN kk
        |  LEFT JOIN cnt ct ON ct.b = nb.b AND ct.cls = cl.cls),
        |sc AS (
        |  SELECT f.doc_id, w.cls, CAST(SUM(w.wv) AS BIGINT) AS s,
        |    CAST(COUNT(*) AS BIGINT) AS n_toks
        |  FROM feat f JOIN wt w ON w.b = f.b
        |  GROUP BY 1, 2),
        |r AS (
        |  SELECT doc_id, cls, s, n_toks, ROW_NUMBER() OVER (
        |    PARTITION BY doc_id ORDER BY s DESC, cls) AS rn
        |  FROM sc)
        |SELECT doc_id, n_toks, cls AS pred, s AS best_micro
        |FROM r WHERE rn = 1
        |ORDER BY doc_id""".stripMargin,

    // Same add-1 LM: P(b|a) = (c(a b)+1)/(c(a ·)+V); ln quantized to
    // 1e-6 units per DISTINCT bigram (the q87 ln-replay discipline),
    // then exact integer sums per document.
    "q134_bigram_lm" ->
      """WITH words AS (
        |  SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS w
        |  FROM documents WHERE len(trim(text)) > 0),
        |bg AS (
        |  SELECT doc_id, w[CAST(i AS INT)] AS a,
        |    w[CAST(i AS INT)] || ' ' || w[CAST(i AS INT) + 1] AS g
        |  FROM words, UNNEST(range(1, len(w))) AS t(i)),
        |cg AS (SELECT a, g, COUNT(*) AS f FROM bg GROUP BY 1, 2),
        |ch AS (SELECT a, CAST(SUM(f) AS BIGINT) AS fh FROM cg GROUP BY 1),
        |v AS (SELECT CAST(COUNT(DISTINCT tok) AS BIGINT) AS nv
        |      FROM (SELECT unnest(w) AS tok FROM words)),
        |lm AS (
        |  SELECT g,
        |    CAST(floor(ln(CAST(f + 1 AS DOUBLE) / CAST(fh + nv AS DOUBLE))
        |      * 1e6 + 0.5) AS BIGINT) AS lpu
        |  FROM cg JOIN ch USING (a) CROSS JOIN v)
        |SELECT doc_id, COUNT(*) AS n_bigrams,
        |  CAST(SUM(lpu) AS BIGINT) AS lp_micro,
        |  CAST(SUM(lpu) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE) / 1e6 AS avg_lp
        |FROM bg JOIN lm USING (g)
        |GROUP BY doc_id
        |ORDER BY doc_id""".stripMargin
  )
}
