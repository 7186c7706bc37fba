package graft.queries

import graft.Tables
import graft.operators.{Boilerplate, Checkpoints, Classifier, Sampling, Selection}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Data-selection tier: given the signals (q131–q135), decide WHICH
  * documents train — DSIR importance weighting, CCNet per-language
  * fluency tiers (exact + sketch-threshold forms), corpus-level
  * keep-first line dedup, and corpus-wide exact-substring span dedup.
  */
object SelectionQueries extends QueryModule {

  override def queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    // DSIR (Xie et al. 2023): importance log-weights toward the English
    // subset over a 64-bucket hashed unigram+bigram feature space. The
    // corpus-scale parts — the bounded feature-distribution agg and the
    // exact integer per-doc weight sums — are what this gates; the λ
    // array rides to the scoring kernel in its closure (bounded
    // metadata, Classifier-weights discipline).
    "q136_dsir" -> ((s, dir) => {
      import s.implicits._
      // the λ table is the session-shared SharedDsir table (q139
      // consumes the same construction — the SharedLm discipline)
      Selection.scoreWith(Tables.documents(s, dir), "doc_id", "text",
        SharedDsir.table(s, dir))
        .select($"doc_id", $"n_feats", $"lw_micro")
        .orderBy($"doc_id")
    }),

    // CCNet head/middle/tail (Wenzek et al. 2019): per-language fluency
    // terciles of the q134 bigram-LM score. Rank key is the exact
    // integer avg_nano (one IEEE division, ties on doc_id), so the NTILE
    // assignment is engine-reproducible bit for bit.
    "q137_ccnet_buckets" -> ((s, dir) => {
      import s.implicits._
      val docs = Tables.documents(s, dir)
      val scored = SharedLm.scored(s, dir)
        .join(docs.select($"doc_id", $"lang"), Seq("doc_id"))
      Selection.perplexityBuckets(scored, "doc_id", "lang", "n_bigrams",
        "lp_micro", nBuckets = 3)
        .select($"doc_id", $"lang", $"n_bigrams", $"avg_nano",
          $"bucket".cast("long").as("bucket"))
        .orderBy($"doc_id")
    }),

    // Corpus-level keep-first line dedup (RefinedWeb/C4 exact line
    // dedup): re-lined at 2 tokens/line (q132's synthesis, so duplicates
    // actually occur), then every repeated line keeps only its globally
    // first (doc_id, pos) occurrence. Complements q115 (frequency-
    // threshold strip: ALL occurrences go) and q132 (within-doc only).
    "q138_line_dedup_corpus" -> ((s, dir) => {
      import s.implicits._
      Boilerplate.dedupLinesKeepFirst(SignalQueries.relined(s, dir), "doc_id",
        "text")
        .select($"doc_id", $"text", $"n_segments", $"n_dropped")
        .orderBy($"doc_id")
    }),

    // DSIR selection end to end: importance-weight toward the English
    // subset (q136), then sample 100 docs WITHOUT replacement with
    // probability ∝ exp(avg_lw) via the log-domain Gumbel/E-S key — no
    // exp() is ever evaluated, so weights spanning hundreds of orders
    // of magnitude can't overflow. The paper's full selection loop.
    "q139_dsir_select" -> ((s, dir) => {
      import s.implicits._
      val scored = Selection.scoreWith(Tables.documents(s, dir),
        "doc_id", "text", SharedDsir.table(s, dir))
        .filter($"n_feats" > 0)
      Sampling.weightedSampleByLogWeight(scored, "doc_id", "avg_lw",
        k = 100, seed = 7)
        .select($"doc_id", $"lw_micro", $"gkey")
        .orderBy($"doc_id")
    }),

    // q137's terciles in their 100 TB form: histogram-sketch thresholds
    // + row-local bucketing — no per-language sort anywhere (the exact
    // NTILE funnels each language through ONE task at corpus scale).
    // Grid [-2^33, 0) / 16384 → width 2^19 nano (~0.0005 ln per bucket),
    // so bucket indices are exact float-free integer arithmetic in both
    // engines and boundary buckets hold a vanishing share of each
    // language (SelectionSpec pins ≥90% agreement with the exact NTILE).
    "q141_ccnet_buckets_sketch" -> ((s, dir) => {
      import s.implicits._
      val docs = Tables.documents(s, dir)
      val scored = SharedLm.scored(s, dir)
        .join(docs.select($"doc_id", $"lang"), Seq("doc_id"))
      Selection.perplexityBucketsBySketch(scored, "doc_id", "lang",
        "n_bigrams", "lp_micro", lo = -math.pow(2, 33), hi = 0.0,
        nHist = 16384, nBuckets = 3)
        .select($"doc_id", $"lang", $"n_bigrams", $"avg_nano",
          $"bucket".cast("long").as("bucket"))
        .orderBy($"doc_id")
    }),

    // Corpus-wide exact-substring span dedup (Lee et al. 2021 ExactSubstr
    // shape): 8-token anchors, globally-first occurrence survives, losing
    // anchors' token intervals are unioned per doc and excised. The
    // strongest exact-dedup tier production pipelines run — complements
    // q89 (measures coverage, removes nothing) and q138 (aligned lines,
    // not free-position runs).
    "q142_exactsubstr_dedup" -> ((s, dir) => {
      import s.implicits._
      SharedSpanDedup.deduped(s, dir)
        .orderBy($"doc_id")
    }),

    // Round-11 composed curation chain (the q92/q128 full-chain
    // discipline, over the round-11 tier): corpus-wide exact-substring
    // span dedup → Gopher repetition filter on the REBUILT text (typed
    // predicate; oracle replays the same thresholds in SQL — parity
    // pinned by RepetitionSpec) → frozen-weight classifier scoring
    // (one integer GD step at w = 0 over the SURVIVING corpus) →
    // top-100 by the exact integer per-token score (q137's nano-key
    // discipline, TakeOrdered — no global sort).
    "q146_curation_select" -> ((s, dir) => {
      import s.implicits._
      // the dedup + filter + label chain is consumed by BOTH the
      // gradient construction job and the returned scoring plan —
      // materialize it ONCE (running the chain per consumer measured
      // 17 s vs ~3 s at sf0.1). n_removed rides through the filter, so no
      // second dedup pass is needed for the output column. The dedup
      // itself is the session-shared q142 frame (SharedSpanDedup).
      val deduped = SharedSpanDedup.deduped(s, dir)
      val labeled = Checkpoints.pin(
        graft.operators.Repetition.filterByRepetition(deduped, "doc_id", "text")
          .join(Tables.documents(s, dir).select($"doc_id", $"lang"),
            Seq("doc_id"))
          .withColumn("is_ref", $"lang" === "en"))
      val w = Array.fill(64)(0L)
      Classifier.gradientAtZero(labeled, "text", "is_ref", buckets = 64)
        .select($"bucket".cast("int"), $"grad2")
        .as[(Int, Long)].collect()
        .foreach { case (b, g) => w(b) = -g }
      Classifier.scoreMicro(labeled, "doc_id", "text", w)
        .join(labeled.select($"doc_id", $"n_removed"), Seq("doc_id"))
        .withColumn("score_nano",
          floor($"score_micro".cast("double") * 1e3 /
            $"n_toks".cast("double") + 0.5).cast("long"))
        .orderBy($"score_nano".desc, $"doc_id")
        .limit(100)
        .select($"doc_id", $"n_toks", $"n_removed", $"score_nano")
        .orderBy($"doc_id")
    }),

    // Incremental exact-substring dedup (q142's per-batch production
    // form): docs with doc_id % 10 == 0 arrive as the incoming batch,
    // the rest are the accepted corpus. Runs already present in the
    // corpus are excised from the batch everywhere; corpus-absent runs
    // keep their first within-batch occurrence.
    "q148_exactsubstr_incremental" -> ((s, dir) => {
      import s.implicits._
      val docs = Tables.documents(s, dir)
      graft.operators.Dedup.dedupSpansIncremental(
        docs.filter($"doc_id" % 10 === 0),
        docs.filter($"doc_id" % 10 =!= 0),
        "doc_id", "text", n = 8)
        .orderBy($"doc_id")
    }),

    // UniMax/mT5 temperature rebalancing at alpha = 0.5: kept mixture
    // ∝ n_lang^0.5, smallest language kept whole. sqrt is correctly
    // rounded IEEE in both engines, so the driver oracle re-derives the
    // integer weights and thresholds exactly.
    "q140_temperature_mix" -> ((s, dir) => {
      import s.implicits._
      Sampling.temperatureMix(Tables.documents(s, dir), "lang", "doc_id",
          alpha = 0.5)
        .groupBy($"lang")
        .agg(count(lit(1)).as("n_kept"), min($"doc_id").as("first_doc"),
          sum($"doc_id").as("sum_doc"))
        .orderBy($"lang")
    }),

    // Rank-normalized blend of two incompatible quality signals — the
    // q134 LM fluency score and the raw length prior — into one exact
    // integer curation score, per-language top 10. All windows share
    // the language partitioning (one shuffle); the signals ride the
    // same row, nothing joins after the LM scoring pass.
    // Per-row percentile normalization from histogram cumsums — no
    // rank window ever sees corpus rows. UNIT grid (n_chars < 1024 at
    // every sf) makes the sketch form EXACTLY the cumulative-count
    // percentile, so the oracle is the plain COUNT(*) OVER cumulative
    // window and the gate pins sketch == exact (the q164 caveat's
    // production path in its own right).
    "q196_pct_normalize" -> ((s, dir) => {
      import s.implicits._
      Selection.percentileBySketch(
          Tables.documents(s, dir).select($"doc_id", $"lang", $"n_chars"),
          "lang", "n_chars", lo = 0L, width = 1L, nBuckets = 1024)
        .orderBy($"doc_id")
    }),

    "q164_score_blend" -> ((s, dir) => {
      import s.implicits._
      val docs = Tables.documents(s, dir)
      val scored = SharedLm.scored(s, dir)
        .join(docs.select($"doc_id", $"lang",
          $"n_chars".cast("long").as("n_chars")), Seq("doc_id"))
        .withColumn("avg_nano", floor($"lp_micro".cast("double") * 1e3 /
          $"n_bigrams".cast("double") + 0.5).cast("long"))
      Selection.blendByRank(scored, "doc_id", "lang",
        "avg_nano", "n_chars", k = 10)
        .select($"doc_id", $"lang", $"pct_a", $"pct_b", $"blend_u",
          $"rk".cast("long").as("rk"))
        .orderBy($"doc_id")
    }),

    // q164's blend in its 100 TB form: per-signal histogram-cumsum
    // percentiles (broadcast sketch joins, no per-language rank windows
    // over the corpus) and the top-10 taken from a thresholded candidate
    // band — the q137→q141 exact-vs-sketch surgery applied to the blend.
    // Grids: avg_nano on q141's power-of-two grid [-2^33, 0)/16384
    // (width 2^19 nano), n_chars on a UNIT-width grid [0, 16384) — so
    // the length signal's percentiles are exactly the min-rank law and
    // only fluency ties/bucket-mates can diverge from q164.
    "q169_score_blend_sketch" -> ((s, dir) => {
      import s.implicits._
      val docs = Tables.documents(s, dir)
      val scored = SharedLm.scored(s, dir)
        .join(docs.select($"doc_id", $"lang",
          $"n_chars".cast("long").as("n_chars")), Seq("doc_id"))
        .withColumn("avg_nano", floor($"lp_micro".cast("double") * 1e3 /
          $"n_bigrams".cast("double") + 0.5).cast("long"))
      Selection.blendByRankBySketch(scored, "doc_id", "lang",
        "avg_nano", "n_chars", k = 10,
        loA = -8589934592L, widthA = 524288L, nHistA = 16384,
        loB = 0L, widthB = 1L, nHistB = 16384,
        blendWidth = 128L)
        .select($"doc_id", $"lang", $"pct_a", $"pct_b", $"blend_u",
          $"rk".cast("long").as("rk"))
        .orderBy($"doc_id")
    })
  )

  /** The q134 bigram-LM CTE chain through `ranked` (doc_id, lang,
    * n_bigrams, avg_nano) — shared by the q137 tercile gate and the
    * q164 blend gate so the two replays can never drift apart.
    */
  private def lmRankedCtes: String =
    """words AS (
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
      |  FROM cg JOIN ch USING (a) CROSS JOIN v),
      |scored AS (
      |  SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_bigrams,
      |    CAST(SUM(lpu) AS BIGINT) AS lp_micro
      |  FROM bg JOIN lm USING (g) GROUP BY doc_id),
      |ranked AS (
      |  SELECT s.doc_id, d.lang, s.n_bigrams,
      |    CAST(floor(CAST(s.lp_micro AS DOUBLE) * 1e3
      |      / CAST(s.n_bigrams AS DOUBLE) + 0.5) AS BIGINT) AS avg_nano
      |  FROM scored s JOIN documents d ON s.doc_id = d.doc_id)""".stripMargin

  override def oracles: Map[String, String] = Map(

    // cumulative-count percentile: the default RANGE frame includes
    // ties, so cum = rows <= v; `//` is the exact integral divide
    "q196_pct_normalize" ->
      """WITH n AS (SELECT lang, COUNT(*) AS n FROM documents GROUP BY 1),
        |c AS (SELECT doc_id, lang, n_chars,
        |        COUNT(*) OVER (PARTITION BY lang ORDER BY n_chars) AS cum
        |      FROM documents)
        |SELECT c.doc_id, c.lang, c.n_chars,
        |  CAST((cum * 1000000) // n.n AS BIGINT) AS pct_micro
        |FROM c JOIN n USING (lang) ORDER BY c.doc_id""".stripMargin,

    // Replays the hashed feature space (md5-prefix buckets, the q133
    // replay), the Laplace-smoothed per-bucket log-ratios quantized at
    // the bucket level, and the exact per-doc integer sums.
    "q136_dsir" ->
      """WITH words AS (
        |  SELECT doc_id, lang, regexp_split_to_array(trim(text), '\s+') AS w
        |  FROM documents),
        |grams AS (
        |  SELECT doc_id, lang, unnest(w) AS g FROM words
        |  UNION ALL
        |  SELECT doc_id, lang,
        |    w[CAST(i AS INT)] || ' ' || w[CAST(i AS INT) + 1] AS g
        |  FROM words, UNNEST(range(1, len(w))) AS t(i)),
        |feats AS (
        |  SELECT doc_id, lang,
        |    CAST('0x' || substr(md5(g), 1, 15) AS BIGINT) % 64 AS b
        |  FROM grams),
        |rd AS (SELECT b, COUNT(*) AS rn FROM feats GROUP BY 1),
        |td AS (SELECT b, COUNT(*) AS tn FROM feats WHERE lang = 'en' GROUP BY 1),
        |j AS (SELECT b, rn, COALESCE(tn, 0) AS tn FROM rd LEFT JOIN td USING (b)),
        |tot AS (SELECT CAST(SUM(rn) AS BIGINT) AS rt,
        |               CAST(SUM(tn) AS BIGINT) AS tt FROM j),
        |lam AS (
        |  SELECT b,
        |    CAST(floor(ln(CAST(tn + 1 AS DOUBLE) / CAST(tt + 64 AS DOUBLE))
        |      * 1e6 + 0.5) AS BIGINT)
        |    - CAST(floor(ln(CAST(rn + 1 AS DOUBLE) / CAST(rt + 64 AS DOUBLE))
        |      * 1e6 + 0.5) AS BIGINT) AS lw
        |  FROM j CROSS JOIN tot)
        |SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_feats,
        |  CAST(SUM(lw) AS BIGINT) AS lw_micro
        |FROM feats JOIN lam USING (b)
        |GROUP BY doc_id ORDER BY doc_id""".stripMargin,

    // q134's LM CTE + the language column + the same exact-integer rank
    // key and NTILE (standard equal-count buckets, earlier buckets take
    // the remainder in both engines).
    "q137_ccnet_buckets" ->
      s"""WITH $lmRankedCtes
         |SELECT doc_id, lang, n_bigrams, avg_nano,
         |  CAST(NTILE(3) OVER (PARTITION BY lang
         |    ORDER BY avg_nano DESC, doc_id) AS BIGINT) AS bucket
         |FROM ranked ORDER BY doc_id""".stripMargin,

    // The q137 LM chain's ranked scores, each signal (fluency avg_nano,
    // length prior n_chars) converted to its exact per-language
    // percentile rank in integer micro-units ((r-1)*1e6 // (n-1)), the
    // blend summed, and the per-language top 10 kept — exactly
    // `Selection.blendByRank`.
    "q164_score_blend" ->
      s"""WITH $lmRankedCtes,
         |base AS (
         |  SELECT r.doc_id, r.lang, r.avg_nano, CAST(d.n_chars AS BIGINT) AS n_chars
         |  FROM ranked r JOIN documents d ON r.doc_id = d.doc_id),
         |pcts AS (
         |  SELECT doc_id, lang,
         |    CASE WHEN COUNT(*) OVER (PARTITION BY lang) = 1 THEN 1000000
         |      ELSE (ROW_NUMBER() OVER (PARTITION BY lang
         |          ORDER BY avg_nano, doc_id) - 1) * 1000000
         |        // (COUNT(*) OVER (PARTITION BY lang) - 1) END AS pct_a,
         |    CASE WHEN COUNT(*) OVER (PARTITION BY lang) = 1 THEN 1000000
         |      ELSE (ROW_NUMBER() OVER (PARTITION BY lang
         |          ORDER BY n_chars, doc_id) - 1) * 1000000
         |        // (COUNT(*) OVER (PARTITION BY lang) - 1) END AS pct_b
         |  FROM base),
         |blended AS (
         |  SELECT doc_id, lang, pct_a, pct_b, pct_a + pct_b AS blend_u
         |  FROM pcts),
         |topk AS (
         |  SELECT *, ROW_NUMBER() OVER (PARTITION BY lang
         |    ORDER BY blend_u DESC, doc_id) AS rk
         |  FROM blended)
         |SELECT doc_id, lang, CAST(pct_a AS BIGINT) AS pct_a,
         |  CAST(pct_b AS BIGINT) AS pct_b, CAST(blend_u AS BIGINT) AS blend_u,
         |  CAST(rk AS BIGINT) AS rk
         |FROM topk WHERE rk <= 10 ORDER BY doc_id""".stripMargin,

    // The q169 sketch-blend replay: per-(lang, signal) equi-width
    // histograms (avg_nano on the q141 power-of-two grid, n_chars on the
    // unit grid), min-rank percentile per bucket via ASC cumsums
    // ((cum − cnt)·1e6 floor-div (n−1)), integer blend, the DESC-cumsum
    // candidate-band threshold at k = 10, and the rank window over the
    // BAND only — every step pure BIGINT arithmetic.
    "q169_score_blend_sketch" ->
      s"""WITH $lmRankedCtes,
         |base AS (
         |  SELECT r.doc_id, r.lang, r.avg_nano,
         |    CAST(d.n_chars AS BIGINT) AS n_chars
         |  FROM ranked r JOIN documents d ON r.doc_id = d.doc_id),
         |bkt AS (
         |  SELECT doc_id, lang,
         |    LEAST(16383, GREATEST(0, CAST(floor(
         |      (CAST(avg_nano AS DOUBLE) + 8589934592.0) / 524288.0)
         |      AS BIGINT))) AS b_a,
         |    LEAST(16383, GREATEST(0, n_chars)) AS b_b
         |  FROM base),
         |ha AS (SELECT lang, b_a, COUNT(*) AS c FROM bkt GROUP BY 1, 2),
         |pa AS (
         |  SELECT lang, b_a,
         |    CASE WHEN SUM(c) OVER (PARTITION BY lang) = 1 THEN 1000000
         |      ELSE (SUM(c) OVER (PARTITION BY lang ORDER BY b_a) - c)
         |        * 1000000 // (SUM(c) OVER (PARTITION BY lang) - 1) END
         |      AS pct_a
         |  FROM ha),
         |hb AS (SELECT lang, b_b, COUNT(*) AS c FROM bkt GROUP BY 1, 2),
         |pb AS (
         |  SELECT lang, b_b,
         |    CASE WHEN SUM(c) OVER (PARTITION BY lang) = 1 THEN 1000000
         |      ELSE (SUM(c) OVER (PARTITION BY lang ORDER BY b_b) - c)
         |        * 1000000 // (SUM(c) OVER (PARTITION BY lang) - 1) END
         |      AS pct_b
         |  FROM hb),
         |sc AS (
         |  SELECT k.doc_id, k.lang, pa.pct_a, pb.pct_b,
         |    pa.pct_a + pb.pct_b AS blend_u
         |  FROM bkt k
         |  JOIN pa ON k.lang = pa.lang AND k.b_a = pa.b_a
         |  JOIN pb ON k.lang = pb.lang AND k.b_b = pb.b_b),
         |bh AS (
         |  SELECT lang, LEAST(15625, GREATEST(0, blend_u // 128)) AS t,
         |    COUNT(*) AS c
         |  FROM sc GROUP BY 1, 2),
         |th AS (
         |  SELECT lang, t * 128 AS thr FROM (
         |    SELECT lang, t, c,
         |      SUM(c) OVER (PARTITION BY lang ORDER BY t DESC) AS cum
         |    FROM bh)
         |  WHERE cum >= 10 AND cum - c < 10),
         |cand AS (
         |  SELECT sc.* FROM sc LEFT JOIN th USING (lang)
         |  WHERE blend_u >= COALESCE(thr, 0)),
         |topk AS (
         |  SELECT *, ROW_NUMBER() OVER (PARTITION BY lang
         |    ORDER BY blend_u DESC, doc_id) AS rk
         |  FROM cand)
         |SELECT doc_id, lang, CAST(pct_a AS BIGINT) AS pct_a,
         |  CAST(pct_b AS BIGINT) AS pct_b, CAST(blend_u AS BIGINT) AS blend_u,
         |  CAST(rk AS BIGINT) AS rk
         |FROM topk WHERE rk <= 10 ORDER BY doc_id""".stripMargin,

    // q132's relining + a GLOBAL first-occurrence rank per line; the
    // strict (doc_id, pos) order is exactly min(struct(id, pos)).
    "q138_line_dedup_corpus" ->
      """WITH words AS (
        |  SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS w
        |  FROM documents),
        |lines AS (
        |  SELECT doc_id, i AS pos,
        |    CASE WHEN CAST(2 * i + 2 AS INT) <= len(w)
        |      THEN w[CAST(2 * i + 1 AS INT)] || ' ' || w[CAST(2 * i + 2 AS INT)]
        |      ELSE w[CAST(2 * i + 1 AS INT)] END AS seg
        |  FROM words, UNNEST(range(0, (len(w) + 1) // 2)) AS t(i)),
        |firsts AS (
        |  SELECT doc_id, pos, seg,
        |    (trim(seg) = '' OR ROW_NUMBER() OVER (
        |      PARTITION BY seg ORDER BY doc_id, pos) = 1) AS keep
        |  FROM lines)
        |SELECT doc_id,
        |  COALESCE(string_agg(CASE WHEN keep THEN seg END, chr(10)
        |    ORDER BY pos), '') AS text,
        |  CAST(COUNT(*) AS BIGINT) AS n_segments,
        |  CAST(SUM(CASE WHEN keep THEN 0 ELSE 1 END) AS BIGINT) AS n_dropped
        |FROM firsts GROUP BY doc_id
        |ORDER BY doc_id""".stripMargin,

    // q136's scoring CTE + the log-domain E-S key: gkey =
    // floor((ln(-ln u) - lw_micro/n_feats/1e6) * 1e6 + 0.5) as BIGINT
    // (Sampling.logSamplingKey's micro-unit quantization — NOT the
    // linear-space DECIMAL(20,15) convention), u off md5('7:'||doc_id),
    // smallest 100 keys win.
    "q139_dsir_select" ->
      """WITH words AS (
        |  SELECT doc_id, lang, regexp_split_to_array(trim(text), '\s+') AS w
        |  FROM documents),
        |grams AS (
        |  SELECT doc_id, lang, unnest(w) AS g FROM words
        |  UNION ALL
        |  SELECT doc_id, lang,
        |    w[CAST(i AS INT)] || ' ' || w[CAST(i AS INT) + 1] AS g
        |  FROM words, UNNEST(range(1, len(w))) AS t(i)),
        |feats AS (
        |  SELECT doc_id, lang,
        |    CAST('0x' || substr(md5(g), 1, 15) AS BIGINT) % 64 AS b
        |  FROM grams),
        |rd AS (SELECT b, COUNT(*) AS rn FROM feats GROUP BY 1),
        |td AS (SELECT b, COUNT(*) AS tn FROM feats WHERE lang = 'en' GROUP BY 1),
        |j AS (SELECT b, rn, COALESCE(tn, 0) AS tn FROM rd LEFT JOIN td USING (b)),
        |tot AS (SELECT CAST(SUM(rn) AS BIGINT) AS rt,
        |               CAST(SUM(tn) AS BIGINT) AS tt FROM j),
        |lam AS (
        |  SELECT b,
        |    CAST(floor(ln(CAST(tn + 1 AS DOUBLE) / CAST(tt + 64 AS DOUBLE))
        |      * 1e6 + 0.5) AS BIGINT)
        |    - CAST(floor(ln(CAST(rn + 1 AS DOUBLE) / CAST(rt + 64 AS DOUBLE))
        |      * 1e6 + 0.5) AS BIGINT) AS lw
        |  FROM j CROSS JOIN tot),
        |scored AS (
        |  SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_feats,
        |    CAST(SUM(lw) AS BIGINT) AS lw_micro
        |  FROM feats JOIN lam USING (b)
        |  GROUP BY doc_id HAVING COUNT(*) > 0),
        |keyed AS (
        |  SELECT doc_id, lw_micro,
        |    CAST(floor((ln(-ln((CAST('0x' || substr(md5('7:' ||
        |        CAST(doc_id AS VARCHAR)), 1, 6) AS BIGINT) + 0.5)
        |      / 16777216.0))
        |      - CAST(lw_micro AS DOUBLE) / n_feats / 1e6) * 1e6 + 0.5)
        |      AS BIGINT) AS gkey
        |  FROM scored)
        |SELECT doc_id, lw_micro, gkey
        |FROM keyed ORDER BY gkey, doc_id LIMIT 100""".stripMargin,

    // q137's LM chain + the sketch-threshold replay: equi-width histogram
    // over avg_nano on the power-of-two grid, per-(lang, boundary) DESC
    // cumulative counts, boundary bucket = the one containing rank
    // ceil(i·n/3), tier = 1 + #boundaries the row's bucket falls below.
    "q141_ccnet_buckets_sketch" ->
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
        |  FROM cg JOIN ch USING (a) CROSS JOIN v),
        |scored AS (
        |  SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_bigrams,
        |    CAST(SUM(lpu) AS BIGINT) AS lp_micro
        |  FROM bg JOIN lm USING (g) GROUP BY doc_id),
        |ranked AS (
        |  SELECT s.doc_id, d.lang, s.n_bigrams,
        |    CAST(floor(CAST(s.lp_micro AS DOUBLE) * 1e3
        |      / CAST(s.n_bigrams AS DOUBLE) + 0.5) AS BIGINT) AS avg_nano
        |  FROM scored s JOIN documents d ON s.doc_id = d.doc_id),
        |hb AS (
        |  SELECT *, LEAST(16383, GREATEST(0, CAST(floor(
        |    (CAST(avg_nano AS DOUBLE) + 8589934592.0) / 524288.0)
        |    AS INT))) AS b
        |  FROM ranked),
        |cnts AS (SELECT lang, b, COUNT(*) AS cnt FROM hb GROUP BY 1, 2),
        |ln_ AS (SELECT lang, CAST(SUM(cnt) AS BIGINT) AS n FROM cnts
        |        GROUP BY 1),
        |bounds AS (
        |  SELECT c.lang, u.i, c.b, c.cnt,
        |    SUM(c.cnt) OVER (PARTITION BY c.lang, u.i ORDER BY c.b DESC)
        |      AS cum,
        |    floor((u.i * ln_.n + 2) / 3.0) AS t
        |  FROM cnts c JOIN ln_ USING (lang)
        |  CROSS JOIN (SELECT unnest([1, 2]) AS i) u),
        |thr AS (SELECT lang, i, b FROM bounds
        |        WHERE cum >= t AND cum - cnt < t)
        |SELECT h.doc_id, h.lang, h.n_bigrams, h.avg_nano,
        |  CAST(1 + SUM(CASE WHEN h.b < t.b THEN 1 ELSE 0 END) AS BIGINT)
        |    AS bucket
        |FROM hb h JOIN thr t USING (lang)
        |GROUP BY h.doc_id, h.lang, h.n_bigrams, h.avg_nano
        |ORDER BY doc_id""".stripMargin,

    // Positional 8-gram anchors over the shared tokenization; the
    // keep-first survivor is the ROW_NUMBER-1 row per anchor string
    // (ordered doc_id, pos — exactly min(struct)); losing anchors'
    // intervals union via DISTINCT covered positions; docs rebuild by
    // position with single-space joins. The anchor key is the n-gram
    // STRING here (grouping semantics identical to Spark's md5 digest
    // short of a 2^-128 collision).
    "q142_exactsubstr_dedup" ->
      """WITH words AS (
        |  SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS w
        |  FROM documents),
        |sh AS (
        |  SELECT doc_id, CAST(i AS INT) AS pos,
        |    array_to_string(w[CAST(i AS INT):CAST(i + 7 AS INT)], ' ') AS g
        |  FROM words, UNNEST(range(1, len(w) - 6)) AS t(i)),
        |losers AS (
        |  SELECT doc_id, pos FROM (
        |    SELECT doc_id, pos,
        |      ROW_NUMBER() OVER (PARTITION BY g ORDER BY doc_id, pos) AS rn
        |    FROM sh) WHERE rn > 1),
        |cov AS (
        |  SELECT DISTINCT doc_id, CAST(p AS INT) AS cp
        |  FROM losers, UNNEST(range(pos, pos + 8)) AS t(p)),
        |toks AS (
        |  SELECT doc_id, CAST(i AS INT) AS pos, w[CAST(i AS INT)] AS tok
        |  FROM words, UNNEST(range(1, len(w) + 1)) AS t(i)),
        |kept AS (
        |  SELECT t.doc_id, t.pos, t.tok
        |  FROM toks t LEFT JOIN cov c
        |    ON t.doc_id = c.doc_id AND t.pos = c.cp
        |  WHERE c.cp IS NULL),
        |agg AS (
        |  SELECT doc_id, string_agg(tok, ' ' ORDER BY pos) AS text
        |  FROM kept GROUP BY doc_id),
        |nrem AS (
        |  SELECT doc_id, COUNT(*) AS n_removed FROM cov GROUP BY doc_id)
        |SELECT w.doc_id, COALESCE(a.text, '') AS text,
        |  CAST(len(w.w) AS BIGINT) AS n_tokens,
        |  CAST(COALESCE(nr.n_removed, 0) AS BIGINT) AS n_removed
        |FROM words w
        |LEFT JOIN agg a USING (doc_id)
        |LEFT JOIN nrem nr USING (doc_id)
        |ORDER BY doc_id""".stripMargin,

    // The q142 rebuild CTEs → the Gopher thresholds in SQL over the
    // REBUILT text (the RepetitionSpec parity contract) → q143's
    // gradient/scoring CTEs over the survivors → the nano-key top-100.
    "q146_curation_select" ->
      """WITH words AS (
        |  SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS w
        |  FROM documents),
        |sh AS (
        |  SELECT doc_id, CAST(i AS INT) AS pos,
        |    array_to_string(w[CAST(i AS INT):CAST(i + 7 AS INT)], ' ') AS g
        |  FROM words, UNNEST(range(1, len(w) - 6)) AS t(i)),
        |losers AS (
        |  SELECT doc_id, pos FROM (
        |    SELECT doc_id, pos,
        |      ROW_NUMBER() OVER (PARTITION BY g ORDER BY doc_id, pos) AS rn
        |    FROM sh) WHERE rn > 1),
        |cov AS (
        |  SELECT DISTINCT doc_id, CAST(p AS INT) AS cp
        |  FROM losers, UNNEST(range(pos, pos + 8)) AS t(p)),
        |toks AS (
        |  SELECT doc_id, CAST(i AS INT) AS pos, w[CAST(i AS INT)] AS tok
        |  FROM words, UNNEST(range(1, len(w) + 1)) AS t(i)),
        |kept AS (
        |  SELECT t.doc_id, t.pos, t.tok
        |  FROM toks t LEFT JOIN cov c
        |    ON t.doc_id = c.doc_id AND t.pos = c.cp
        |  WHERE c.cp IS NULL),
        |agg AS (
        |  SELECT doc_id, string_agg(tok, ' ' ORDER BY pos) AS text
        |  FROM kept GROUP BY doc_id),
        |nrem AS (
        |  SELECT doc_id, COUNT(*) AS n_removed FROM cov GROUP BY doc_id),
        |rw AS (
        |  SELECT w.doc_id, COALESCE(a.text, '') AS text,
        |    CAST(COALESCE(nr.n_removed, 0) AS BIGINT) AS n_removed,
        |    regexp_split_to_array(trim(COALESCE(a.text, '')), '\s+') AS rwv
        |  FROM words w
        |  LEFT JOIN agg a USING (doc_id)
        |  LEFT JOIN nrem nr USING (doc_id)),
        |g1 AS (SELECT doc_id, unnest(rwv) AS g FROM rw),
        |c1 AS (SELECT doc_id, g, COUNT(*) AS cnt FROM g1 GROUP BY 1, 2),
        |a1 AS (SELECT doc_id, CAST(SUM(cnt) AS BIGINT) AS total,
        |         CAST(COUNT(*) AS BIGINT) AS dist
        |       FROM c1 GROUP BY 1),
        |g2 AS (SELECT doc_id,
        |         rwv[CAST(i AS INT)] || ' ' || rwv[CAST(i AS INT) + 1] AS g
        |       FROM rw, UNNEST(range(1, len(rwv))) AS t(i)),
        |c2 AS (SELECT doc_id, g, COUNT(*) AS cnt FROM g2 GROUP BY 1, 2),
        |t2 AS (SELECT doc_id, CAST(cnt * length(g) AS BIGINT) AS topchars
        |       FROM (SELECT doc_id, g, cnt, ROW_NUMBER() OVER (
        |               PARTITION BY doc_id ORDER BY cnt DESC, g) AS rn
        |             FROM c2) WHERE rn = 1),
        |g3 AS (SELECT doc_id,
        |         rwv[CAST(i AS INT)] || ' ' || rwv[CAST(i AS INT) + 1]
        |           || ' ' || rwv[CAST(i AS INT) + 2] AS g
        |       FROM rw, UNNEST(range(1, len(rwv) - 1)) AS t(i)),
        |c3 AS (SELECT doc_id, g, COUNT(*) AS cnt FROM g3 GROUP BY 1, 2),
        |a3 AS (SELECT doc_id,
        |         CAST(SUM(CASE WHEN cnt > 1 THEN cnt * length(g)
        |                       ELSE 0 END) AS BIGINT) AS dupchars
        |       FROM c3 GROUP BY 1),
        |surv AS (
        |  SELECT r.doc_id, r.n_removed, r.rwv
        |  FROM rw r JOIN a1 USING (doc_id)
        |  LEFT JOIN t2 USING (doc_id)
        |  LEFT JOIN a3 USING (doc_id)
        |  WHERE (a1.total = 0 OR
        |         1.0 - CAST(a1.dist AS DOUBLE) / CAST(a1.total AS DOUBLE)
        |           <= 0.6)
        |    AND (length(r.text) = 0 OR
        |         CAST(COALESCE(t2.topchars, 0) AS DOUBLE) / length(r.text)
        |           <= 0.18)
        |    AND (length(r.text) = 0 OR
        |         CAST(COALESCE(a3.dupchars, 0) AS DOUBLE) / length(r.text)
        |           <= 0.4)),
        |feat AS (
        |  SELECT s.doc_id,
        |    (CASE WHEN d.lang = 'en' THEN -1 ELSE 1 END) AS sg,
        |    CAST('0x' || substr(md5(t.tok), 1, 15) AS BIGINT) % 64 AS b
        |  FROM surv s JOIN documents d USING (doc_id),
        |    UNNEST(s.rwv) AS t(tok)),
        |wt AS (SELECT b, CAST(-SUM(sg) AS BIGINT) AS wv FROM feat
        |       GROUP BY 1),
        |sc AS (SELECT f.doc_id, CAST(COUNT(*) AS BIGINT) AS n_toks,
        |         CAST(SUM(wt.wv) AS BIGINT) AS score_micro
        |       FROM feat f JOIN wt USING (b) GROUP BY 1),
        |keyd AS (SELECT doc_id, n_toks,
        |           CAST(floor(CAST(score_micro AS DOUBLE) * 1e3
        |             / CAST(n_toks AS DOUBLE) + 0.5) AS BIGINT) AS score_nano
        |         FROM sc)
        |SELECT k.doc_id, k.n_toks, s.n_removed, k.score_nano
        |FROM (SELECT * FROM keyd
        |      ORDER BY score_nano DESC, doc_id LIMIT 100) k
        |JOIN surv s USING (doc_id)
        |ORDER BY k.doc_id""".stripMargin,

    // Anchors of the incoming slice; corpus membership via ANTI JOIN on
    // the n-gram string; within-batch keep-first for corpus-absent runs
    // only; the same rebuild tail as q142 over the incoming docs.
    "q148_exactsubstr_incremental" ->
      """WITH wi AS (
        |  SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS w
        |  FROM documents WHERE doc_id % 10 = 0),
        |shi AS (
        |  SELECT doc_id, CAST(i AS INT) AS pos,
        |    array_to_string(w[CAST(i AS INT):CAST(i + 7 AS INT)], ' ') AS g
        |  FROM wi, UNNEST(range(1, len(w) - 6)) AS t(i)),
        |corpg AS (
        |  SELECT DISTINCT
        |    array_to_string(w[CAST(i AS INT):CAST(i + 7 AS INT)], ' ') AS g
        |  FROM (SELECT regexp_split_to_array(trim(text), '\s+') AS w
        |        FROM documents WHERE doc_id % 10 <> 0),
        |    UNNEST(range(1, len(w) - 6)) AS t(i)),
        |l1 AS (SELECT doc_id, pos FROM shi JOIN corpg USING (g)),
        |rest AS (SELECT shi.* FROM shi ANTI JOIN corpg USING (g)),
        |l2 AS (
        |  SELECT doc_id, pos FROM (
        |    SELECT doc_id, pos,
        |      ROW_NUMBER() OVER (PARTITION BY g ORDER BY doc_id, pos) AS rn
        |    FROM rest) WHERE rn > 1),
        |losers AS (SELECT * FROM l1 UNION ALL SELECT * FROM l2),
        |cov AS (
        |  SELECT DISTINCT doc_id, CAST(p AS INT) AS cp
        |  FROM losers, UNNEST(range(pos, pos + 8)) AS t(p)),
        |toks AS (
        |  SELECT doc_id, CAST(i AS INT) AS pos, w[CAST(i AS INT)] AS tok
        |  FROM wi, UNNEST(range(1, len(w) + 1)) AS t(i)),
        |kept AS (
        |  SELECT t.doc_id, t.pos, t.tok
        |  FROM toks t LEFT JOIN cov c
        |    ON t.doc_id = c.doc_id AND t.pos = c.cp
        |  WHERE c.cp IS NULL),
        |agg AS (
        |  SELECT doc_id, string_agg(tok, ' ' ORDER BY pos) AS text
        |  FROM kept GROUP BY doc_id),
        |nrem AS (
        |  SELECT doc_id, COUNT(*) AS n_removed FROM cov GROUP BY doc_id)
        |SELECT w.doc_id, COALESCE(a.text, '') AS text,
        |  CAST(len(w.w) AS BIGINT) AS n_tokens,
        |  CAST(COALESCE(nr.n_removed, 0) AS BIGINT) AS n_removed
        |FROM wi w
        |LEFT JOIN agg a USING (doc_id)
        |LEFT JOIN nrem nr USING (doc_id)
        |ORDER BY doc_id""".stripMargin,

    // q75's exact-integer mixCorpus replay with the temperature weights
    // w = GREATEST(1, floor(sqrt(n))) derived from the SAME table.
    "q140_temperature_mix" ->
      """WITH cnt AS (
        |  SELECT lang, COUNT(*) AS n,
        |    GREATEST(CAST(floor(sqrt(CAST(COUNT(*) AS DOUBLE))) AS BIGINT),
        |      1) AS wt
        |  FROM documents GROUP BY lang),
        |m AS (
        |  SELECT a.lang AS mlang, a.wt AS mwt, a.n AS mn FROM cnt a
        |  WHERE NOT EXISTS (
        |    SELECT 1 FROM cnt b
        |    WHERE b.n * a.wt < a.n * b.wt
        |       OR (b.n * a.wt = a.n * b.wt AND b.lang < a.lang))),
        |thr AS (
        |  SELECT c.lang,
        |    LEAST((10000 * c.wt * m.mn) // (m.mwt * c.n), 10000) AS t
        |  FROM cnt c, m),
        |s AS (
        |  SELECT lang, doc_id,
        |    CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8) AS BIGINT)
        |      % 10000 AS b
        |  FROM documents),
        |k AS (
        |  SELECT s.lang, s.doc_id
        |  FROM s JOIN thr ON s.lang = thr.lang WHERE s.b < thr.t)
        |SELECT lang, COUNT(*) AS n_kept, MIN(doc_id) AS first_doc,
        |  CAST(SUM(doc_id) AS BIGINT) AS sum_doc
        |FROM k GROUP BY lang ORDER BY lang""".stripMargin
  )
}
