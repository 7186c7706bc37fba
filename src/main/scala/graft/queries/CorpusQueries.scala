package graft.queries

import graft.Tables
import graft.functions.TextFunctions._
import graft.operators.{Checkpoints, Clusters, Decontam, Dedup}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Corpus-curation batch: the training-data-pipeline steps that run AFTER
  * candidate generation — duplicate-cluster resolution (connected
  * components), benchmark decontamination, PII scrubbing, normalization,
  * and BM25 relevance scoring. Each is oracle-gated; the cluster oracle is
  * a recursive CTE (min-label reachability), the rest mirror the Spark
  * column programs in DuckDB SQL.
  */
object CorpusQueries extends QueryModule {
  import Q._

  // BM25 query terms + parameters (fixed, public constants)
  private val bmTerms = Seq("spark", "table", "window")
  private val bmK1 = 1.2
  private val bmB = 0.75

  /** PII-bearing synthetic text derived deterministically from customer
    * columns (the shared tables carry no natural PII). Email always;
    * phone on custkey%3==0; IP on custkey%2==0 — so hit counts vary.
    */
  private def piiText(k: Column, name: Column): Column =
    concat(
      name, lit(" contact "),
      lower(regexp_replace(name, "#", ".")), lit("@example.com"),
      when(k % 3 === 0, concat(lit(" call "),
        (k % 90 + 10).cast("string"), lit("-"),
        (k % 900 + 100).cast("string"), lit("-"),
        (k % 899 + 100).cast("string"), lit("-"),
        (k % 9000 + 1000).cast("string"))).otherwise(lit("")),
      when(k % 2 === 0, concat(lit(" from 10.0."),
        (k % 256).cast("string"), lit("."),
        (k % 100).cast("string"))).otherwise(lit("")))

  private val piiTextSql: String =
    """c_name || ' contact ' || lower(replace(c_name, '#', '.')) ||
      |'@example.com' ||
      |CASE WHEN c_custkey % 3 = 0 THEN ' call ' ||
      |  CAST(c_custkey % 90 + 10 AS VARCHAR) || '-' ||
      |  CAST(c_custkey % 900 + 100 AS VARCHAR) || '-' ||
      |  CAST(c_custkey % 899 + 100 AS VARCHAR) || '-' ||
      |  CAST(c_custkey % 9000 + 1000 AS VARCHAR) ELSE '' END ||
      |CASE WHEN c_custkey % 2 = 0 THEN ' from 10.0.' ||
      |  CAST(c_custkey % 256 AS VARCHAR) || '.' ||
      |  CAST(c_custkey % 100 AS VARCHAR) ELSE '' END""".stripMargin
      .replace('\n', ' ')

  /** Mixed-case / punctuation / whitespace variants of the market
    * segment, for the normalization gate (cosmetic variants must collapse
    * to one normalized digest).
    */
  private def messyText(k: Column, seg: Column): Column =
    concat(
      when(k % 3 === 0, concat(upper(seg), lit("!!!")))
        .when(k % 3 === 1, concat(lower(seg), lit("   ")))
        .otherwise(seg),
      lit(" Customer "), (k % 50).cast("string"))

  /** Shared oracle CTE fragment: 5-gram positional shingles over `src`
    * (must expose doc_id + words), cross-doc duplicated spans, and the
    * per-doc interval-union coverage — mirrors Dedup.dupSpanCoverage.
    * One copy, used by q89 and q92 (lockstep by construction).
    */
  private def dupSpanCtes(src: String): String =
    s"""shp AS (
       |  SELECT doc_id, CAST(i AS BIGINT) AS pos,
       |    array_to_string(words[i:i+4], ' ') AS sh
       |  FROM $src, unnest(range(1, greatest(len(words) - 3, 1))) AS t(i)),
       |dup AS (
       |  SELECT sh FROM shp GROUP BY sh HAVING COUNT(DISTINCT doc_id) >= 2),
       |spans AS (
       |  SELECT doc_id, pos, pos + 4 AS e FROM shp JOIN dup USING (sh)),
       |cov AS (
       |  SELECT doc_id, pos, e,
       |    MAX(e) OVER (PARTITION BY doc_id ORDER BY pos
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS pm
       |  FROM spans),
       |agg AS (
       |  SELECT doc_id,
       |    SUM(GREATEST(0, e - GREATEST(pos, COALESCE(pm, 0) + 1) + 1)) AS covered
       |  FROM cov GROUP BY doc_id)""".stripMargin

  private val messyTextSql: String =
    """CASE WHEN c_custkey % 3 = 0 THEN upper(c_mktsegment) || '!!!'
      |     WHEN c_custkey % 3 = 1 THEN lower(c_mktsegment) || '   '
      |     ELSE c_mktsegment END || ' Customer ' ||
      |CAST(c_custkey % 50 AS VARCHAR)""".stripMargin.replace('\n', ' ')

  override def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // Near-dup pairs (exact 3-gram Jaccard >= 0.3, the q23 generator at a
    // looser threshold) closed into connected components; every clustered
    // doc reports its cluster (= min reachable doc_id) and whether it is
    // the canonical survivor. Distributed CC: min-label rounds + pointer
    // jumping, O(log n) rounds (Clusters scaladoc).
    "q80_dup_clusters" -> ((s, dir) => {
      import s.implicits._
      val pairs = Dedup.jaccardPairs(Tables.documents(s, dir), "doc_id",
          "text", n = 3, blockCol = Some("lang"), maxShingleFreq = 50)
        .filter($"jaccard" >= 0.3)
        .select("id_a", "id_b")
      Clusters.connectedComponents(pairs, edgesDeduped = true)
        .select($"id".as("doc_id"), $"cluster",
          ($"id" === $"cluster").as("is_canonical"))
    }),

    // Benchmark decontamination: overlap report of the training split
    // (doc_id % 20 != 0) against the held-out eval split (doc_id % 20 ==
    // 0) on distinct word 3-grams. The eval shingle set broadcasts; the
    // corpus side never shuffles to discover overlaps (plan-gated in
    // ClustersSpec).
    "q81_decontam" -> ((s, dir) => {
      import s.implicits._
      val docs = Tables.documents(s, dir)
      Decontam.contaminationReport(
          docs.filter($"doc_id" % 20 =!= 0),
          docs.filter($"doc_id" % 20 === 0),
          "doc_id", "text", n = 3)
        .select($"doc_id", $"n_shared", $"n_shingles", $"ratio")
    }),

    // Cross-CORPUS overlap (q81's semantics at the scale where the
    // reference side is itself a full corpus and cannot broadcast):
    // the even half is the reference, the odd half is scanned for
    // shared 3-grams via a SHUFFLED hash join on the shingle key —
    // plan-gated in ClustersSpec to contain a ShuffledHashJoin and no
    // broadcast of the reference side.
    "q150_decontam_shuffle" -> ((s, dir) => {
      import s.implicits._
      val docs = Tables.documents(s, dir)
      Decontam.contaminationReportShuffle(
          docs.filter($"doc_id" % 2 =!= 0),
          docs.filter($"doc_id" % 2 === 0),
          "doc_id", "text", n = 3)
        .select($"doc_id", $"n_shared", $"n_shingles", $"ratio")
    }),

    // Corpus snapshot diff (recurring-crawl ingestion audit): prev
    // drops doc_id % 7 == 0, next drops % 11 == 0 and rewrites % 5 == 0
    // — classify added/removed/changed/same by md5 digest; the join
    // carries (id, digest, length), never the texts.
    "q156_corpus_diff" -> ((s, dir) => {
      import s.implicits._
      val docs = Tables.documents(s, dir)
      val prev = docs.filter($"doc_id" % 7 =!= 0).select($"doc_id", $"text")
      val next = docs.filter($"doc_id" % 11 =!= 0)
        .select($"doc_id",
          when($"doc_id" % 5 === 0, concat($"text", lit(" v2")))
            .otherwise($"text").as("text"))
      graft.io.Layout.corpusDiff(prev, next, "doc_id", "text")
        .orderBy($"status")
    }),

    // PII scrub: redact emails / phones / IPv4s from deterministic
    // PII-bearing text; per nation report hit totals and how much the
    // redaction changed the byte length. Pure codegen'd regex columns —
    // at 100 TB the scrub runs inside the scan stage.
    "q82_pii_redact" -> ((s, dir) => {
      import s.implicits._
      Tables.customer(s, dir)
        .withColumn("txt", piiText($"c_custkey", $"c_name"))
        .withColumn("red", redactPii($"txt"))
        .groupBy($"c_nationkey".cast("long").as("nation"))
        .agg(count(lit(1)).as("n_docs"),
          sum(piiCount($"txt")).as("pii_hits"),
          sum(length($"red") - length($"txt")).as("len_delta"))
        .orderBy($"nation")
    }),

    // Canonical normalization before dedup: cosmetic variants (case,
    // punctuation, trailing space) must collapse — per market segment,
    // distinct raw digests vs distinct normalized digests.
    "q83_normalize" -> ((s, dir) => {
      import s.implicits._
      Tables.customer(s, dir)
        .withColumn("raw", messyText($"c_custkey", $"c_mktsegment"))
        .withColumn("norm", normalizeText($"raw"))
        .groupBy($"c_mktsegment")
        .agg(count(lit(1)).as("n"),
          countDistinct(md5($"raw")).as("distinct_raw"),
          countDistinct(md5($"norm")).as("distinct_norm"),
          sum(length($"raw") - length($"norm")).as("len_delta"))
        .orderBy($"c_mktsegment")
    }),

    // Both-tails quality band on the unigram-LM score (the filter step
    // of the q87 scorer): keep docs with avg_lp in a fixed band, report
    // survivors per language. avg_lp is an exact-integer ratio, so the
    // band comparison is bit-deterministic in both engines.
    "q94_quality_band" -> ((s, dir) => {
      import s.implicits._
      graft.operators.Quality.filterByLogprobBand(
          Tables.documents(s, dir), "doc_id", "text", lo = -3.41, hi = -3.39)
        .groupBy($"lang")
        .agg(count(lit(1)).as("n_docs"), min($"doc_id").as("first_doc"))
        .orderBy($"lang")
    }),

    // Count-min heavy hitters, checked the q43/q56 sketch way: the
    // oracle supplies the exact top-10 clickers + TRUE; the query
    // asserts the CMS point estimates respect both sketch guarantees
    // (overcount-only, and error <= (e/width)·N on this seed). The
    // sketch itself is KB-sized planning metadata (one collect), built
    // by a distributed mergeable Aggregator over the full stream.
    "q93_heavy_hitters" -> ((s, dir) => {
      import s.implicits._
      val clicks = Tables.events(s, dir)
        .filter($"event_type" === "click")
        .select($"user_id".cast("long")).as[Long]
      val agg = new graft.functions.CountMinAgg(4, 1 << 12)
      val sketch = clicks.select(agg.toColumn).head()
      // N = total stream length, recovered from the sketch itself (each
      // row's counters sum to N) — no extra pass over the events table
      val n = graft.functions.CountMin.rowTotal(sketch, agg.width)
      val bound = math.ceil(math.E / agg.width * n).toLong
      val exact = clicks.toDF("user_id")
        .groupBy($"user_id").agg(count(lit(1)).as("n_clicks"))
        .orderBy($"n_clicks".desc, $"user_id").limit(10)
        .as[(Long, Long)].collect()
      val rows = exact.map { case (uid, cnt) =>
        val est = graft.functions.CountMin.estimate(sketch, uid,
          agg.depth, agg.width)
        (uid, cnt, est >= cnt && est <= cnt + bound)
      }
      s.createDataFrame(rows.toSeq)
        .toDF("user_id", "n_clicks", "cms_ok")
    }),

    // Flagship curation pipeline — the new tier chained end-to-end the
    // way a real corpus run executes it: (1) exact dedup on NORMALIZED
    // text (cosmetic variants collapse), (2) strict decontamination of
    // the training split against the eval split, (3) drop docs more
    // than half covered by cross-doc duplicate 5-gram spans, (4) final
    // per-language doc/token report. Every stage is engine-neutral, so
    // the oracle replays the whole chain.
    "q92_curation_pipeline" -> ((s, dir) => {
      import s.implicits._
      val docs = Tables.documents(s, dir)
      val d1 = Dedup.exactDedup(
          docs.withColumn("__norm", normalizeText($"text")),
          "doc_id", "__norm")
        .drop("__norm")
      val d2 = Decontam.decontaminate(
        d1.filter($"doc_id" % 20 =!= 0), docs.filter($"doc_id" % 20 === 0),
        "doc_id", "text", n = 3, maxShared = 0)
      // The dedup+decontaminate DECISION is just a survivor-id set: pin
      // it ids-only (narrow — never the text-bearing corpus, which the
      // house scale rule forbids checkpointing) so the chain above runs
      // ONCE instead of twice — previously BOTH consumers below (the
      // span-coverage branch and the final anti-join branch) re-evaluated
      // the full normalize+md5+3-gram subtree (round-18 measurement:
      // the chain is ~half of q92's serial task time). Each branch then
      // re-derives its rows as a doc_id semi-join against the base scan
      // — still two corpus scans, per the house rule (guide §5 bounded
      // intermediates).
      // Precondition: doc_id is unique in documents. The semi-join
      // re-derives rows by id alone, so a duplicated doc_id would bring
      // back the copy exact dedup dropped and change the per-lang counts
      // (the oracle gate would catch it). It is not checked at run time:
      // a check costs a Spark job on every run of the query.
      val survivorIds = Checkpoints.pin(d2.select($"doc_id"))
      val d2r = docs.join(survivorIds, Seq("doc_id"), "left_semi")
      val heavy = Dedup.dupSpanCoverage(d2r, "doc_id", "text", n = 5)
        .filter($"covered_frac" > 0.5).select($"doc_id")
      d2r.join(heavy, Seq("doc_id"), "left_anti")
        .withColumn("nt", tokenCount($"text"))
        .groupBy($"lang")
        .agg(count(lit(1)).as("n_docs"), sum($"nt").as("sum_tokens"))
        .orderBy($"lang")
    }),

    // Deterministic fractional replication: source-level training epochs
    // (en x1.5, zh x2, de x0.25, fr x1; es unlisted -> dropped). The
    // fractional epoch goes to the same hash-selected ids on every run
    // and engine.
    "q91_epoch_replication" -> ((s, dir) => {
      import s.implicits._
      graft.operators.Sampling.replicateByWeight(
          Tables.documents(s, dir), "lang", "doc_id",
          Map("en" -> 1.5, "zh" -> 2.0, "de" -> 0.25, "fr" -> 1.0))
        .groupBy($"lang")
        .agg(count(lit(1)).as("n_rows"),
          countDistinct($"doc_id").as("n_docs"),
          max($"epoch").as("max_epoch"))
        .orderBy($"lang")
    }),

    // Cluster-dedup survivor policy end-to-end: near-dup pairs -> CC ->
    // keep the min-id doc per cluster; per language, survivors and the
    // doc mass they represent (sum of cluster sizes + singletons).
    "q90_cluster_dedup" -> ((s, dir) => {
      import s.implicits._
      val docs = Tables.documents(s, dir)
      val pairs = Dedup.jaccardPairs(docs, "doc_id", "text", n = 3,
          blockCol = Some("lang"), maxShingleFreq = 50)
        .filter($"jaccard" >= 0.3).select("id_a", "id_b")
      Clusters.dedupByClusters(docs, "doc_id", pairs, pairsDeduped = true)
        .groupBy($"lang")
        .agg(count(lit(1)).as("n_survivors"),
          sum($"dup_count").as("docs_represented"))
        .orderBy($"lang")
    }),

    // Duplicate 5-gram span coverage (the exact-substring-dup metric at
    // word granularity): per doc, the token fraction covered by 5-grams
    // appearing in other docs — overlapping spans interval-unioned.
    "q89_dup_spans" -> ((s, dir) => {
      import s.implicits._
      Dedup.dupSpanCoverage(Tables.documents(s, dir), "doc_id", "text", n = 5)
        .select($"doc_id", $"n_tokens", $"covered", $"covered_frac")
    }),

    // Per-source data card — the corpus report a curation pipeline
    // publishes per ingest source: volume, language mix, token budget,
    // central length, and exact-dup rate. Pure composition of the gate's
    // own primitives; one aggregation pass over the corpus.
    "q88_data_card" -> ((s, dir) => {
      import s.implicits._
      Tables.documents(s, dir)
        .withColumn("nt", tokenCount($"text"))
        .groupBy($"source")
        .agg(count(lit(1)).as("n_docs"),
          countDistinct($"lang").as("n_langs"),
          sum($"nt").as("sum_tokens"),
          round(expr("percentile(nt, 0.5)"), 4).as("median_tokens"),
          countDistinct(md5($"text")).as("__nd"))
        .withColumn("dup_rate",
          round(lit(1.0) - col("__nd").cast("double") / col("n_docs").cast("double"), 6))
        .drop("__nd")
        .orderBy($"source")
    }),

    // Unigram-LM quality scoring (the perplexity-filter shape): per-doc
    // log-probability under the corpus's own unigram distribution.
    // Logprobs are integer micro-units at the vocab level, so per-doc
    // integer sums are order-free exact in both engines (one ln per
    // DISTINCT token is the only float op).
    "q87_unigram_logprob" -> ((s, dir) => {
      import s.implicits._
      graft.operators.Quality.unigramLogprob(
          Tables.documents(s, dir), "doc_id", "text")
        .select($"doc_id", $"n_tokens", $"lp_micro", $"avg_lp")
    }),

    // Top-3 TF-IDF terms per document (keyword extraction): idf in
    // vocab-level integer micro-units, score = exact BIGINT tf·idf_u,
    // ties on the term string — bit-identical ranks in both engines.
    "q96_tfidf_terms" -> ((s, dir) =>
      graft.operators.Quality.tfidfTopTerms(
        Tables.documents(s, dir), "doc_id", "text", k = 3)),

    // Quality-greedy corpus selection under a 12k-token budget: rank by
    // (unigram quality band desc, doc_id), keep while the inclusive
    // running token total fits. Integer bands + counts end to end.
    "q99_token_budget" -> ((s, dir) =>
      graft.operators.Quality.selectByTokenBudget(
        Tables.documents(s, dir), "doc_id", "text", budget = 12000L)),

    // Pairwise 3-gram Jaccard between sources (the corpus-overlap matrix
    // that drives mixing weights): exact distinct-shingle tier, BIGINT
    // inter/union + one deterministic double division. The mergeable
    // minhash tier (Overlap.overlapMinhash) is spec-tested against this.
    "q97_source_overlap" -> ((s, dir) =>
      graft.operators.Overlap.overlapExact(
        Tables.documents(s, dir), "source", "text", n = 3)),

    // Incremental dedup: the incoming batch (odd doc_ids) against the
    // existing corpus (even doc_ids) — exact digest tier + cross-table
    // LSH banding with exact-Jaccard verification. The oracle computes
    // the exact cross-split duplicate set directly; engine-specific
    // band hashes never reach the output (the q44 pattern). The GATE
    // runs 32 bands of 2 rows (k=64): candidate recall at j >= 0.6 is
    // 1-(1-j²)^32 > 1-7e-7, so an organic mid-similarity pair cannot
    // slip a band gap and desync Spark from the exact oracle — the
    // default 8x2 banding leaves ~3% miss at exactly j=0.6 (fine for
    // production, not for a hash-equality gate), while rows=1 banding
    // floods the verifier with any-one-component collisions (measured
    // 2.4x the gate cost on this vocabulary).
    "q86_incremental_dedup" -> ((s, dir) => {
      import s.implicits._
      val docs = Tables.documents(s, dir)
      Dedup.incrementalDedupReport(
        docs.filter($"doc_id" % 2 === 1), docs.filter($"doc_id" % 2 === 0),
        "doc_id", "text", k = 64, bands = 32, threshold = 0.6)
    }),

    // Semantic dedup (the SemDeDup shape): embedding near-dup pairs
    // (cosine >= 0.2 within label blocks, the q27 generator at a looser
    // threshold) closed into connected components; each clustered
    // embedding maps to its canonical survivor. The cluster step reuses
    // the same distributed CC as q80 — one operator, both modalities.
    "q85_semantic_dedup" -> ((s, dir) => {
      import s.implicits._
      val pairs = graft.operators.Similarity.blockedNearDups(
          Tables.embeddings(s, dir), "vec_id", "embedding", "label",
          threshold = 0.2)
        .select($"id_a", $"id_b")
      Clusters.connectedComponents(pairs, edgesDeduped = true)
        .select($"id".as("vec_id"), $"cluster",
          ($"id" === $"cluster").as("is_canonical"))
    }),

    // BM25 relevance of every document against a fixed 3-term query;
    // top 20 by score (doc_id tiebreak). Term frequencies are per-row
    // column expressions (no explode/shuffle); the corpus stats (N, df,
    // avg len) are one aggregate row cross-joined back — at 100 TB that
    // is one scalar broadcast, and scoring stays in the scan stage.
    // Score arithmetic is written in a fixed operation order so both
    // engines round identically.
    "q84_bm25" -> ((s, dir) => {
      import s.implicits._
      val docs = Tables.documents(s, dir)
        .select($"doc_id", tokens($"text").as("w"))
        .withColumn("len", size($"w"))
      val tf = bmTerms.foldLeft(docs) { (d, t) =>
        d.withColumn(s"tf_$t", size(filter($"w", x => x === t)))
      }
      val stats = tf.agg(
        (count(lit(1)).cast("double")).as("n"),
        sum($"len".cast("long")).cast("double").as("sumlen") +:
          bmTerms.map(t =>
            sum(when(col(s"tf_$t") > 0, 1L).otherwise(0L)).cast("double")
              .as(s"df_$t")): _*)
      // ln() can differ by 1 ulp between JVM Math.log and libm, so the
      // score is quantized through an exact decimal (the Q.dec pattern)
      // before output AND ordering — sub-ulp engine noise can't flip
      // either the value or the ranking.
      val scored = tf.crossJoin(broadcast(stats))
        .withColumn("score", bmTerms.map { t =>
          val tfc = col(s"tf_$t").cast("double")
          val idf = log(($"n" - col(s"df_$t") + 0.5) / (col(s"df_$t") + 0.5) + 1.0)
          idf * (tfc * (bmK1 + 1.0)) /
            (tfc + lit(bmK1) * (lit(1.0 - bmB) +
              lit(bmB) * ($"len".cast("double") / ($"sumlen" / $"n"))))
        }.reduce(_ + _).cast("decimal(18,9)").cast("double"))
      scored.orderBy($"score".desc, $"doc_id")
        .limit(20)
        .select($"doc_id" +: bmTerms.map(t =>
          col(s"tf_$t").cast("long").as(s"tf_$t")) :+ $"score": _*)
    }),

    // Mergeable per-source vocabulary sketches (DataSketches HLL): the
    // incremental corpus-stats shape — per-group KB sketches persist and
    // union instead of rescanning history. At gate cardinalities the
    // sketch sits in its exact coupon mode, so the estimates equal the
    // oracle's exact COUNT(DISTINCT) (merge/incremental laws spec'd in
    // SketchesSpec).
    "q125_distinct_sketch" -> ((s, dir) => {
      import s.implicits._
      val words = Tables.documents(s, dir).select($"source",
        explode(tokens($"text")).as("w"))
      graft.operators.Sketches.estimate(
          graft.operators.Sketches.distinctSketch(words, "source", "w"))
        .select($"source", $"n_rows", $"distinct_est")
        .orderBy($"source")
    }),

    // Mergeable equi-width histogram quantiles: per-source p50/p90 of
    // document length off exact integer bucket counts — the quantile
    // sketch whose merge law is plain addition (unlike KLL/t-digest).
    // Interpolation uses integer ranks + one IEEE division, identical
    // in both engines (the oracle casts q to DOUBLE so ceil(q*n) shares
    // Spark's float law).
    "q126_hist_quantiles" -> ((s, dir) => {
      import s.implicits._
      val sk = graft.operators.Sketches.histogramSketch(
        Tables.documents(s, dir), "source", "n_chars",
        lo = 0.0, hi = 1024.0, nBuckets = 16)
      graft.operators.Sketches.quantilesFromHistogram(sk, "source",
        0.0, 1024.0, 16, Seq(0.5, 0.9))
        .orderBy($"source", $"q")
    }),

    // q126 with NOBODY supplying the grid: `Sketches.discoverGrid`'s
    // one min/max pass fits the minimal covering power-of-two grid and
    // the oracle REPLAYS THE DISCOVERY ITSELF (min width from a
    // generated power table, floorMod-aligned lo — all integer), then
    // the same bucket/cumsum/interpolation law as q126. The returned
    // grid travels in the output (grid_lo, grid_width), so the gate
    // pins the fit, not just the estimates.
    "q183_auto_quantiles" -> ((s, dir) => {
      import s.implicits._
      val (sk, g) = graft.operators.Sketches.histogramSketchAuto(
        Tables.documents(s, dir), "source", "n_chars", nBuckets = 16)
      graft.operators.Sketches.quantilesFromHistogram(sk, "source",
        g.lo.toDouble, g.hi.toDouble, g.nBuckets, Seq(0.25, 0.5, 0.9))
        .withColumn("grid_lo", lit(g.lo))
        .withColumn("grid_width", lit(g.width))
        .orderBy($"source", $"q")
    })
  )

  override def oracles: Map[String, String] = Map(
    // Recursive min-label reachability: symmetric edges, every node
    // starts labeled with itself, labels flow along edges until fixpoint
    // (UNION dedups states, so the recursion terminates); a node's
    // component is the MIN label that reached it.
    "q80_dup_clusters" ->
      s"""WITH RECURSIVE ${TextQueries.docShingles},
         |keep AS (
         |  SELECT shingle FROM sh GROUP BY shingle
         |  HAVING COUNT(DISTINCT doc_id) <= 50),
         |shp AS (SELECT sh.* FROM sh JOIN keep USING (shingle)),
         |szp AS (SELECT doc_id, COUNT(*) AS sz FROM shp GROUP BY doc_id),
         |pr AS (
         |  SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS inter
         |  FROM shp a JOIN shp b
         |    ON a.shingle = b.shingle AND a.doc_id < b.doc_id AND a.lang = b.lang
         |  GROUP BY 1, 2),
         |pairs AS (
         |  SELECT id_a, id_b
         |  FROM pr JOIN szp sa ON id_a = sa.doc_id JOIN szp sb ON id_b = sb.doc_id
         |  WHERE CAST(inter AS DOUBLE) / CAST(sa.sz + sb.sz - inter AS DOUBLE) >= 0.3),
         |e AS (SELECT id_a AS s, id_b AS d FROM pairs
         |      UNION ALL SELECT id_b, id_a FROM pairs),
         |wk AS (
         |  SELECT s AS id, s AS lbl FROM e
         |  UNION
         |  SELECT e.d, wk.lbl FROM wk JOIN e ON e.s = wk.id)
         |SELECT id AS doc_id, MIN(lbl) AS cluster,
         |  id = MIN(lbl) AS is_canonical
         |FROM wk GROUP BY id""".stripMargin,

    "q81_decontam" ->
      s"""WITH ${TextQueries.docShingles},
         |b AS (SELECT DISTINCT shingle FROM sh WHERE doc_id % 20 = 0),
         |t AS (SELECT doc_id, shingle FROM sh WHERE doc_id % 20 <> 0),
         |tsz AS (SELECT doc_id, COUNT(*) AS n_shingles FROM t GROUP BY doc_id)
         |SELECT t.doc_id, COUNT(*) AS n_shared, tsz.n_shingles,
         |  CAST(COUNT(*) AS DOUBLE) / CAST(tsz.n_shingles AS DOUBLE) AS ratio
         |FROM t JOIN b USING (shingle) JOIN tsz ON t.doc_id = tsz.doc_id
         |GROUP BY t.doc_id, tsz.n_shingles""".stripMargin,

    "q150_decontam_shuffle" ->
      s"""WITH ${TextQueries.docShingles},
         |b AS (SELECT DISTINCT shingle FROM sh WHERE doc_id % 2 = 0),
         |t AS (SELECT doc_id, shingle FROM sh WHERE doc_id % 2 <> 0),
         |tsz AS (SELECT doc_id, COUNT(*) AS n_shingles FROM t GROUP BY doc_id)
         |SELECT t.doc_id, COUNT(*) AS n_shared, tsz.n_shingles,
         |  CAST(COUNT(*) AS DOUBLE) / CAST(tsz.n_shingles AS DOUBLE) AS ratio
         |FROM t JOIN b USING (shingle) JOIN tsz ON t.doc_id = tsz.doc_id
         |GROUP BY t.doc_id, tsz.n_shingles""".stripMargin,

    "q156_corpus_diff" ->
      """WITH prev AS (
        |  SELECT doc_id, TRUE AS pp, text FROM documents WHERE doc_id % 7 <> 0),
        |nxt AS (
        |  SELECT doc_id, TRUE AS pn,
        |    CASE WHEN doc_id % 5 = 0 THEN text || ' v2' ELSE text END AS text
        |  FROM documents WHERE doc_id % 11 <> 0),
        |j AS (
        |  SELECT p.pp, n.pn,
        |    COALESCE(md5(p.text), '') AS dp, COALESCE(md5(n.text), '') AS dn,
        |    CASE WHEN p.pp IS NULL THEN NULL
        |         ELSE CAST(COALESCE(len(p.text), 0) AS BIGINT) END AS np,
        |    CASE WHEN n.pn IS NULL THEN NULL
        |         ELSE CAST(COALESCE(len(n.text), 0) AS BIGINT) END AS nn
        |  FROM prev p FULL OUTER JOIN nxt n ON p.doc_id = n.doc_id)
        |SELECT
        |  CASE WHEN pp IS NULL THEN 'added'
        |       WHEN pn IS NULL THEN 'removed'
        |       WHEN dp <> dn THEN 'changed'
        |       ELSE 'same' END AS status,
        |  COUNT(*) AS n_docs,
        |  CAST(SUM(COALESCE(nn, np)) AS BIGINT) AS chars
        |FROM j GROUP BY 1 ORDER BY 1""".stripMargin,

    "q82_pii_redact" ->
      s"""WITH base AS (SELECT c_custkey, c_nationkey, $piiTextSql AS txt
         |  FROM customer),
         |red AS (SELECT c_nationkey, txt,
         |  regexp_replace(regexp_replace(regexp_replace(txt,
         |    '$emailPattern', '<EMAIL>', 'g'),
         |    '$ipv4Pattern', '<IP>', 'g'),
         |    '$phonePattern', '<PHONE>', 'g') AS red,
         |  len(regexp_extract_all(txt, '$emailPattern')) +
         |  len(regexp_extract_all(regexp_replace(txt, '$emailPattern',
         |    '<EMAIL>', 'g'), '$ipv4Pattern')) +
         |  len(regexp_extract_all(regexp_replace(regexp_replace(txt,
         |    '$emailPattern', '<EMAIL>', 'g'), '$ipv4Pattern', '<IP>', 'g'),
         |    '$phonePattern')) AS npii
         |  FROM base)
         |SELECT CAST(c_nationkey AS BIGINT) AS nation, COUNT(*) AS n_docs,
         |  CAST(SUM(npii) AS BIGINT) AS pii_hits,
         |  CAST(SUM(len(red) - len(txt)) AS BIGINT) AS len_delta
         |FROM red GROUP BY 1 ORDER BY 1""".stripMargin,

    "q83_normalize" ->
      s"""WITH base AS (
         |  SELECT c_mktsegment, $messyTextSql AS raw FROM customer),
         |n AS (SELECT c_mktsegment, raw,
         |  trim(regexp_replace(regexp_replace(lower(raw),
         |    '[^a-z0-9\\s]+', ' ', 'g'), '\\s+', ' ', 'g')) AS norm
         |  FROM base)
         |SELECT c_mktsegment, COUNT(*) AS n,
         |  COUNT(DISTINCT md5(raw)) AS distinct_raw,
         |  COUNT(DISTINCT md5(norm)) AS distinct_norm,
         |  CAST(SUM(len(raw) - len(norm)) AS BIGINT) AS len_delta
         |FROM n GROUP BY 1 ORDER BY 1""".stripMargin,

    "q94_quality_band" ->
      """WITH tok AS (
        |  SELECT doc_id, unnest(string_split_regex(trim(text), '\s+')) AS tok
        |  FROM documents WHERE len(trim(text)) > 0),
        |freq AS (SELECT tok, COUNT(*) AS f FROM tok GROUP BY tok),
        |tot AS (SELECT CAST(SUM(f) AS BIGINT) AS t FROM freq),
        |vocab AS (
        |  SELECT tok,
        |    CAST(floor(ln(CAST(f AS DOUBLE) / CAST(t AS DOUBLE)) * 1e6 + 0.5)
        |      AS BIGINT) AS lpu
        |  FROM freq CROSS JOIN tot),
        |d AS (
        |  SELECT doc_id,
        |    CAST(SUM(lpu) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE) / 1e6 AS avg_lp
        |  FROM tok JOIN vocab USING (tok)
        |  GROUP BY doc_id)
        |SELECT lang, COUNT(*) AS n_docs, MIN(doc_id) AS first_doc
        |FROM documents JOIN d USING (doc_id)
        |WHERE avg_lp >= -3.41 AND avg_lp <= -3.39
        |GROUP BY lang ORDER BY lang""".stripMargin,

    "q93_heavy_hitters" ->
      s"""WITH ${Q.eventsUs},
         |c AS (SELECT user_id FROM ev WHERE event_type = 'click')
         |SELECT CAST(user_id AS BIGINT) AS user_id, COUNT(*) AS n_clicks,
         |  TRUE AS cms_ok
         |FROM c GROUP BY user_id
         |ORDER BY n_clicks DESC, user_id LIMIT 10""".stripMargin,

    "q92_curation_pipeline" ->
      s"""WITH n1 AS (
         |  SELECT *, md5(trim(regexp_replace(regexp_replace(lower(text),
         |    '[^a-z0-9\\s]+', ' ', 'g'), '\\s+', ' ', 'g'))) AS nd
         |  FROM documents),
         |k1 AS (SELECT nd, MIN(doc_id) AS doc_id FROM n1 GROUP BY nd),
         |d1 AS (SELECT n1.* FROM n1 JOIN k1 USING (nd, doc_id)),
         |w1 AS (
         |  SELECT doc_id, lang, string_split_regex(trim(text), '\\s+') AS words
         |  FROM d1 WHERE doc_id % 20 <> 0),
         |t3 AS (
         |  SELECT doc_id, unnest(list_distinct(list_transform(
         |    range(1, greatest(len(words) - 1, 1)),
         |    i -> array_to_string(words[i:i+2], ' ')))) AS s3
         |  FROM w1),
         |bw AS (
         |  SELECT string_split_regex(trim(text), '\\s+') AS words
         |  FROM documents WHERE doc_id % 20 = 0),
         |b3 AS (
         |  SELECT DISTINCT unnest(list_distinct(list_transform(
         |    range(1, greatest(len(words) - 1, 1)),
         |    i -> array_to_string(words[i:i+2], ' ')))) AS s3
         |  FROM bw),
         |bad AS (SELECT DISTINCT doc_id FROM t3 JOIN b3 USING (s3)),
         |d2 AS (SELECT * FROM w1
         |       WHERE doc_id NOT IN (SELECT doc_id FROM bad)),
         |${dupSpanCtes("d2")},
         |heavy AS (
        |  SELECT a.doc_id FROM agg a JOIN d2 USING (doc_id)
        |  WHERE round(CAST(covered AS DOUBLE) / CAST(len(words) AS DOUBLE), 6)
        |    > 0.5),
        |d3 AS (SELECT * FROM d2
        |       WHERE doc_id NOT IN (SELECT doc_id FROM heavy))
        |SELECT lang, COUNT(*) AS n_docs,
        |  CAST(SUM(len(words)) AS BIGINT) AS sum_tokens
        |FROM d3 GROUP BY lang ORDER BY lang""".stripMargin,

    "q91_epoch_replication" ->
      """WITH s AS (
        |  SELECT lang, doc_id,
        |    CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8) AS BIGINT)
        |      % 10000 AS b
        |  FROM documents),
        |c AS (
        |  SELECT lang, doc_id,
        |    CASE lang
        |      WHEN 'en' THEN 1 + CASE WHEN b < 5000 THEN 1 ELSE 0 END
        |      WHEN 'zh' THEN 2
        |      WHEN 'de' THEN CASE WHEN b < 2500 THEN 1 ELSE 0 END
        |      WHEN 'fr' THEN 1
        |      ELSE 0 END AS copies
        |  FROM s),
        |r AS (
        |  SELECT lang, doc_id, unnest(range(1, copies + 1)) AS epoch
        |  FROM c WHERE copies >= 1)
        |SELECT lang, COUNT(*) AS n_rows, COUNT(DISTINCT doc_id) AS n_docs,
        |  CAST(MAX(epoch) AS BIGINT) AS max_epoch
        |FROM r GROUP BY lang ORDER BY lang""".stripMargin,

    "q90_cluster_dedup" ->
      s"""WITH RECURSIVE ${TextQueries.docShingles},
         |keep AS (
         |  SELECT shingle FROM sh GROUP BY shingle
         |  HAVING COUNT(DISTINCT doc_id) <= 50),
         |shp AS (SELECT sh.* FROM sh JOIN keep USING (shingle)),
         |szp AS (SELECT doc_id, COUNT(*) AS sz FROM shp GROUP BY doc_id),
         |pr AS (
         |  SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS inter
         |  FROM shp a JOIN shp b
         |    ON a.shingle = b.shingle AND a.doc_id < b.doc_id AND a.lang = b.lang
         |  GROUP BY 1, 2),
         |pairs AS (
         |  SELECT id_a, id_b
         |  FROM pr JOIN szp sa ON id_a = sa.doc_id JOIN szp sb ON id_b = sb.doc_id
         |  WHERE CAST(inter AS DOUBLE) / CAST(sa.sz + sb.sz - inter AS DOUBLE) >= 0.3),
         |e AS (SELECT id_a AS s, id_b AS d FROM pairs
         |      UNION ALL SELECT id_b, id_a FROM pairs),
         |wk AS (
         |  SELECT s AS id, s AS lbl FROM e
         |  UNION
         |  SELECT e.d, wk.lbl FROM wk JOIN e ON e.s = wk.id),
         |ccm AS (SELECT id, MIN(lbl) AS cluster FROM wk GROUP BY id),
         |cs AS (SELECT cluster, COUNT(*) AS dc FROM ccm GROUP BY cluster)
         |SELECT d.lang, COUNT(*) AS n_survivors,
         |  CAST(SUM(COALESCE(cs.dc, 1)) AS BIGINT) AS docs_represented
         |FROM documents d
         |LEFT JOIN cs ON cs.cluster = d.doc_id
         |WHERE d.doc_id NOT IN (SELECT id FROM ccm WHERE id <> cluster)
         |GROUP BY d.lang ORDER BY d.lang""".stripMargin,

    "q89_dup_spans" ->
      s"""WITH w AS (
         |  SELECT doc_id, string_split_regex(trim(text), '\\s+') AS words
         |  FROM documents),
         |${dupSpanCtes("w")},
         |lens AS (SELECT doc_id, CAST(len(words) AS BIGINT) AS n_tokens FROM w)
         |SELECT doc_id, n_tokens, CAST(covered AS BIGINT) AS covered,
         |  round(CAST(covered AS DOUBLE) / CAST(n_tokens AS DOUBLE), 6)
         |    AS covered_frac
         |FROM agg JOIN lens USING (doc_id)""".stripMargin,

    "q88_data_card" ->
      """WITH d AS (
        |  SELECT source, lang, text,
        |    len(string_split_regex(trim(text), '\s+')) AS nt
        |  FROM documents)
        |SELECT source, COUNT(*) AS n_docs,
        |  COUNT(DISTINCT lang) AS n_langs,
        |  CAST(SUM(nt) AS BIGINT) AS sum_tokens,
        |  round(quantile_cont(nt, 0.5), 4) AS median_tokens,
        |  round(1.0 - CAST(COUNT(DISTINCT md5(text)) AS DOUBLE)
        |    / CAST(COUNT(*) AS DOUBLE), 6) AS dup_rate
        |FROM d GROUP BY source ORDER BY source""".stripMargin,

    // mirrors Quality.tfidfTopTerms: micro-unit idf per distinct term,
    // BIGINT tf·idf_u score, (score desc, term asc) per-doc top-3
    "q96_tfidf_terms" ->
      """WITH tok AS (
        |  SELECT doc_id, unnest(string_split_regex(trim(text), '\s+')) AS tok
        |  FROM documents WHERE len(trim(text)) > 0),
        |tf AS (SELECT doc_id, tok, COUNT(*) AS tf FROM tok GROUP BY 1, 2),
        |dfv AS (SELECT tok, COUNT(*) AS dfc FROM tf GROUP BY tok),
        |nd AS (SELECT COUNT(DISTINCT doc_id) AS n FROM tf),
        |idf AS (
        |  SELECT tok,
        |    CAST(floor(ln((CAST(n AS DOUBLE) + 1) / (CAST(dfc AS DOUBLE) + 1))
        |      * 1e6 + 0.5) AS BIGINT) + 1000000 AS idfu
        |  FROM dfv CROSS JOIN nd)
        |SELECT doc_id, term, tf, score_u FROM (
        |  SELECT tf.doc_id, tf.tok AS term, CAST(tf.tf AS BIGINT) AS tf,
        |    CAST(tf.tf * idf.idfu AS BIGINT) AS score_u,
        |    row_number() OVER (PARTITION BY tf.doc_id
        |      ORDER BY tf.tf * idf.idfu DESC, tf.tok) AS rk
        |  FROM tf JOIN idf USING (tok))
        |WHERE rk <= 3""".stripMargin,

    // mirrors Quality.selectByTokenBudget: the q87 scoring CTEs, then a
    // single ORDER BY (band DESC, doc_id) running sum — equal by
    // construction to the two-level band-offset form the Spark side runs
    "q99_token_budget" ->
      """WITH tok AS (
        |  SELECT doc_id, unnest(string_split_regex(trim(text), '\s+')) AS tok
        |  FROM documents WHERE len(trim(text)) > 0),
        |freq AS (SELECT tok, COUNT(*) AS f FROM tok GROUP BY tok),
        |tot AS (SELECT CAST(SUM(f) AS BIGINT) AS t FROM freq),
        |vocab AS (
        |  SELECT tok,
        |    CAST(floor(ln(CAST(f AS DOUBLE) / CAST(t AS DOUBLE)) * 1e6 + 0.5)
        |      AS BIGINT) AS lpu
        |  FROM freq CROSS JOIN tot),
        |sc AS (
        |  SELECT doc_id, COUNT(*) AS n_tokens, CAST(SUM(lpu) AS BIGINT) AS lp_micro
        |  FROM tok JOIN vocab USING (tok) GROUP BY doc_id),
        |bd AS (
        |  SELECT doc_id, n_tokens,
        |    CAST(floor(CAST(lp_micro AS DOUBLE) / CAST(n_tokens AS DOUBLE)
        |      / 1e6 * 1000) AS BIGINT) AS band
        |  FROM sc),
        |sel AS (
        |  SELECT doc_id, band, n_tokens,
        |    SUM(n_tokens) OVER (ORDER BY band DESC, doc_id) AS cum
        |  FROM bd)
        |SELECT doc_id, band, CAST(n_tokens AS BIGINT) AS n_tokens
        |FROM sel WHERE cum <= 12000""".stripMargin,

    // mirrors Overlap.overlapExact: distinct 3-gram sets per source,
    // pairwise intersections, jaccard on exact counts. Reuses the shared
    // docShingles CTEs (shl carries `source`) so the 3-gram construction
    // stays bit-identical to MinhashImpl.shingles in ONE place.
    "q97_source_overlap" ->
      s"""WITH ${TextQueries.docShingles},
         |gs AS (SELECT DISTINCT source, unnest(shingles) AS shingle FROM shl),
         |gsz AS (SELECT source, COUNT(*) AS sz FROM gs GROUP BY source),
         |pr AS (
         |  SELECT a.source AS src_a, b.source AS src_b, COUNT(*) AS inter
         |  FROM gs a JOIN gs b
         |    ON a.shingle = b.shingle AND a.source < b.source
         |  GROUP BY 1, 2)
         |SELECT src_a, src_b, inter,
         |  CAST(sa.sz + sb.sz - inter AS BIGINT) AS union_sz,
         |  ROUND(CAST(inter AS DOUBLE)
         |    / CAST(sa.sz + sb.sz - inter AS DOUBLE), 6) AS jaccard_r
         |FROM pr
         |JOIN gsz sa ON src_a = sa.source
         |JOIN gsz sb ON src_b = sb.source""".stripMargin,

    "q87_unigram_logprob" ->
      """WITH tok AS (
        |  SELECT doc_id, unnest(string_split_regex(trim(text), '\s+')) AS tok
        |  FROM documents WHERE len(trim(text)) > 0),
        |freq AS (SELECT tok, COUNT(*) AS f FROM tok GROUP BY tok),
        |tot AS (SELECT CAST(SUM(f) AS BIGINT) AS t FROM freq),
        |vocab AS (
        |  SELECT tok,
        |    CAST(floor(ln(CAST(f AS DOUBLE) / CAST(t AS DOUBLE)) * 1e6 + 0.5)
        |      AS BIGINT) AS lpu
        |  FROM freq CROSS JOIN tot)
        |SELECT doc_id, COUNT(*) AS n_tokens,
        |  CAST(SUM(lpu) AS BIGINT) AS lp_micro,
        |  CAST(SUM(lpu) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE) / 1e6 AS avg_lp
        |FROM tok JOIN vocab USING (tok)
        |GROUP BY doc_id""".stripMargin,

    "q86_incremental_dedup" ->
      s"""WITH ${TextQueries.docShingles},
         |szs AS (SELECT doc_id, COUNT(*) AS szx FROM sh GROUP BY doc_id),
         |inter AS (
         |  SELECT i.doc_id AS ia, c.doc_id AS ib, COUNT(*) AS x
         |  FROM sh i JOIN sh c ON i.shingle = c.shingle
         |  WHERE i.doc_id % 2 = 1 AND c.doc_id % 2 = 0
         |  GROUP BY 1, 2),
         |near AS (
         |  SELECT DISTINCT ia AS doc_id
         |  FROM inter JOIN szs a ON ia = a.doc_id JOIN szs b ON ib = b.doc_id
         |  WHERE CAST(x AS DOUBLE) / CAST(a.szx + b.szx - x AS DOUBLE) >= 0.6),
         |ex AS (
         |  SELECT DISTINCT d1.doc_id
         |  FROM documents d1 JOIN documents d2 ON md5(d1.text) = md5(d2.text)
         |  WHERE d1.doc_id % 2 = 1 AND d2.doc_id % 2 = 0)
         |SELECT doc_id,
         |  CASE WHEN doc_id IN (SELECT doc_id FROM ex)
         |       THEN 'exact' ELSE 'near' END AS reason
         |FROM (SELECT doc_id FROM ex UNION SELECT doc_id FROM near)""".stripMargin,

    "q85_semantic_dedup" ->
      """WITH RECURSIVE prs AS (
        |  SELECT a.vec_id AS id_a, b.vec_id AS id_b,
        |    a.embedding AS va, b.embedding AS vb
        |  FROM embeddings a JOIN embeddings b
        |    ON a.label = b.label AND a.vec_id < b.vec_id),
        |z AS (
        |  SELECT id_a, id_b, unnest(va) AS x, unnest(vb) AS y FROM prs),
        |sim AS (
        |  SELECT id_a, id_b,
        |    SUM(CAST(x AS DOUBLE) * CAST(y AS DOUBLE)) AS dt,
        |    SUM(CAST(x AS DOUBLE) * CAST(x AS DOUBLE)) AS aa,
        |    SUM(CAST(y AS DOUBLE) * CAST(y AS DOUBLE)) AS bb
        |  FROM z GROUP BY 1, 2),
        |pairs AS (
        |  SELECT id_a, id_b FROM sim
        |  WHERE ROUND(dt / (SQRT(aa) * SQRT(bb)), 4) >= 0.2),
        |e AS (SELECT id_a AS s, id_b AS d FROM pairs
        |      UNION ALL SELECT id_b, id_a FROM pairs),
        |wk AS (
        |  SELECT s AS id, s AS lbl FROM e
        |  UNION
        |  SELECT e.d, wk.lbl FROM wk JOIN e ON e.s = wk.id)
        |SELECT id AS vec_id, MIN(lbl) AS cluster,
        |  id = MIN(lbl) AS is_canonical
        |FROM wk GROUP BY id""".stripMargin,

    "q84_bm25" ->
      s"""WITH w AS (
         |  SELECT doc_id, string_split_regex(trim(text), '\\s+') AS w,
         |    len(string_split_regex(trim(text), '\\s+')) AS len
         |  FROM documents),
         |tf AS (SELECT doc_id, len,
         |  ${bmTerms.map(t =>
             s"len(list_filter(w, x -> x = '$t')) AS tf_$t").mkString(",\n         |  ")}
         |  FROM w),
         |stats AS (SELECT CAST(COUNT(*) AS DOUBLE) AS n,
         |  CAST(SUM(CAST(len AS BIGINT)) AS DOUBLE) AS sumlen,
         |  ${bmTerms.map(t =>
             s"CAST(SUM(CASE WHEN tf_$t > 0 THEN 1 ELSE 0 END) AS DOUBLE) AS df_$t")
             .mkString(",\n         |  ")}
         |  FROM tf)
         |SELECT doc_id, tf_spark, tf_table, tf_window,
         |  CAST(CAST(
         |  ${bmTerms.map(t =>
             s"""(ln((n - df_$t + 0.5) / (df_$t + 0.5) + 1.0) *
         |    (CAST(tf_$t AS DOUBLE) * ${bmK1 + 1.0}) /
         |    (CAST(tf_$t AS DOUBLE) + $bmK1 * (1.0 - $bmB + $bmB *
         |      (CAST(len AS DOUBLE) / (sumlen / n)))))""").mkString(" +\n         |  ")}
         |  AS DECIMAL(18,9)) AS DOUBLE) AS score
         |FROM tf CROSS JOIN stats
         |ORDER BY score DESC, doc_id LIMIT 20""".stripMargin,

    "q125_distinct_sketch" ->
      """WITH w AS (
        |  SELECT source, unnest(string_split_regex(trim(text), '\s+')) AS w
        |  FROM documents)
        |SELECT source, COUNT(*) AS n_rows,
        |  COUNT(DISTINCT w) AS distinct_est
        |FROM w GROUP BY source ORDER BY source""".stripMargin,

    "q126_hist_quantiles" ->
      """WITH b AS (
        |  SELECT source,
        |    LEAST(15, GREATEST(0, CAST(floor(
        |      (CAST(n_chars AS DOUBLE) - 0.0) / 64.0) AS INTEGER))) AS bucket
        |  FROM documents),
        |c AS (SELECT source, bucket, COUNT(*) AS cnt FROM b GROUP BY 1, 2),
        |tot AS (SELECT source, SUM(cnt) AS n FROM c GROUP BY 1),
        |qq AS (SELECT CAST(unnest([0.5, 0.9]) AS DOUBLE) AS q),
        |e AS (
        |  SELECT c.source, q, tot.n, bucket, cnt,
        |    SUM(cnt) OVER (PARTITION BY c.source, q ORDER BY bucket) AS cum,
        |    CEIL(q * CAST(tot.n AS DOUBLE)) AS t
        |  FROM c JOIN tot USING (source) CROSS JOIN qq)
        |SELECT source, q, CAST(n AS BIGINT) AS n,
        |  0.0 + 64.0 * (bucket +
        |    CAST(t - (cum - cnt) AS DOUBLE) / CAST(cnt AS DOUBLE)) AS est
        |FROM e WHERE cum >= t AND (cum - cnt) < t
        |ORDER BY source, q""".stripMargin,

    // The discovery replay: min/max → the SMALLEST power-of-two width
    // whose 16 width-aligned buckets cover [mn, mx] (floorMod alignment
    // matches java.lang.Math.floorMod; power(2,g) casts exactly to
    // BIGINT through 2^53), then q126's bucket/cumsum/interpolation law
    // verbatim on the discovered (lo, width).
    "q183_auto_quantiles" ->
      """WITH mm AS (
        |  SELECT MIN(CAST(n_chars AS BIGINT)) AS mn,
        |         MAX(CAST(n_chars AS BIGINT)) AS mx
        |  FROM documents),
        |grid AS (
        |  SELECT w, mn - ((mn % w + w) % w) AS lo
        |  FROM mm, (SELECT CAST(power(2, g) AS BIGINT) AS w
        |            FROM generate_series(0, 53) t(g))
        |  WHERE mx - (mn - ((mn % w + w) % w)) < w * 16
        |  ORDER BY w LIMIT 1),
        |b AS (
        |  SELECT source,
        |    LEAST(15, GREATEST(0, CAST(floor(
        |      (CAST(n_chars AS DOUBLE) - CAST(lo AS DOUBLE))
        |        / CAST(w AS DOUBLE)) AS INTEGER))) AS bucket
        |  FROM documents, grid),
        |c AS (SELECT source, bucket, COUNT(*) AS cnt FROM b GROUP BY 1, 2),
        |tot AS (SELECT source, SUM(cnt) AS n FROM c GROUP BY 1),
        |qq AS (SELECT CAST(unnest([0.25, 0.5, 0.9]) AS DOUBLE) AS q),
        |e AS (
        |  SELECT c.source, q, tot.n, bucket, cnt,
        |    SUM(cnt) OVER (PARTITION BY c.source, q ORDER BY bucket) AS cum,
        |    CEIL(q * CAST(tot.n AS DOUBLE)) AS t
        |  FROM c JOIN tot USING (source) CROSS JOIN qq)
        |SELECT source, q, CAST(n AS BIGINT) AS n,
        |  CAST(lo AS DOUBLE) + CAST(w AS DOUBLE) * (bucket +
        |    CAST(t - (cum - cnt) AS DOUBLE) / CAST(cnt AS DOUBLE)) AS est,
        |  CAST(lo AS BIGINT) AS grid_lo, CAST(w AS BIGINT) AS grid_width
        |FROM e, grid WHERE cum >= t AND (cum - cnt) < t
        |ORDER BY source, q""".stripMargin
  )
}
