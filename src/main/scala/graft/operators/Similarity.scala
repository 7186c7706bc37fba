package graft.operators

import graft.functions.VectorFunctions._
import graft.plans.GraftFunctions
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Approximate-nearest-neighbor search over an embedding column.
  *
  * Scale design: brute force is the exactness baseline — O(|Q|·|C|) with
  * the small query side broadcast, so the corpus never shuffles and the
  * scan parallelizes over corpus partitions. The LSH variant buckets by
  * signed-random-projection signature so each query only scans its bucket
  * (multi-probe widens recall); bucket keys are hashes -> uniform
  * partitioning. An IVF variant would k-means the corpus and probe nearest
  * centroids — same join shape as LSH with learned buckets.
  */
object Similarity {

  /** Exact top-k cosine neighbors for each query vector.
    * `queries`/`corpus`: (idCol, vecCol Array[Float|Double]).
    * Query side is broadcast — corpus-side scan stays fully parallel.
    * `keepRank = true` keeps the `rk` column (1-based, ties by vid) —
    * rank-list consumers ([[Retrieval.rrfFuse]] arms) would otherwise
    * rebuild the identical window and pay an extra exchange+sort.
    */
  def bruteForceTopK(queries: DataFrame, corpus: DataFrame,
      idCol: String, vecCol: String, k: Int, roundScale: Int = 4,
      keepRank: Boolean = false): DataFrame = {
    GraftFunctions.register(queries.sparkSession)
    // norms precomputed per row (not per pair): the pair loop then costs
    // one dot product instead of three
    val q = queries.select(col(idCol).as("qid"), toDoubleVec(col(vecCol)).as("qv"))
      .withColumn("qn", GraftFunctions.norm(col("qv")))
    val c = corpus.select(col(idCol).as("vid"), toDoubleVec(col(vecCol)).as("cv"))
      .withColumn("cn", GraftFunctions.norm(col("cv")))
    // NOTE on round(<double quotient>, s) here and in the sibling
    // cosine/L2 scorers: a quotient that lands within half an ulp of an
    // s-decimal tie is decided by each engine's tie rule (Spark rounds
    // the shortest decimal representation HALF_UP, DuckDB rounds the
    // binary double) — the q95 hazard class. Unlike q95's micro-sum
    // scale, it CANNOT be eliminated exactly (sqrt norms make the
    // denominator irrational), so the gates rely on fixture
    // tie-freedom, verified empirically by the cross-sf and
    // cross-partitioning oracle sweeps (BASELINE.md round-16 sweep).
    // If a future fixture ever hits one, the signature is a one-ulp
    // 4th-decimal mismatch or a rank flip on the rounded score.
    val scored = c.crossJoin(broadcast(q))
      .filter(col("vid") =!= col("qid"))
      .withColumn("cos_r",
        round(GraftFunctions.dot(col("qv"), col("cv")) / (col("qn") * col("cn")), roundScale))
    val ranked = scored
      .withColumn("rk", row_number().over(
        Window.partitionBy(col("qid")).orderBy(col("cos_r").desc, col("vid"))))
      .filter(col("rk") <= k)
    if (keepRank) ranked.select("qid", "vid", "cos_r", "rk")
    else ranked.select("qid", "vid", "cos_r")
  }

  /** LSH-bucketed approximate top-k: random-hyperplane signatures with
    * `prefixBits` bucket bits; queries only join their own bucket.
    * Recall < 1.0 by construction; raise `planes`/probe count for recall,
    * lower `prefixBits` for bigger buckets.
    *
    * `planes <= 0` (the default) derives the plane count from the corpus
    * size via [[planesFor]] — fixed planes at a growing corpus is the
    * superlinear-cost trap SCALE.md measures (per-bucket pair work grows
    * ~n²/2^planes), so the default must track log2(n). Auto costs one
    * `corpus.count()` (parquet metadata at rest — no data scan).
    */
  def lshTopK(queries: DataFrame, corpus: DataFrame,
      idCol: String, vecCol: String, k: Int, planes: Int = 0,
      roundScale: Int = 4): DataFrame = {
    val planes0 = if (planes > 0) planes else planesFor(corpus.count())
    lshTopKExplicit(queries, corpus, idCol, vecCol, k, planes0, roundScale)
  }

  private def lshTopKExplicit(queries: DataFrame, corpus: DataFrame,
      idCol: String, vecCol: String, k: Int, planes: Int,
      roundScale: Int): DataFrame = {
    GraftFunctions.register(queries.sparkSession)
    // signature/norm computed once per row; the pair loop costs one
    // codegen dot product (the HOF cosine re-interprets the expression
    // tree per element — the MinhashImpl lesson, vector edition)
    def withBucket(df: DataFrame, id: String, as: String, n: String) =
      df.select(col(idCol).as(id), toDoubleVec(col(vecCol)).as(as),
        signatureBucket(hyperplaneSignature(toDoubleVec(col(vecCol)), planes)).as(s"${as}_bkt"))
        .withColumn(n, GraftFunctions.norm(col(as)))
    val q = withBucket(queries, "qid", "qv", "qn")
    val c = withBucket(corpus, "vid", "cv", "cn")
    val scored = c.join(broadcast(q), col("qv_bkt") === col("cv_bkt") &&
        col("vid") =!= col("qid"))
      .withColumn("cos_r",
        round(GraftFunctions.dot(col("qv"), col("cv")) / (col("qn") * col("cn")), roundScale))
    scored
      .withColumn("rk", row_number().over(
        Window.partitionBy(col("qid")).orderBy(col("cos_r").desc, col("vid"))))
      .filter(col("rk") <= k)
      .select("qid", "vid", "cos_r")
  }

  /** Multi-probe variant of [[lshTopK]]: each query probes its own bucket
    * PLUS the `planes` buckets at hamming distance 1 from its signature —
    * the standard multi-probe LSH recall fix (a vector near one hyperplane
    * is the dominant source of missed neighbors; flipping that bit reaches
    * the bucket across the plane). The corpus index is untouched (one
    * bucket per vector); only the small, broadcast query side fans out
    * (planes+1)x, so the scan cost stays ~bucket-sized per probe. Each
    * corpus vector has exactly one bucket, so a (query, candidate) pair
    * matches at most one probe — no dedup pass needed.
    */
  def lshTopKMultiProbe(queries: DataFrame, corpus: DataFrame,
      idCol: String, vecCol: String, k: Int, planes: Int = 0,
      roundScale: Int = 4): DataFrame = {
    GraftFunctions.register(queries.sparkSession)
    // planes <= 0: derive from corpus size (see lshTopK), capped at the
    // int bucket-packing limit
    val planes0 = if (planes > 0) planes
      else math.min(30, planesFor(corpus.count()))
    lshTopKMultiProbeExplicit(queries, corpus, idCol, vecCol, k, planes0,
      roundScale)
  }

  private def lshTopKMultiProbeExplicit(queries: DataFrame, corpus: DataFrame,
      idCol: String, vecCol: String, k: Int, planes: Int,
      roundScale: Int): DataFrame = {
    require(planes <= 30, s"int bucket packing supports <= 30 planes, got $planes")
    def packed(sigArr: Column): Column =
      (0 until planes).map(p => element_at(sigArr, p + 1) * lit(1 << p))
        .reduce(_ + _)
    def withBucket(df: DataFrame, id: String, v: String, n: String,
        bkt: String): DataFrame =
      df.select(col(idCol).as(id), toDoubleVec(col(vecCol)).as(v))
        .withColumn(n, GraftFunctions.norm(col(v)))
        .withColumn(bkt,
          packed(hyperplaneSignature(col(v), planes)))
    val c = withBucket(corpus, "vid", "cv", "cn", "cb")
    val q = withBucket(queries, "qid", "qv", "qn", "qb")
      .withColumn("probe", explode(array(
        col("qb") +: (0 until planes).map(p =>
          col("qb").bitwiseXOR(lit(1 << p))): _*)))
    val scored = c.join(broadcast(q), col("probe") === col("cb") &&
        col("vid") =!= col("qid"))
      .withColumn("cos_r",
        round(GraftFunctions.dot(col("qv"), col("cv")) / (col("qn") * col("cn")), roundScale))
    scored
      .withColumn("rk", row_number().over(
        Window.partitionBy(col("qid")).orderBy(col("cos_r").desc, col("vid"))))
      .filter(col("rk") <= k)
      .select("qid", "vid", "cos_r")
  }

  /** Rademacher hyperplane signs derived from md5("p:d") — engine-neutral
    * (any SQL engine with md5 regenerates the same matrix), no stored
    * model.
    */
  private[graft] def md5PlaneSigns(planes: Int, dim: Int): Array[Array[Int]] =
    Array.tabulate(planes, dim) { (p, d) =>
      val nib = Character.digit(
        graft.functions.MinhashImpl.md5hex(s"$p:$d").charAt(0), 16)
      if (nib % 2 == 0) 1 else -1
    }

  /** Oracle-reproducible twin of [[lshTopK]]: hyperplane signs come from
    * md5("plane:dim") parity and the projection is computed in INTEGER
    * micro-units (floor(x*1e6 + 0.5)), so the bucket of every vector is
    * bit-identical in any engine — no float-summation-order hazard on the
    * sign decision. Same join shape and scale story as the xxhash64
    * production path; the typed bucket pass costs one corpus scan.
    */
  def lshTopKMd5(queries: DataFrame, corpus: DataFrame,
      idCol: String, vecCol: String, k: Int, planes: Int = 6, dim: Int = 64,
      roundScale: Int = 4): DataFrame = {
    val spark = queries.sparkSession
    import spark.implicits._
    GraftFunctions.register(spark)
    val w = md5PlaneSigns(planes, dim)
    def bucketOf(vec: Array[Float]): Long = {
      var bucket = 0L
      var p = 0
      while (p < planes) {
        var s = 0L
        var d = 0
        val len = math.min(dim, vec.length)
        while (d < len) {
          s += w(p)(d) * math.floor(vec(d).toDouble * 1e6 + 0.5).toLong
          d += 1
        }
        if (s >= 0L) bucket |= (1L << p)
        p += 1
      }
      bucket
    }
    def withBucket(df: DataFrame, id: String, v: String, n: String,
        bkt: String): DataFrame =
      df.select(col(idCol).cast("long"), col(vecCol)).as[(Long, Array[Float])]
        .map { case (vid, vec) => (vid, vec, bucketOf(vec)) }
        .toDF(id, "rawv", bkt)
        .withColumn(v, toDoubleVec(col("rawv"))).drop("rawv")
        .withColumn(n, GraftFunctions.norm(col(v)))
    val q = withBucket(queries, "qid", "qv", "qn", "qb")
    val c = withBucket(corpus, "vid", "cv", "cn", "cb")
    val scored = c.join(broadcast(q), col("qb") === col("cb") &&
        col("vid") =!= col("qid"))
      .withColumn("cos_r",
        round(GraftFunctions.dot(col("qv"), col("cv")) / (col("qn") * col("cn")), roundScale))
    scored
      .withColumn("rk", row_number().over(
        Window.partitionBy(col("qid")).orderBy(col("cos_r").desc, col("vid"))))
      .filter(col("rk") <= k)
      .select("qid", "vid", "cos_r")
  }

  /** Rademacher sign matrix for [[randomProject]], keyed md5("rp:j:d") —
    * salted apart from the LSH plane family so the two matrices are
    * independent draws.
    */
  private[graft] def md5ProjSigns(outDim: Int, dim: Int): Array[Array[Int]] =
    Array.tabulate(outDim, dim) { (p, d) =>
      val nib = Character.digit(
        graft.functions.MinhashImpl.md5hex(s"rp:$p:$d").charAt(0), 16)
      if (nib % 2 == 0) 1 else -1
    }

  /** Rademacher random projection (the database-friendly form of the
    * Johnson-Lindenstrauss transform): y_j = Σ_d w(j,d)·x_d with
    * w(j,d) ∈ {±1} derived from md5("rp:j:d") parity — engine-neutral,
    * no stored model; ±1 entries carry the same JL distance-preservation
    * guarantee as Gaussian ones (Achlioptas, PODS 2001). The sum runs in
    * exact BIGINT micro-units (floor(x·1e6 + 0.5)), so every component is
    * bit-identical in any engine before the final rounded-double scale.
    *
    * Scale: ONE map-only corpus pass — no shuffle, no join, no global
    * state (the sign matrix is outDim×dim ints living in the task
    * closure). At 100 TB this is the embedding-compression stage run
    * before ANN indexing: output is outDim/dim the size of the input and
    * the partitioning is untouched, so downstream bucketing (LSH / IVF
    * over the compressed vectors) reuses the same layout. Emits
    * long-format (id, j, proj_r); pack to arrays with a per-id groupBy
    * only if a column-of-array layout is required downstream.
    */
  def randomProject(df: DataFrame, idCol: String, vecCol: String,
      outDim: Int, dim: Int, roundScale: Int = 4): DataFrame = {
    // the final scale rounds IN INTEGER SPACE (half away from zero on
    // the exact micro sum), then divides once: round()-ing the double
    // micro/1e6 instead lets the ENGINE's tie rule decide a 50-micro
    // tie — Spark rounds the shortest decimal representation HALF_UP
    // while DuckDB rounds the binary double, and the first such tie in
    // the fixtures (sf0.1) diverged by one ulp of the last place. The
    // quantized numerator is exact in both engines; the single division
    // is IEEE-identical everywhere. floor on doubles is exact here
    // (micro sums are far below 2^52).
    require(roundScale >= 0 && roundScale <= 6,
      s"roundScale must be in [0, 6]: $roundScale")
    val quantum = math.pow(10, 6 - roundScale) // exact power of ten
    val qmicro = {
      val m = col("micro").cast("double")
      when(m < 0, -floor((-m + quantum / 2) / quantum))
        .otherwise(floor((m + quantum / 2) / quantum))
    }
    projectMicro(df, idCol, vecCol, outDim, dim, idCol, "pv")
      .select(col(idCol), posexplode(col("pv")).as(Seq("j", "micro")))
      .select(col(idCol), col("j").cast("long").as("j"),
        (qmicro.cast("double") / math.pow(10, roundScale)).as("proj_r"))
  }

  /** Packed projected vector in exact micro-units: (as, out Array[Long]
    * of length outDim) — one typed map pass, zero shuffle (posexplode /
    * the caller's join happens downstream of this map).
    */
  private[graft] def projectMicro(df: DataFrame, idCol: String,
      vecCol: String, outDim: Int, dim: Int, as: String,
      out: String): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    val w = md5ProjSigns(outDim, dim)
    df.select(col(idCol).cast("long"), col(vecCol)).as[(Long, Array[Float])]
      .map { case (id, vec) =>
        val len = math.min(dim, vec.length)
        val pv = new Array[Long](outDim)
        var p = 0
        while (p < outDim) {
          var s = 0L
          var d = 0
          while (d < len) {
            s += w(p)(d) * math.floor(vec(d).toDouble * 1e6 + 0.5).toLong
            d += 1
          }
          pv(p) = s
          p += 1
        }
        (id, pv)
      }
      .toDF(as, out)
  }

  /** Compress-then-search ANN: shortlist by L2 in the RP-compressed
    * space (L2 is the metric JL preserves), then exact micro-L2 rerank
    * of the shortlist — the random-projection twin of [[pqRerankTopK]].
    *
    * Scale: both sides compress in a map-only pass, so the broadcast
    * query side and the scanned corpus side carry outDim/dim of the
    * original bytes through the scoring scan (8/64 = 12.5% here); the
    * full-width vectors are touched again only for |Q|·shortlist rows.
    * Everything is exact BIGINT (projection micro-units, squared
    * distances), ties on vid — bit-identical shortlists and ranks in
    * any engine.
    *
    * Sizing: recall depends on outDim and the shortlist width. On
    * near-uniform random vectors (the JL worst case — all pair
    * distances concentrate) outDim=8 of 64 keeps only ~1/3 of exact-L2
    * neighbors at shortlist=50; outDim=16 with shortlist≈2·outDim·k
    * recovers most (OperatorsSpec measures this). Clustered real-world
    * embeddings sit well above the uniform floor at the same settings.
    */
  def rpRerankTopK(queries: DataFrame, corpus: DataFrame, idCol: String,
      vecCol: String, k: Int, shortlist: Int = 50, outDim: Int = 8,
      dim: Int = 64): DataFrame = {
    require(shortlist >= k, s"shortlist $shortlist < k $k")
    val qp = projectMicro(queries, idCol, vecCol, outDim, dim, "qid", "qpv")
    val cp = projectMicro(corpus, idCol, vecCol, outDim, dim, "vid", "cpv")
    // static outDim -> an unrolled codegen'd sum, not an interpreted HOF
    val distP = (0 until outDim).map { j =>
      val dif = element_at(col("qpv"), j + 1) - element_at(col("cpv"), j + 1)
      dif * dif
    }.reduce(_ + _)
    val cand = cp.crossJoin(broadcast(qp))
      .filter(col("vid") =!= col("qid"))
      .withColumn("dist_p", distP)
      .withColumn("rk", row_number().over(
        Window.partitionBy(col("qid")).orderBy(col("dist_p").asc, col("vid").asc)))
      .filter(col("rk") <= shortlist)
      .select("qid", "vid")
    exactMicroRerank(cand, queries, corpus, idCol, vecCol, k)
  }

  /** Exact micro-L2 rerank of (qid, vid) candidate pairs: joins the
    * full-width vectors back (query side broadcast), scores the exact
    * BIGINT squared distance, keeps top-k per query (vid tie-break).
    * Shared tail of [[pqRerankTopK]] and [[rpRerankTopK]].
    */
  private def exactMicroRerank(cand: DataFrame, queries: DataFrame,
      corpus: DataFrame, idCol: String, vecCol: String, k: Int): DataFrame = {
    def mic(df: DataFrame, as: String, out: String) =
      df.select(col(idCol).cast("long").as(as),
        transform(toDoubleVec(col(vecCol)),
          x => floor(x * lit(1e6) + lit(0.5)).cast("long")).as(out))
    cand
      .join(broadcast(mic(queries, "qid", "qv")), Seq("qid"))
      .join(mic(corpus, "vid", "cv"), Seq("vid"))
      .withColumn("dist", aggregate(
        zip_with(col("qv"), col("cv"), (a, b) => (a - b) * (a - b)),
        lit(0L), (acc, x) => acc + x))
      .withColumn("rk", row_number().over(
        Window.partitionBy(col("qid")).orderBy(col("dist").asc, col("vid").asc)))
      .filter(col("rk") <= k)
      .select("qid", "vid", "dist")
  }

  /** IVF (inverted-file) ANN: the corpus is bucketed into `nlist` cells
    * by nearest centroid; each query probes only its `nProbe` nearest
    * cells, so the scan cost drops from O(|corpus|) to
    * ~O(|corpus|·nProbe/nlist) per query. Centroids are a deterministic
    * hash-picked sample of the corpus (no stored model, reproducible
    * runs); a k-means refinement would drop in without changing the join
    * shape. Same scale story as LSH: centroid assignment is one parallel
    * corpus pass against broadcast centroids, and cell search shuffles on
    * the cell id (uniform-ish by construction).
    *
    * Determinism notes (what makes this oracle-checkable AND scale-safe):
    *  - the centroid pick orders by md5 of the id — engine-neutral, so an
    *    external SQL engine reproduces the exact sample — and runs through
    *    `orderBy().limit(nlist)`, which Spark executes as a DISTRIBUTED
    *    top-k (TakeOrderedAndProject): per-partition heaps, no
    *    single-partition global Window stage;
    *  - assignment/probe/final similarities are rounded to `roundScale`
    *    before ranking, ties broken by id, so float-summation-order
    *    differences across engines cannot flip a rank.
    */
  /** Deterministic md5-ordered centroid sample (cid, centv, centn) — the
    * IVF "coarse quantizer" before any refinement.
    */
  def hashCentroids(corpus: DataFrame, idCol: String, vecCol: String,
      nlist: Int): DataFrame = {
    GraftFunctions.register(corpus.sparkSession)
    corpus
      .select(col(idCol).as("cid"), toDoubleVec(col(vecCol)).as("centv"))
      .withColumn("hk", md5(col("cid").cast("string")))
      .orderBy(col("hk"), col("cid"))
      .limit(nlist)
      .withColumn("centn", GraftFunctions.norm(col("centv")))
      .select("cid", "centv", "centn")
  }

  /** One spherical-k-means (Lloyd) step over the IVF centroids: assign
    * every corpus vector to its best-cosine centroid, replace each
    * centroid with its cell's element-wise mean of UNIT-NORMALIZED
    * vectors — the spherical k-means update (the mean of raw vectors
    * would let one long vector drag the centroid and can DECREASE the
    * cosine objective on mixed-magnitude corpora). With the normalized
    * mean, the objective (sum of assigned cosines) is non-decreasing per
    * step. The join shape is the same as the search itself — one parallel
    * corpus pass against broadcast centroids plus a small (nlist × dim)
    * aggregate; the refreshed centroid table is localized to the driver
    * between steps (it is nlist rows and about to be broadcast anyway),
    * so iteration i does NOT re-execute iterations 1..i-1's lineage.
    * Cells that lose every vector keep their previous centroid (nlist
    * never shrinks).
    */
  def refineCentroids(corpus: DataFrame, idCol: String, vecCol: String,
      cent: DataFrame, iters: Int = 1): DataFrame = {
    val spark = corpus.sparkSession
    GraftFunctions.register(spark)
    val c = corpus.select(col(idCol).as("vid"), toDoubleVec(col(vecCol)).as("cv"))
      .withColumn("cn", GraftFunctions.norm(col("cv")))
    (0 until iters).foldLeft(cent) { (cur, _) =>
      val assigned = c.crossJoin(broadcast(cur))
        .withColumn("sim",
          GraftFunctions.dot(col("cv"), col("centv")) / (col("cn") * col("centn")))
        .withColumn("ark", row_number().over(
          Window.partitionBy(col("vid")).orderBy(col("sim").desc, col("cid"))))
        .filter(col("ark") === 1)
        .select(col("cid"), col("cv"), col("cn"))
      val means = assigned
        .select(col("cid"), col("cn"), posexplode(col("cv")).as(Seq("pos", "x")))
        .groupBy(col("cid"), col("pos"))
        .agg(avg(col("x") / col("cn")).as("m"))
        .groupBy(col("cid"))
        .agg(sort_array(collect_list(struct(col("pos"), col("m")))).as("pm"))
        .select(col("cid"),
          transform(col("pm"), p => p.getField("m")).as("newv"))
      val next = cur.join(means, Seq("cid"), "left")
        .withColumn("centv", coalesce(col("newv"), col("centv")))
        .withColumn("centn", GraftFunctions.norm(col("centv")))
        .select("cid", "centv", "centn")
      // materialize: nlist tiny rows; keeps the fold's lineage flat
      // (otherwise iteration i re-runs iterations 1..i-1 on every action)
      val rows = next.collect().toSeq
      spark.createDataFrame(
        spark.sparkContext.parallelize(rows, 1), next.schema)
    }
  }

  def ivfTopK(queries: DataFrame, corpus: DataFrame,
      idCol: String, vecCol: String, k: Int, nlist: Int = 16, nProbe: Int = 4,
      roundScale: Int = 4, refineIters: Int = 0): DataFrame = {
    val (cent, assigned) = ivfBuild(corpus, idCol, vecCol, nlist,
      roundScale, refineIters)
    ivfSearch(queries, cent, assigned, idCol, vecCol, k, nProbe, roundScale)
  }

  /** IVF index build — the production build-ONCE half of [[ivfTopK]]:
    * centroids + the corpus assigned to its nearest cell. At scale this
    * runs once per corpus version and is persisted ([[ivfWriteIndex]]);
    * per-call rebuilds re-scan the corpus for every query batch.
    * refineIters = 0 keeps the hash-picked sample (oracle-reproducible —
    * the q60 gate path); > 0 runs spherical-k-means steps for tighter
    * cells (recall per probe goes up; no longer engine-reproducible
    * since float means depend on summation order).
    */
  def ivfBuild(corpus: DataFrame, idCol: String, vecCol: String,
      nlist: Int = 16, roundScale: Int = 4, refineIters: Int = 0)
      : (DataFrame, DataFrame) = {
    GraftFunctions.register(corpus.sparkSession)
    val cent = refineCentroids(corpus, idCol, vecCol,
      hashCentroids(corpus, idCol, vecCol, nlist), refineIters)
    val c = corpus.select(col(idCol).as("vid"), toDoubleVec(col(vecCol)).as("cv"))
      .withColumn("cn", GraftFunctions.norm(col("cv")))
    val assigned = c.crossJoin(broadcast(cent))
      .withColumn("sim", round(
        GraftFunctions.dot(col("cv"), col("centv")) / (col("cn") * col("centn")),
        roundScale))
      .withColumn("ark", row_number().over(
        Window.partitionBy(col("vid")).orderBy(col("sim").desc, col("cid"))))
      .filter(col("ark") === 1)
      .select("cid", "vid", "cv", "cn")
    (cent, assigned)
  }

  /** IVF search over a pre-built index — the search-MANY half: queries
    * probe their `nProbe` nearest cells and score only those cells'
    * vectors. The query side broadcasts; the corpus-sized `assigned`
    * table never reshuffles.
    */
  def ivfSearch(queries: DataFrame, cent: DataFrame, assigned: DataFrame,
      idCol: String, vecCol: String, k: Int, nProbe: Int,
      roundScale: Int = 4): DataFrame = {
    GraftFunctions.register(queries.sparkSession)
    val probes = ivfProbes(queries, cent, idCol, vecCol, nProbe, roundScale)
    val scored = assigned.join(broadcast(probes), Seq("cid"))
      .filter(col("vid") =!= col("qid"))
      .withColumn("cos_r",
        round(GraftFunctions.dot(col("qv"), col("cv")) / (col("qn") * col("cn")), roundScale))
    scored
      .withColumn("rk", row_number().over(
        Window.partitionBy(col("qid")).orderBy(col("cos_r").desc, col("vid"))))
      .filter(col("rk") <= k)
      .select("qid", "vid", "cos_r")
  }

  private def ivfProbes(queries: DataFrame, cent: DataFrame, idCol: String,
      vecCol: String, nProbe: Int, roundScale: Int): DataFrame = {
    val q = queries.select(col(idCol).as("qid"), toDoubleVec(col(vecCol)).as("qv"))
      .withColumn("qn", GraftFunctions.norm(col("qv")))
    q.crossJoin(broadcast(cent))
      .withColumn("sim", round(
        GraftFunctions.dot(col("qv"), col("centv")) / (col("qn") * col("centn")),
        roundScale))
      .withColumn("prk", row_number().over(
        Window.partitionBy(col("qid")).orderBy(col("sim").desc, col("cid"))))
      .filter(col("prk") <= nProbe)
      .select("cid", "qid", "qv", "qn")
  }

  /** Persist an IVF index: centroids + the assigned corpus PARTITIONED
    * BY CELL ID. The on-disk layout is the search-time pruning lever —
    * [[ivfSearchStored]] reads only the probed cells' files.
    */
  def ivfWriteIndex(corpus: DataFrame, idCol: String, vecCol: String,
      path: String, nlist: Int = 16, roundScale: Int = 4,
      refineIters: Int = 0): Unit = {
    val (cent, assigned) = ivfBuild(corpus, idCol, vecCol, nlist,
      roundScale, refineIters)
    cent.write.mode("overwrite").parquet(s"$path/centroids")
    assigned.write.mode("overwrite").partitionBy("cid")
      .parquet(s"$path/cells")
  }

  /** Search a stored IVF index with PHYSICAL cell pruning: the probed
    * cell ids (a driver-side set bounded by `nlist`, NOT by query count
    * — there are only nlist distinct cells) become a literal partition
    * filter, so the scan reads only those cells' parquet files. This is
    * the 100 TB search shape: an nProbe/nlist fraction of the index is
    * ever read, verifiable in the plan's PartitionFilters.
    */
  def ivfSearchStored(spark: SparkSession, path: String, queries: DataFrame,
      idCol: String, vecCol: String, k: Int, nProbe: Int,
      roundScale: Int = 4): DataFrame = {
    GraftFunctions.register(spark)
    val cent = spark.read.parquet(s"$path/centroids")
    val probes = Checkpoints.pin(ivfProbes(queries, cent, idCol, vecCol,
      nProbe, roundScale)) // two consumers: cid collect + the score join
    // type-agnostic: cid is Long from the in-memory build but partition-
    // directory inference may read it back as Int
    val probedCids = probes.select("cid").distinct()
      .collect().map(_.get(0)).toSeq
    val cells = spark.read.parquet(s"$path/cells")
      .filter(col("cid").isin(probedCids: _*))
    val scored = cells.join(broadcast(probes), Seq("cid"))
      .filter(col("vid") =!= col("qid"))
      .withColumn("cos_r",
        round(GraftFunctions.dot(col("qv"), col("cv")) / (col("qn") * col("cn")), roundScale))
    scored
      .withColumn("rk", row_number().over(
        Window.partitionBy(col("qid")).orderBy(col("cos_r").desc, col("vid"))))
      .filter(col("rk") <= k)
      .select("qid", "vid", "cos_r")
  }

  /** LSH plane count that holds expected bucket occupancy at
    * `targetBucketSize` as the corpus grows: planes = ceil(log2(n /
    * target)). Fixed planes at a growing n is the superlinear-cost trap
    * the scale smoke measures (SCALE.md) — per-bucket pair work grows
    * ~n²/2^planes, so planes must track log2(n).
    */
  def planesFor(corpusSize: Long, targetBucketSize: Long = 64L): Int = {
    require(corpusSize > 0 && targetBucketSize > 0, "positive sizes required")
    math.max(1, 64 - java.lang.Long.numberOfLeadingZeros(
      math.max(1L, (corpusSize + targetBucketSize - 1) / targetBucketSize) - 1))
  }

  /** Product-quantization ANN (asymmetric distance computation): the
    * memory-compression tier of the ANN family — each corpus vector is
    * stored as `m` sub-space codebook indices (64 floats -> 8 bytes at
    * the defaults), and a query scores a vector with `m` table lookups
    * instead of a `dim`-wide dot product.
    *
    * Determinism/oracle design: vectors are first quantized to integer
    * MICRO-UNITS (`floor(x*1e6 + 0.5)`, the engine-neutral floor trick),
    * so every distance in the pipeline — codebook assignment, ADC
    * tables, final ranking — is exact BIGINT arithmetic any engine
    * reproduces bit-for-bit. The codebook is the md5-hash-picked sample
    * (`ORDER BY md5(id), id LIMIT ksub`, the q60 centroid pattern):
    * ksub rows collected to the driver — the codebook IS planner
    * metadata (m*ksub*dsub ints, ~1 KB), shipped to executors in the
    * task closure exactly like a broadcast dim.
    *
    * Scale shape: encode is one narrow map over the corpus (m*ksub*dsub
    * integer ops per row, no shuffle); scoring joins the tiny per-query
    * table side under an explicit broadcast against the 8-byte codes —
    * at 100 TB the scored table is the CODES table (~1% of the raw
    * vectors), which is the entire point of PQ.
    */
  def pqTopK(queries: DataFrame, corpus: DataFrame, idCol: String,
      vecCol: String, k: Int, m: Int = 16, ksub: Int = 16,
      dim: Int = 64): DataFrame = {
    val cb = pqCodebook(corpus, idCol, vecCol, m, ksub, dim)
    val spark = corpus.sparkSession
    import spark.implicits._
    // encode: m codebook indices per corpus vector (argmin L2, j tie-break)
    val enc = corpus.select(col(idCol).cast("long"), toDoubleVec(col(vecCol)))
      .as[(Long, Seq[Double])]
      .map { case (id, v) => (id, pqCodes(cb, pqMicro(v)).toSeq) }
      .toDF("vid", "codes")
    val qt = adcTables(queries, idCol, vecCol, cb)
    enc.crossJoin(broadcast(qt))
      .filter(col("vid") =!= col("qid"))
      .withColumn("dist", adcDist(cb))
      .withColumn("rk", row_number().over(
        Window.partitionBy(col("qid")).orderBy(col("dist").asc, col("vid").asc)))
      .filter(col("rk") <= k)
      .select("qid", "vid", "dist")
  }

  /** PQ codebook: `m` sub-spaces × `ksub` centroids in integer
    * micro-units — ~1 KB of planner metadata, hash-picked from the
    * corpus (`ORDER BY md5(id), id LIMIT ksub`, the q60 pattern).
    */
  private[operators] final case class PqCodebook(m: Int, ksub: Int,
      dsub: Int, cents: Array[Array[Array[Long]]])

  private[operators] def pqMicro(v: Seq[Double]): Array[Long] =
    v.iterator.map(x => math.floor(x * 1e6 + 0.5).toLong).toArray

  private def pqL2(a: Array[Long], off: Int, c: Array[Long]): Long = {
    var d = 0L; var t = 0
    while (t < c.length) { val x = a(off + t) - c(t); d += x * x; t += 1 }
    d
  }

  private[operators] def pqCodebook(corpus: DataFrame, idCol: String,
      vecCol: String, m: Int, ksub: Int, dim: Int): PqCodebook = {
    require(m > 0 && dim % m == 0, s"m must divide dim, got m=$m dim=$dim")
    require(ksub > 1, s"ksub must be > 1: $ksub")
    val dsub = dim / m
    val spark = corpus.sparkSession
    import spark.implicits._
    val picked: Array[Array[Long]] = corpus
      .select(col(idCol).cast("long").as("pid"), toDoubleVec(col(vecCol)).as("pv"))
      .orderBy(md5(col("pid").cast("string")), col("pid"))
      .limit(ksub)
      .as[(Long, Seq[Double])].collect().map(p => pqMicro(p._2))
    PqCodebook(m, ksub, dsub,
      Array.tabulate(m)(mi => picked.map(_.slice(mi * dsub, (mi + 1) * dsub))))
  }

  /** Argmin-L2 codebook index per sub-space (j tie-break). */
  private[operators] def pqCodes(cb: PqCodebook, mv: Array[Long]): Array[Int] =
    Array.tabulate(cb.m) { mi =>
      var best = 0; var bestD = Long.MaxValue; var j = 0
      while (j < cb.cents(mi).length) {
        val d = pqL2(mv, mi * cb.dsub, cb.cents(mi)(j))
        if (d < bestD) { bestD = d; best = j }
        j += 1
      }
      best
    }

  /** Per-query ADC tables: tbl[mi*ksub + j] = L2(query sub mi, centroid j). */
  private def adcTables(queries: DataFrame, idCol: String, vecCol: String,
      cb: PqCodebook): DataFrame = {
    val spark = queries.sparkSession
    import spark.implicits._
    queries.select(col(idCol).cast("long"), toDoubleVec(col(vecCol)))
      .as[(Long, Seq[Double])]
      .map { case (id, v) =>
        val mv = pqMicro(v)
        val tbl = new Array[Long](cb.m * cb.ksub)
        var mi = 0
        while (mi < cb.m) {
          var j = 0
          while (j < cb.cents(mi).length) {
            tbl(mi * cb.ksub + j) = pqL2(mv, mi * cb.dsub, cb.cents(mi)(j))
            j += 1
          }
          mi += 1
        }
        (id, tbl.toSeq)
      }.toDF("qid", "tbl")
  }

  /** ADC distance expression over (`codes`, `tbl`) columns. */
  private def adcDist(cb: PqCodebook): Column =
    (0 until cb.m).map { mi =>
      element_at(col("tbl"), lit(mi * cb.ksub + 1) + element_at(col("codes"), mi + 1))
    }.reduce(_ + _)

  /** IVF-PQ: the combined production ANN shape (coarse quantizer +
    * residual-free product codes, the in-memory form of a FAISS-style
    * IVFPQ index): the corpus is bucketed into `nlist` cells
    * ([[ivfBuild]]) and each cell's vectors are PQ-encoded; a query
    * probes its `nProbe` nearest cells and ADC-scores ONLY those
    * cells' codes. Cost per query ~ |corpus|·(nProbe/nlist) table
    * lookups over 8-byte codes — the cell pruning of IVF times the
    * memory compression of PQ.
    *
    * Determinism: cell assignment/probes use the rounded-cosine q60
    * discipline; codes and ADC distances are exact integer micro-unit
    * arithmetic (q78) — the whole composition is oracle-reproducible
    * (q124). Scale: the codes+cid table is the only corpus-sized
    * artifact; the query side (probes × ADC tables) broadcasts.
    */
  def ivfPqTopK(queries: DataFrame, corpus: DataFrame, idCol: String,
      vecCol: String, k: Int, nlist: Int = 16, nProbe: Int = 4,
      m: Int = 16, ksub: Int = 16, dim: Int = 64,
      roundScale: Int = 4): DataFrame = {
    val cb = pqCodebook(corpus, idCol, vecCol, m, ksub, dim)
    val (cent, assigned) = ivfBuild(corpus, idCol, vecCol, nlist, roundScale)
    val spark = corpus.sparkSession
    import spark.implicits._
    // encode the assigned corpus, carrying the cell id with the codes
    val enc = assigned
      .select(col("cid").cast("long"), col("vid").cast("long"), col("cv"))
      .as[(Long, Long, Seq[Double])]
      .map { case (cid, vid, v) => (cid, vid, pqCodes(cb, pqMicro(v)).toSeq) }
      .toDF("cid", "vid", "codes")
    val probes = ivfProbes(queries, cent, idCol, vecCol, nProbe, roundScale)
      .select("cid", "qid")
    val qside = probes.join(adcTables(queries, idCol, vecCol, cb), Seq("qid"))
    ivfPqScore(enc, qside, cb, k)
  }

  /** ADC scoring of (cid, vid, codes) against a broadcast (cid, qid,
    * tbl) probe side — shared by the in-memory and stored IVF-PQ
    * searches so the two paths cannot drift.
    */
  private def ivfPqScore(enc: DataFrame, qside: DataFrame, cb: PqCodebook,
      k: Int): DataFrame =
    enc.join(broadcast(qside), Seq("cid"))
      .filter(col("vid") =!= col("qid"))
      .withColumn("dist", adcDist(cb))
      .withColumn("rk", row_number().over(
        Window.partitionBy(col("qid")).orderBy(col("dist").asc, col("vid").asc)))
      .filter(col("rk") <= k)
      .select("qid", "vid", "dist")

  /** Persist an IVF-PQ index: centroids, the PQ codebook, and the
    * 8-byte codes table PARTITIONED BY CELL ID — the build-once
    * production layout ([[ivfWriteIndex]]'s discipline applied to the
    * compressed form: the stored artifact is ~1% of the raw vectors,
    * and [[ivfPqSearchStored]] reads only the probed cells' code
    * files).
    */
  def ivfPqWriteIndex(corpus: DataFrame, idCol: String, vecCol: String,
      path: String, nlist: Int = 16, m: Int = 16, ksub: Int = 16,
      dim: Int = 64, roundScale: Int = 4): Unit = {
    val cb = pqCodebook(corpus, idCol, vecCol, m, ksub, dim)
    val (cent, assigned) = ivfBuild(corpus, idCol, vecCol, nlist, roundScale)
    val spark = corpus.sparkSession
    import spark.implicits._
    assigned.select(col("cid").cast("long"), col("vid").cast("long"), col("cv"))
      .as[(Long, Long, Seq[Double])]
      .map { case (cid, vid, v) => (cid, vid, pqCodes(cb, pqMicro(v)).toSeq) }
      .toDF("cid", "vid", "codes")
      .write.mode("overwrite").partitionBy("cid").parquet(s"$path/codes")
    cent.write.mode("overwrite").parquet(s"$path/centroids")
    cb.cents.zipWithIndex.flatMap { case (subs, mi) =>
      subs.zipWithIndex.map { case (c, j) => (mi, j, c.toSeq) }
    }.toSeq.toDF("m", "j", "sub")
      .coalesce(1).write.mode("overwrite").parquet(s"$path/codebook")
  }

  /** Search a stored IVF-PQ index with PHYSICAL cell pruning: the
    * probed cell ids (bounded by nlist) become a partition filter on
    * the codes table, so a query batch reads ~nProbe/nlist of the
    * already-compressed index — the [[ivfSearchStored]] contract on
    * the PQ artifact. The codebook (~1 KB) is collected to the driver
    * like any planner metadata.
    */
  def ivfPqSearchStored(spark: SparkSession, path: String,
      queries: DataFrame, idCol: String, vecCol: String, k: Int,
      nProbe: Int, roundScale: Int = 4): DataFrame = {
    GraftFunctions.register(spark)
    import spark.implicits._
    val cent = spark.read.parquet(s"$path/centroids")
    val cbRows = spark.read.parquet(s"$path/codebook")
      .select($"m", $"j", $"sub").as[(Int, Int, Seq[Long])].collect()
    val m = cbRows.map(_._1).max + 1
    val ksub = cbRows.map(_._2).max + 1
    val cents = Array.ofDim[Array[Long]](m, ksub)
    cbRows.foreach { case (mi, j, sub) => cents(mi)(j) = sub.toArray }
    val cb = PqCodebook(m, ksub, cents(0)(0).length, cents)
    val probes = Checkpoints.pin(ivfProbes(queries, cent, idCol, vecCol,
      nProbe, roundScale).select(col("cid"), col("qid"))) // two consumers
    val probedCids = probes.select("cid").distinct()
      .collect().map(_.get(0)).toSeq
    val codes = spark.read.parquet(s"$path/codes")
      .filter(col("cid").isin(probedCids: _*))
    val qside = probes.join(adcTables(queries, idCol, vecCol, cb), Seq("qid"))
    ivfPqScore(codes, qside, cb, k)
  }

  /** IVF-PQ shortlist + exact micro-unit rerank — [[ivfPqTopK]]
    * proposes `shortlist` candidates from the probed cells' codes, then
    * true vectors are fetched for just those pairs (the [[pqRerankTopK]]
    * two-tier discipline with cell pruning on the proposal pass).
    */
  def ivfPqRerankTopK(queries: DataFrame, corpus: DataFrame, idCol: String,
      vecCol: String, k: Int, shortlist: Int = 50, nlist: Int = 16,
      nProbe: Int = 4, m: Int = 16, ksub: Int = 16, dim: Int = 64,
      roundScale: Int = 4): DataFrame = {
    require(shortlist >= k, s"shortlist $shortlist < k $k")
    val cand = ivfPqTopK(queries, corpus, idCol, vecCol, shortlist,
      nlist, nProbe, m, ksub, dim, roundScale).select("qid", "vid")
    exactMicroRerank(cand, queries, corpus, idCol, vecCol, k)
  }

  /** PQ shortlist + exact rerank — the production ANN shape: [[pqTopK]]
    * proposes `shortlist` candidates per query from the compressed codes
    * (cheap, whole corpus), then the TRUE vectors are fetched for just
    * those pairs and reranked by exact integer L2. Rerank cost scales
    * with |queries| * shortlist, NOT the corpus — the corpus-sized pass
    * only ever touches codes. Measured on the gate corpus: shortlist=50
    * lifts recall@5 from 0.27 (pure ADC) to ~0.8 at the defaults.
    * All-integer arithmetic end to end (same micro-unit quantization),
    * so the full two-tier pipeline is oracle-reproducible (q79).
    */
  def pqRerankTopK(queries: DataFrame, corpus: DataFrame, idCol: String,
      vecCol: String, k: Int, shortlist: Int = 50, m: Int = 16,
      ksub: Int = 16, dim: Int = 64): DataFrame = {
    require(shortlist >= k, s"shortlist $shortlist < k $k")
    val cand = pqTopK(queries, corpus, idCol, vecCol, shortlist, m, ksub, dim)
      .select("qid", "vid")
    exactMicroRerank(cand, queries, corpus, idCol, vecCol, k)
  }

  /** All pairs above a cosine threshold within blocks (embedding near-dup
    * detection). Blocking bounds the pair count; at scale the block column
    * is an LSH bucket or cluster id rather than a label.
    */
  def blockedNearDups(df: DataFrame, idCol: String, vecCol: String,
      blockCol: String, threshold: Double, roundScale: Int = 4): DataFrame = {
    GraftFunctions.register(df.sparkSession)
    val base = df.select(col(blockCol).as("block"), col(idCol).as("id"),
      toDoubleVec(col(vecCol)).as("v"))
      .withColumn("n", GraftFunctions.norm(col("v")))
    val l = base.select(col("block"), col("id").as("id_a"), col("v").as("va"), col("n").as("na"))
    val r = base.select(col("block").as("block_r"), col("id").as("id_b"),
      col("v").as("vb"), col("n").as("nb"))
    l.join(r, col("block") === col("block_r") && col("id_a") < col("id_b"))
      .withColumn("cos_r",
        round(GraftFunctions.dot(col("va"), col("vb")) / (col("na") * col("nb")), roundScale))
      .filter(col("cos_r") >= threshold)
      .select(col("block"), col("id_a"), col("id_b"), col("cos_r"))
  }

  /** [[blockedNearDups]] over the SQ8 CODE tier: fit the quantizer on
    * the corpus (model-sized construction job), encode → decode to
    * micro-unit longs, and run the same blocked pair scan on exact
    * integer dots — the 100 TB composition where the embedding store is
    * 4x-compressed codes (q130's lever) and near-dup detection runs
    * without ever touching float vectors. Per-vector squared norms are
    * computed ONCE in the base projection; the per-pair work is one
    * zip_with dot. cos = dt/(√aa·√bb) rounded at `roundScale`, every
    * input an exact integer — engine-replayable end to end (q144).
    * Recall vs the raw-vector pairs: SQ8's per-dim error is ≤ range/510,
    * so only pairs within quantization distance of the threshold can
    * flip ([[OperatorsSpec]] pins set agreement on the fixture corpus).
    */
  def blockedNearDupsSq8(df: DataFrame, idCol: String, vecCol: String,
      blockCol: String, threshold: Double, dim: Int,
      roundScale: Int = 4): DataFrame = {
    GraftFunctions.register(df.sparkSession)
    val model = sq8Fit(df, vecCol, dim)
    // decoded micro values are |x| < ~2^22 and dim ≤ thousands, so every
    // product and partial sum stays < 2^53: the DOUBLE dot over the
    // per-pair hot loop is EXACT integer arithmetic, and the native
    // codegen'd graft_dot replaces an interpreted HOF fold that cost
    // ~2.5x the whole query (q85's scoring discipline)
    val base = sq8DecodeMicro(sq8Encode(df, vecCol, model), "codes", model)
      .select(col(blockCol).as("block"), col(idCol).as("id"),
        transform(col("dec"), c => c.cast("double")).as("dec"))
      .withColumn("n2", GraftFunctions.dot(col("dec"), col("dec")))
    val l = base.select(col("block"), col("id").as("id_a"),
      col("dec").as("da"), col("n2").as("aa"))
    val r = base.select(col("block").as("block_r"), col("id").as("id_b"),
      col("dec").as("db"), col("n2").as("bb"))
    l.join(r, col("block") === col("block_r") && col("id_a") < col("id_b"))
      .withColumn("cos_r", round(
        GraftFunctions.dot(col("da"), col("db")) /
          (sqrt(col("aa")) * sqrt(col("bb"))),
        roundScale))
      .filter(col("cos_r") >= threshold)
      .select(col("block"), col("id_a"), col("id_b"), col("cos_r"))
  }

  // ------------------------------------------------------ int8 scalar
  // quantization (the FAISS-SQ8 shape): per-dimension min/max codes in
  // [0,255]. At 100 TB this is THE embedding-store memory lever — 4x
  // smaller than float32 with near-exact ranking — and unlike PQ the
  // codes preserve per-dimension structure, so scoring is a plain
  // integer dot product (codegen'd, exact, oracle-replayable).

  /** Per-dimension quantization bounds fitted on the corpus. */
  final case class Sq8Model(mins: Array[Double], maxs: Array[Double])

  /** Fit per-dimension [min, max] in ONE pass: posexplode feeds a
    * dim-group aggregate — partial min/max map-side, so the shuffle
    * moves `dim` groups per partition (model-sized, never corpus-
    * sized); the only driver collect is the dim-row bounds table.
    */
  def sq8Fit(corpus: DataFrame, vecCol: String, dim: Int): Sq8Model = {
    require(dim > 0, s"dim must be positive: $dim")
    val rows = corpus
      .select(posexplode(toDoubleVec(col(vecCol))).as(Seq("d", "x")))
      .na.drop()
      .groupBy(col("d")).agg(min(col("x")).as("mn"), max(col("x")).as("mx"))
      .collect()
    require(rows.length == dim,
      s"fit saw ${rows.length} dims, expected $dim (ragged or empty input?)")
    val mins = new Array[Double](dim)
    val maxs = new Array[Double](dim)
    rows.foreach { r =>
      mins(r.getInt(0)) = r.getDouble(1); maxs(r.getInt(0)) = r.getDouble(2)
    }
    Sq8Model(mins, maxs)
  }

  /** Add `codes` (array<int>, values 0..255): per-dim affine map onto
    * the byte range, `floor((x-min)·255/(max-min) + 0.5)` clamped — the
    * same deterministic IEEE-double-then-floor discipline as the
    * micro-unit quantizers, so any engine replays codes bit-identically.
    * A degenerate dimension (max == min) codes to 0. Map-only: bounds
    * enter the plan as broadcast literals.
    */
  def sq8Encode(df: DataFrame, vecCol: String, model: Sq8Model): DataFrame = {
    val minsLit = typedLit(model.mins.toSeq)
    val rangesLit = typedLit(
      model.mins.indices.map(i => model.maxs(i) - model.mins(i)))
    val centered = zip_with(toDoubleVec(col(vecCol)), minsLit, (x, mn) => x - mn)
    val codes = zip_with(centered, rangesLit, (xc, r) =>
      when(r <= 0d, lit(0))
        .otherwise(least(lit(255), greatest(lit(0),
          floor(xc * lit(255.0d) / r + lit(0.5d)).cast("int")))))
    df.withColumn("codes", codes)
  }

  /** Decode `codesCol` back to values: `min + code·range/255` per dim,
    * quantized to exact micro-unit longs (`floor(x·1e6 + 0.5)`) so any
    * dot product over decoded vectors is order-free integer arithmetic.
    * Raw byte dots would be WRONG for ranking — the affine shift adds
    * per-vector cross terms that reorder neighbors (measured recall
    * 0.05 vs 1.0); ADC must score decoded values, not codes.
    */
  def sq8DecodeMicro(df: DataFrame, codesCol: String,
      model: Sq8Model): DataFrame = {
    val minsLit = typedLit(model.mins.toSeq)
    val rangesLit = typedLit(
      model.mins.indices.map(i => model.maxs(i) - model.mins(i)))
    val scaled = zip_with(col(codesCol), rangesLit,
      (c, r) => c * r / lit(255.0d))
    val dec = zip_with(scaled, minsLit, (s, mn) =>
      floor((s + mn) * lit(1000000.0d) + lit(0.5d)).cast("long"))
    df.withColumn("dec", dec)
  }

  /** Quantized top-k (asymmetric-distance flavor): fit SQ8 on the
    * corpus, encode both sides, DECODE to micro-unit longs, rank by
    * the exact integer decoded-dot (ties by vid). Same broadcast shape
    * as [[bruteForceTopK]]: the query side broadcasts, the corpus scan
    * stays parallel, and the only shuffle is the per-query rank window
    * over |Q|·|C| scored rows. Returns (qid, vid, score, rk).
    */
  def sq8TopK(queries: DataFrame, corpus: DataFrame,
      idCol: String, vecCol: String, k: Int, dim: Int): DataFrame = {
    require(k > 0, s"k must be positive: $k")
    val model = sq8Fit(corpus, vecCol, dim)
    def prep(df: DataFrame, id: String): DataFrame =
      sq8DecodeMicro(sq8Encode(df, "v", model), "codes", model)
        .select(col(id), col("dec"))
    val q = prep(queries.select(col(idCol).as("qid"), col(vecCol).as("v")), "qid")
      .withColumnRenamed("dec", "qd")
    val c = prep(corpus.select(col(idCol).as("vid"), col(vecCol).as("v")), "vid")
      .withColumnRenamed("dec", "cd")
    c.crossJoin(broadcast(q))
      .filter(col("vid") =!= col("qid"))
      .withColumn("score", aggregate(
        zip_with(col("qd"), col("cd"), (a, b) => a * b),
        lit(0L), (s, x) => s + x))
      .withColumn("rk", row_number().over(
        Window.partitionBy(col("qid")).orderBy(col("score").desc, col("vid"))))
      .filter(col("rk") <= k)
      .select(col("qid"), col("vid"), col("score"), col("rk"))
  }
}
