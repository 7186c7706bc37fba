package graft.operators

import graft.SparkSpec
import graft.functions.TextFunctions
import graft.functions.VectorFunctions
import graft.plans.PlanWalk
import org.apache.spark.sql.functions._

case class VecRow(vec_id: Long, embedding: Array[Float])

class OperatorsSpec extends SparkSpec {
  import spark.implicits._

  private val docs = Seq(
    (1L, "the quick brown fox jumps over the lazy dog"),
    (2L, "the quick brown fox jumps over the lazy cat"), // near-dup of 1
    (3L, "completely different content about spark engines here"),
    (4L, "the quick brown fox jumps over the lazy dog"), // exact dup of 1
    (5L, "der hund läuft und das ist ein test nicht wahr")
  ).toDF("doc_id", "text")

  test("exactDedup keeps the smallest id per identical text") {
    val out = Dedup.exactDedup(docs, "doc_id", "text")
      .select("doc_id").as[Long].collect().sorted
    assert(out.toSeq == Seq(1L, 2L, 3L, 5L))
  }

  test("jaccardPairs finds the near-dup pair") {
    val pairs = Dedup.jaccardPairs(docs, "doc_id", "text", n = 3)
      .filter(col("jaccard") >= 0.4)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(pairs.contains((1L, 2L)) && pairs.contains((1L, 4L)) && pairs.contains((2L, 4L)))
    assert(!pairs.exists(p => p._1 == 3L || p._2 == 3L))
  }

  test("minhash LSH candidates include exact and near dups") {
    val cand = Dedup.minhashCandidates(docs, "doc_id", "text").
      as[(Long, Long)].collect().toSet
    assert(cand.contains((1L, 4L)))                // identical docs always collide
    val verified = Dedup.minhashNearDups(docs, "doc_id", "text", threshold = 0.4)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(verified.contains((1L, 4L)))
  }

  test("simhash: identical docs distance 0, near-dups small hamming, distinct docs far") {
    val sigs = Dedup.simhash64(docs, "doc_id", "text")
      .as[(Long, Long)].collect().toMap
    def ham(a: Long, b: Long) = java.lang.Long.bitCount(a ^ b)
    assert(ham(sigs(1L), sigs(4L)) == 0)
    assert(ham(sigs(1L), sigs(2L)) < ham(sigs(1L), sigs(3L)))
    val nd = Dedup.simhashNearDups(docs, "doc_id", "text", maxHamming = 3)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(nd.contains((1L, 4L)))
  }

  test("MinhashImpl is bit-identical to the Column minhash functions") {
    import graft.functions.MinhashImpl
    val sample = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .limit(50)
    val colSide = sample
      .select(col("doc_id"), TextFunctions.wordShingles(col("text"), 3).as("sh"))
      .select(col("doc_id"),
        TextFunctions.minhashSignature(col("sh"), 8).as("sig"))
      .select(col("doc_id"),
        TextFunctions.lshBandKeys(col("sig"), 4, 2).as("bk"))
      .as[(Long, Seq[String])].collect().toMap
    val scalaSide = sample.select(col("doc_id"), col("text"))
      .as[(Long, String)].collect().map { case (id, t) =>
        id -> MinhashImpl.bandKeys(
          MinhashImpl.signature(MinhashImpl.shingles(t, 3), 8), 4, 2).toSeq
      }.toMap
    assert(colSide == scalaSide)
  }

  test("XxMinhashImpl is bit-identical to the xxhash64 Column minhash path") {
    import graft.functions.XxMinhashImpl
    val sample = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .limit(50)
    val colSide = sample
      .select(col("doc_id"), TextFunctions.wordShingles(col("text"), 3).as("sh"))
      .filter(size(col("sh")) > 0)
      .select(col("doc_id"),
        TextFunctions.minhashSignatureFast(col("sh"), 16).as("sig"))
      .select(col("doc_id"), array((0 until 8).map { b =>
        val parts = (0 until 2).map(r => element_at(col("sig"), b * 2 + r + 1))
        xxhash64(lit(b) +: parts: _*)
      }: _*).as("bk"))
      .as[(Long, Seq[Long])].collect().toMap
    val scalaSide = sample.select(col("doc_id"), col("text"))
      .as[(Long, String)].collect().flatMap { case (id, t) =>
        val sh = graft.functions.MinhashImpl.shingles(t, 3)
        if (sh.isEmpty) None
        else Some(id -> XxMinhashImpl.bandKeys(
          XxMinhashImpl.signature(sh, 16), 8, 2).toSeq)
      }.toMap
    assert(colSide == scalaSide)
  }

  test("typed md5 simhash is bit-identical to the Column form") {
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    for (bits <- Seq(32, 48)) {
      val typed = Dedup.simhashMd5(docs, "doc_id", "text", bits)
        .as[(Long, Long)].collect().toMap
      val cols = Dedup.simhashMd5Columns(docs, "doc_id", "text", bits)
        .as[(Long, Long)].collect().toMap
      assert(typed == cols, s"simhash mismatch at bits=$bits")
    }
  }

  test("chunked simhash blocking recovers EVERY pair within the hamming radius") {
    // pigeonhole recall guarantee vs the all-pairs brute force
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val maxH = 6
    val sigs = Dedup.simhash64(docs, "doc_id", "text")
      .as[(Long, Long)].collect().toSeq
    val brute = (for {
      (ia, sa) <- sigs; (ib, sb) <- sigs if ia < ib
      h = java.lang.Long.bitCount(sa ^ sb) if h <= maxH
    } yield (ia, ib, h)).toSet
    val got = Dedup.simhashNearDupsExact(docs, "doc_id", "text", maxH)
      .as[(Long, Long, Int)].collect().map(t => (t._1, t._2, t._3.toLong)).toSet
    assert(got == brute.map(t => (t._1, t._2, t._3.toLong)),
      s"chunk blocking missed pairs: brute=${brute.size} got=${got.size}")
    // the single-prefix heuristic is a subset of the exact result
    val prefix = Dedup.simhashNearDups(docs, "doc_id", "text", maxH, 12)
      .as[(Long, Long, Int)].collect().map(t => (t._1, t._2)).toSet
    assert(prefix.subsetOf(got.map(t => (t._1, t._2))))
  }

  test("minhashNearDupsFast equals the exact jaccard pair set on the corpus") {
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val fast = Dedup.minhashNearDupsFast(docs, "doc_id", "text", threshold = 0.6)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    val exact = Dedup.jaccardPairs(docs, "doc_id", "text", n = 3)
      .filter(col("jaccard") >= 0.6)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(fast == exact)
  }

  test("langId picks the profile with most stopword hits") {
    val out = docs.withColumn("lid", TextFunctions.langId(col("text")))
      .select("doc_id", "lid").as[(Long, String)].collect().toMap
    assert(out(1L) == "en" && out(5L) == "de")
  }

  test("token/stopword/fingerprint functions") {
    val row = docs.filter($"doc_id" === 1)
      .select(
        TextFunctions.tokenCount($"text"),
        TextFunctions.stopwordHits($"text", Seq("the", "a")),
        TextFunctions.charFingerprint($"text", 8),
        TextFunctions.charFingerprintFast($"text", 8))
      .head()
    assert(row.getInt(0) == 9 && row.getInt(1) == 2)
    assert(row.getString(2).length == 32) // md5 hex
  }

  test("brute-force ANN returns exact cosine ranking") {
    val vecs = Seq(
      (0L, Array(1.0f, 0.0f, 0.0f)),
      (1L, Array(0.9f, 0.1f, 0.0f)),
      (2L, Array(0.0f, 1.0f, 0.0f)),
      (3L, Array(-1.0f, 0.0f, 0.0f))).toDF("vec_id", "embedding")
    val out = Similarity.bruteForceTopK(
        vecs.filter($"vec_id" === 0), vecs, "vec_id", "embedding", k = 2)
      .select("vid", "cos_r").as[(Long, Double)].collect().toSeq
    assert(out.map(_._1) == Seq(1L, 2L))
    assert(out.head._2 > 0.99)
  }

  test("randomProject: exact micro math, linearity, and a shuffle-free plan") {
    val dim = 16
    val signs = Similarity.md5ProjSigns(4, dim)
    val v = Array.tabulate(dim)(d => (d + 1) * 0.125f)
    // tie vector: single component whose micro value is exactly 50, so
    // every projection is a ±50-micro sum — dead on the 4-decimal
    // rounding tie the integer-space quantization exists to decide
    // engine-independently (half away from zero)
    val tie = Array.tabulate(dim)(d => if (d == 0) 5e-5f else 0.0f)
    val vecs = Seq(
      (0L, v),
      (1L, v.map(x => -x)), // negation => negated projections
      (2L, Array.fill(dim)(0.0f)),
      (3L, tie)).toDF("vec_id", "embedding")
    val out = Similarity.randomProject(vecs, "vec_id", "embedding",
      outDim = 4, dim = dim)
    val rows = out.select($"vec_id", $"j", $"proj_r")
      .as[(Long, Long, Double)].collect().map(r => (r._1, r._2) -> r._3).toMap
    assert(rows.size == 16)
    // reference rounding: half away from zero on the exact integer
    // micro sum (the implementation's contract — NOT BigDecimal on the
    // double, whose tie decisions depend on binary representation)
    def halfAway(micro: Long): Double = {
      val q = if (micro < 0) -((-micro + 50L) / 100L) else (micro + 50L) / 100L
      q.toDouble / 1e4
    }
    for (j <- 0 until 4) {
      val want = (0 until dim).map(d =>
        signs(j)(d) * math.floor(v(d).toDouble * 1e6 + 0.5).toLong).sum
      assert(rows((0L, j.toLong)) == halfAway(want))
      assert(rows((1L, j.toLong)) == -rows((0L, j.toLong)))
      assert(rows((2L, j.toLong)) == 0.0)
      // the ±50-micro tie rounds AWAY from zero in the sign's direction
      assert(rows((3L, j.toLong)) == signs(j)(0) * 0.0001,
        s"tie at j=$j: ${rows((3L, j.toLong))} vs sign ${signs(j)(0)}")
    }
    // scale gate: map-only pass — the final plan must contain no
    // exchange of any kind
    val p = PlanWalk.finalPlan(out).toString()
    assert(!p.contains("Exchange"), s"randomProject plan shuffles:\n$p")
  }

  test("randomProject preserves relative distances (JL sanity on a seeded corpus)") {
    val dim = 64
    val rnd = new scala.util.Random(7)
    val base = Array.fill(dim)(rnd.nextGaussian().toFloat)
    // near = base + tiny noise; far = independent draw
    val near = base.map(x => x + 0.01f * rnd.nextGaussian().toFloat)
    val far = Array.fill(dim)(rnd.nextGaussian().toFloat)
    val df = Seq((0L, base), (1L, near), (2L, far)).toDF("vec_id", "embedding")
    val pr = Similarity.randomProject(df, "vec_id", "embedding",
        outDim = 16, dim = dim)
      .as[(Long, Long, Double)].collect()
      .groupBy(_._1).view.mapValues(_.sortBy(_._2).map(_._3)).toMap
    def d2(a: Seq[Double], b: Seq[Double]): Double =
      a.zip(b).map { case (x, y) => (x - y) * (x - y) }.sum
    assert(d2(pr(0L), pr(1L)) < d2(pr(0L), pr(2L)),
      "projection inverted the near/far ordering")
  }

  test("randomProject is stateless: identical output on a stream (append mode)") {
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val ms = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[VecRow]
    val out = Similarity.randomProject(ms.toDF(), "vec_id", "embedding",
      outDim = 4, dim = 8)
    val q = out.writeStream.format("memory").queryName("rp_stream")
      .outputMode("append").start()
    try {
      val rows = (0 until 6).map(i =>
        VecRow(i.toLong, Array.tabulate(8)(d => (i * 8 + d) * 0.03f)))
      ms.addData(rows: _*)
      q.processAllAvailable()
      val streamed = spark.table("rp_stream")
        .as[(Long, Long, Double)].collect().toSet
      val batch = Similarity.randomProject(rows.toDF("vec_id", "embedding"),
          "vec_id", "embedding", outDim = 4, dim = 8)
        .as[(Long, Long, Double)].collect().toSet
      assert(streamed == batch && streamed.size == 24)
    } finally q.stop()
  }

  test("LSH top-k is a subset of brute-force candidates with high-cos hit") {
    val vecs = (0 until 50).map { i =>
      val base = if (i % 2 == 0) Array(1.0f, 0.1f * i, 0.5f, 0.0f)
        else Array(0.0f, 1.0f, -0.5f, 0.1f * i)
      (i.toLong, base)
    }.toDF("vec_id", "embedding")
    val out = Similarity.lshTopK(vecs.filter($"vec_id" === 0), vecs,
      "vec_id", "embedding", k = 3, planes = 4)
    // bucketed: every returned neighbor shares the query's bucket; sanity: no self, k respected
    val rows = out.select("vid").as[Long].collect()
    assert(!rows.contains(0L) && rows.length <= 3)
  }

  test("multi-probe LSH recall dominates single-probe and approaches brute force") {
    val e = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val q = e.filter($"vec_id" < 20)
    val k = 5
    def hits(df: org.apache.spark.sql.DataFrame): Set[(Long, Long)] =
      df.select("qid", "vid").as[(Long, Long)].collect().toSet
    val planes = 4
    val exact = hits(Similarity.bruteForceTopK(q, e, "vec_id", "embedding", k))
    val single = hits(Similarity.lshTopK(q, e, "vec_id", "embedding", k, planes))
    val multi = hits(Similarity.lshTopKMultiProbe(q, e, "vec_id", "embedding", k, planes))
    def recall(got: Set[(Long, Long)]) =
      (got intersect exact).size.toDouble / exact.size
    assert(recall(multi) >= recall(single),
      s"multi-probe recall ${recall(multi)} < single ${recall(single)}")
    // the multi-probe candidate set is a strict superset: with k = corpus
    // size, everything single-probe returns must also be returned
    val allSingle = hits(Similarity.lshTopK(q, e, "vec_id", "embedding",
      500, planes))
    val allMulti = hits(Similarity.lshTopKMultiProbe(q, e, "vec_id", "embedding",
      500, planes))
    assert(allSingle.subsetOf(allMulti))
    assert(allMulti.size > allSingle.size,
      "1-bit probes reached no extra buckets — multi-probe inert")
  }

  test("IVF top-k: valid neighbors, and probing every cell recovers brute force") {
    val e = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val q = e.filter($"vec_id" < 5)
    val ivfAll = Similarity.ivfTopK(q, e, "vec_id", "embedding",
      k = 3, nlist = 8, nProbe = 8) // probe all cells -> exact
    val brute = Similarity.bruteForceTopK(q, e, "vec_id", "embedding", k = 3)
    val ivfSet = ivfAll.select("qid", "vid").as[(Long, Long)].collect().toSet
    val bruteSet = brute.select("qid", "vid").as[(Long, Long)].collect().toSet
    assert(ivfSet == bruteSet,
      s"nProbe=nlist IVF must equal brute force; ivf=$ivfSet brute=$bruteSet")
    // partial probing: no self-matches, k respected, subset of corpus
    val part = Similarity.ivfTopK(q, e, "vec_id", "embedding",
      k = 3, nlist = 8, nProbe = 2)
      .select("qid", "vid").as[(Long, Long)].collect()
    assert(part.forall(p => p._1 != p._2))
    assert(part.groupBy(_._1).values.forall(_.length <= 3))
  }

  test("stored IVF index: physical cell pruning, probe-all == brute force") {
    val e = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val q = e.filter($"vec_id" < 5)
    val path = java.nio.file.Files.createTempDirectory("ivf_idx").toString
    Similarity.ivfWriteIndex(e, "vec_id", "embedding", path, nlist = 8)
    // probe-all recovers brute force through the STORED index (build →
    // write → read → search equals the in-memory pipeline end to end)
    val stored = Similarity.ivfSearchStored(spark, path, q,
        "vec_id", "embedding", k = 3, nProbe = 8)
      .select("qid", "vid").as[(Long, Long)].collect().toSet
    val brute = Similarity.bruteForceTopK(q, e, "vec_id", "embedding", k = 3)
      .select("qid", "vid").as[(Long, Long)].collect().toSet
    assert(stored == brute)
    // partial probing PHYSICALLY prunes: cid is a partition column, so
    // the probed-cid filter must land in the scan's PartitionFilters and
    // the file listing under those filters must shrink (inputFiles can't
    // show this — it lists the whole relation, ignoring filters)
    def scanOf(df: org.apache.spark.sql.DataFrame) =
      PlanWalk.walk(PlanWalk.finalPlan(df)).collectFirst {
        case f: org.apache.spark.sql.execution.FileSourceScanExec => f
      }.get
    def filesUnderFilters(f: org.apache.spark.sql.execution.FileSourceScanExec) =
      f.relation.location.listFiles(f.partitionFilters, f.dataFilters)
        .map(_.files.size).sum
    val fullScan = scanOf(spark.read.parquet(s"$path/cells"))
    val prunedScan = scanOf(
      spark.read.parquet(s"$path/cells").filter($"cid".isin(0, 1)))
    assert(prunedScan.partitionFilters.exists(_.references.exists(_.name == "cid")),
      s"cid filter not a partition filter: ${prunedScan.partitionFilters}")
    val (allFiles, prunedFiles) =
      (filesUnderFilters(fullScan), filesUnderFilters(prunedScan))
    assert(prunedFiles < allFiles,
      s"cid partition filter did not prune files: $prunedFiles vs $allFiles")

    // THE SEARCH PATH ITSELF is plan-gated (not just a hand-built
    // filter): ivfSearchStored's executed plan must carry the probed-cid
    // partition filter on its cells scan and list at most
    // nProbe×|queries| cells' files — remove the isin filter inside
    // ivfSearchStored and this fails with a full-index scan
    val q2 = e.filter($"vec_id" < 2) // 2 queries × nProbe 2 ≤ 4 of 8 cells
    val res = Similarity.ivfSearchStored(spark, path, q2,
      "vec_id", "embedding", k = 3, nProbe = 2)
    val cellScans = PlanWalk.walk(PlanWalk.finalPlan(res))
      .collect {
        case f: org.apache.spark.sql.execution.FileSourceScanExec
            if f.relation.location.rootPaths.exists(_.toString.contains("cells")) => f
      }
    assert(cellScans.nonEmpty, "no cells scan in ivfSearchStored plan")
    val searchScan = cellScans.head
    assert(searchScan.partitionFilters.exists(_.references.exists(_.name == "cid")),
      s"probed-cid filter not a PartitionFilter: ${searchScan.partitionFilters}")
    val partsRead = searchScan.relation.location
      .listFiles(searchScan.partitionFilters, searchScan.dataFilters).size
    val partsAll = searchScan.relation.location.listFiles(Nil, Nil).size
    assert(partsRead <= 4 && partsRead < partsAll,
      s"stored search did not physically prune: read $partsRead of $partsAll cells")
  }

  test("planesFor holds bucket occupancy across corpus growth") {
    // expected occupancy n / 2^planes stays within [target/2, target]
    for (n <- Seq(100L, 1000L, 100000L, 10000000L, 10000000000L)) {
      val p = Similarity.planesFor(n, 64)
      val occ = n.toDouble / math.pow(2, p)
      assert(occ <= 64.0, s"n=$n planes=$p occupancy $occ above target")
      assert(p == 1 || occ > 16.0, s"n=$n planes=$p over-partitioned ($occ)")
    }
    assert(Similarity.planesFor(1, 64) == 1)
  }

  test("default path auto-derives banding/planes from corpus count") {
    val e = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val q = e.filter($"vec_id" < 10)
    val n = e.count()
    // auto lshTopK == explicit lshTopK at planesFor(n): same code path,
    // same buckets, same rows — the default is wired, not a fixed 12
    def hits(df: org.apache.spark.sql.DataFrame): Set[(Long, Long, Any)] =
      df.collect().map(r => (r.getLong(0), r.getLong(1), r.get(2))).toSet
    val auto = hits(Similarity.lshTopK(q, e, "vec_id", "embedding", k = 3))
    val expl = hits(Similarity.lshTopK(q, e, "vec_id", "embedding", k = 3,
      planes = Similarity.planesFor(n)))
    assert(auto == expl)
    val autoM = hits(Similarity.lshTopKMultiProbe(q, e, "vec_id", "embedding", k = 3))
    val explM = hits(Similarity.lshTopKMultiProbe(q, e, "vec_id", "embedding",
      k = 3, planes = math.min(30, Similarity.planesFor(n))))
    assert(autoM == explM)
    // auto minhash == explicit minhash at bandingFor(n, t)
    val docs = graft.Tables.documents(spark, "/root/testdata/sf0.001")
    val (bk, bb) = Dedup.bandingFor(docs.count(), 0.6)
    val autoD = Dedup.minhashNearDupsFast(docs, "doc_id", "text", 0.6)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    val explD = Dedup.minhashNearDupsFast(docs, "doc_id", "text", 0.6,
        k = bk, bands = bb)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(autoD == explD)
  }

  test("partial banding overrides are rejected, not silently ignored") {
    val docs = graft.Tables.documents(spark, "/root/testdata/sf0.001")
    // pre-auto-banding callers passed only k (bands defaulted to 8); that
    // must now fail loudly instead of auto-deriving both behind their back
    intercept[IllegalArgumentException] {
      Dedup.minhashNearDupsFast(docs, "doc_id", "text", 0.6, k = 16)
    }
    intercept[IllegalArgumentException] {
      Dedup.minhashNearDups(docs, "doc_id", "text", 0.6, bands = 8)
    }
    // explicit path validates bands | k
    intercept[IllegalArgumentException] {
      Dedup.minhashNearDupsFast(docs, "doc_id", "text", 0.6, k = 15, bands = 4)
    }
  }

  test("bandingFor tracks corpus growth: selectivity first, capped k") {
    var lastRows = 0
    for (n <- Seq(1000L, 1000000L, 1000000000L, 1000000000000L)) {
      val (k, bands) = Dedup.bandingFor(n, 0.8)
      val rows = k / bands
      assert(k % bands == 0 && rows >= 2 && k <= 256,
        s"n=$n -> k=$k bands=$bands")
      assert(rows >= lastRows,
        s"rows must not shrink as n grows: n=$n rows=$rows last=$lastRows")
      // selectivity: background (j=0.1) pair collides in some band with
      // probability <= bands * 0.1^rows — keep expected noise per doc ~O(1)
      assert(n * bands * math.pow(0.1, rows) <= 10.0,
        s"n=$n rows=$rows bands=$bands noise unbounded")
      lastRows = rows
    }
    // regression: a LOW threshold at petabyte n drove the ideal band
    // count past Int range; rows*bands wrapped negative and skipped the
    // maxK cap entirely (returned k=-22, bands=Int.MaxValue)
    for (t <- Seq(0.2, 0.5, 0.8); n <- Seq(1000L, 1000000000000L)) {
      val (k, bands) = Dedup.bandingFor(n, t)
      assert(k > 0 && bands >= 2 && k <= 256 && k % bands == 0,
        s"n=$n t=$t -> k=$k bands=$bands")
    }
  }

  test("PQ top-k: 8-byte codes, deterministic, useful recall vs brute force") {
    val e = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val q = e.filter($"vec_id" < 20)
    val k = 5
    def hits(df: org.apache.spark.sql.DataFrame): Set[(Long, Long)] =
      df.select("qid", "vid").as[(Long, Long)].collect().toSet
    val pq = Similarity.pqTopK(q, e, "vec_id", "embedding", k)
    val got = pq.select("qid", "vid", "dist").as[(Long, Long, Long)].collect()
    // shape: no self matches, k per query, integer distances
    assert(got.forall(r => r._1 != r._2 && r._3 >= 0L))
    assert(got.groupBy(_._1).values.forall(_.length <= k))
    // determinism: bit-identical on recomputation (hash codebook, no RNG)
    assert(hits(Similarity.pqTopK(q, e, "vec_id", "embedding", k)) ==
      got.map(r => (r._1, r._2)).toSet)
    // recall is judged against exact L2 top-k — PQ quantizes L2
    // distances, so that is the matching reference metric (cosine
    // recall is a metric-mismatch measurement, not PQ quality)
    val vecs = e.select($"vec_id", $"embedding").as[(Long, Seq[Float])]
      .collect().map { case (id, v) =>
        id -> v.map(x => math.floor(x.toDouble * 1e6 + 0.5).toLong).toArray
      }.toMap
    def l2(a: Array[Long], b: Array[Long]): Long =
      a.indices.iterator.map { i => val d = a(i) - b(i); d * d }.sum
    val exactL2 = vecs.keys.filter(_ < 20).flatMap { qid =>
      vecs.toSeq.filter(_._1 != qid)
        .sortBy { case (vid, v) => (l2(vecs(qid), v), vid) }
        .take(k).map { case (vid, _) => (qid, vid) }
    }.toSet
    // pure ADC is a shortlister, not a ranker — its recall floor is low;
    // the production tier is shortlist + exact rerank, which must recover
    // most of the exact-L2 neighbors (measured 0.79 on this corpus)
    val adcRecall = (hits(pq) intersect exactL2).size.toDouble / exactL2.size
    assert(adcRecall >= 0.15, s"pure-ADC recall@5 collapsed: $adcRecall")
    val rr = Similarity.pqRerankTopK(q, e, "vec_id", "embedding", k)
    val rrRecall = (hits(rr) intersect exactL2).size.toDouble / exactL2.size
    assert(rrRecall >= 0.6, s"shortlist+rerank recall@5 collapsed: $rrRecall")
    assert(rrRecall >= adcRecall, "rerank must not lose recall vs pure ADC")
    // rerank distances are EXACT for the pairs it returns
    rr.select("qid", "vid", "dist").as[(Long, Long, Long)].collect()
      .foreach { case (qid, vid, d) => assert(d == l2(vecs(qid), vecs(vid))) }
  }

  test("IVF-PQ: hits come only from probed cells; rerank distances exact") {
    val e = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val q = e.filter($"vec_id" < 20)
    val k = 5
    val got = Similarity.ivfPqTopK(q, e, "vec_id", "embedding", k)
      .select("qid", "vid", "dist").as[(Long, Long, Long)].collect()
    assert(got.forall(r => r._1 != r._2 && r._3 >= 0L))
    assert(got.groupBy(_._1).values.forall(_.length <= k))
    // determinism: bit-identical on recomputation
    assert(Similarity.ivfPqTopK(q, e, "vec_id", "embedding", k)
      .select("qid", "vid", "dist").as[(Long, Long, Long)].collect()
      .toSet == got.toSet)
    // every returned vid must live in one of its query's probed cells —
    // the cell-pruning contract (recompute assignment independently)
    val (cent, assigned) = Similarity.ivfBuild(e, "vec_id", "embedding", 16)
    val cellOf = assigned.select($"vid", $"cid").as[(Long, Long)]
      .collect().toMap
    val probeSet = {
      // derive probes the same way the operator does: nearest-4 cells
      val vecs = e.select($"vec_id", $"embedding").as[(Long, Seq[Float])]
        .collect().map { case (id, v) => id -> v.map(_.toDouble).toArray }.toMap
      val cents = cent.select($"cid", $"centv").as[(Long, Seq[Double])]
        .collect().map { case (id, v) => id -> v.toArray }
      def cos(a: Array[Double], b: Array[Double]): Double = {
        val dt = a.indices.iterator.map(i => a(i) * b(i)).sum
        val na = math.sqrt(a.iterator.map(x => x * x).sum)
        val nb = math.sqrt(b.iterator.map(x => x * x).sum)
        // HALF_UP to match Spark's round() tie behavior
        BigDecimal(dt / (na * nb))
          .setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble
      }
      vecs.keys.filter(_ < 20).flatMap { qid =>
        cents.sortBy { case (cid, cv) => (-cos(vecs(qid), cv), cid) }
          .take(4).map { case (cid, _) => (qid, cid) }
      }.toSet
    }
    got.foreach { case (qid, vid, _) =>
      assert(probeSet((qid, cellOf(vid))),
        s"hit ($qid, $vid) came from unprobed cell ${cellOf(vid)}")
    }
    // rerank tier: exact integer distances for returned pairs, recall
    // never below the pure-ADC proposal it reranks
    val micro = e.select($"vec_id", $"embedding").as[(Long, Seq[Float])]
      .collect().map { case (id, v) =>
        id -> v.map(x => math.floor(x.toDouble * 1e6 + 0.5).toLong).toArray
      }.toMap
    def l2(a: Array[Long], b: Array[Long]): Long =
      a.indices.iterator.map { i => val d = a(i) - b(i); d * d }.sum
    val rr = Similarity.ivfPqRerankTopK(q, e, "vec_id", "embedding", k)
      .select("qid", "vid", "dist").as[(Long, Long, Long)].collect()
    rr.foreach { case (qid, vid, d) => assert(d == l2(micro(qid), micro(vid))) }
    val exactL2 = micro.keys.filter(_ < 20).flatMap { qid =>
      micro.toSeq.filter(_._1 != qid)
        .sortBy { case (vid, v) => (l2(micro(qid), v), vid) }
        .take(k).map { case (vid, _) => (qid, vid) }
    }.toSet
    val adcR = (got.map(r => (r._1, r._2)).toSet intersect exactL2).size.toDouble / exactL2.size
    val rrR = (rr.map(r => (r._1, r._2)).toSet intersect exactL2).size.toDouble / exactL2.size
    assert(rrR >= adcR, s"rerank recall $rrR below pure ADC $adcR")
    assert(rrR >= 0.3, s"ivfpq rerank recall@5 collapsed: $rrR")
  }

  test("stored IVF-PQ: search equals in-memory and physically prunes cells") {
    val e = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val q = e.filter($"vec_id" < 20)
    val path = java.nio.file.Files.createTempDirectory("ivfpq_idx").toString
    Similarity.ivfPqWriteIndex(e, "vec_id", "embedding", path, nlist = 16)
    val mem = Similarity.ivfPqTopK(q, e, "vec_id", "embedding", k = 5)
      .select("qid", "vid", "dist").as[(Long, Long, Long)].collect().toSet
    val stored = Similarity.ivfPqSearchStored(spark, path, q,
      "vec_id", "embedding", k = 5, nProbe = 4)
    val storedSet = stored.select("qid", "vid", "dist")
      .as[(Long, Long, Long)].collect().toSet
    assert(storedSet == mem, "stored search must equal in-memory IVF-PQ")

    // pruning gate on a SINGLE query: its codes scan must carry a cid
    // partition filter and read <= nProbe of nlist cells' files
    val one = Similarity.ivfPqSearchStored(spark, path,
      e.filter($"vec_id" === 0), "vec_id", "embedding", k = 5, nProbe = 4)
    val scan = PlanWalk.walk(PlanWalk.finalPlan(one))
      .collectFirst {
        case f: org.apache.spark.sql.execution.FileSourceScanExec
            if f.relation.location.rootPaths.exists(_.toString.contains("codes")) => f
      }.getOrElse(fail("no codes scan in stored-search plan"))
    assert(scan.partitionFilters.exists(_.references.exists(_.name == "cid")),
      s"cid filter not a partition filter: ${scan.partitionFilters}")
    // the broadcast cid join ALSO plants a DynamicPruning subquery in
    // partitionFilters; it cannot be evaluated offline — the static
    // isin filter alone must already prune
    val staticFilters = scan.partitionFilters.filterNot(_.exists(
      _.isInstanceOf[org.apache.spark.sql.catalyst.expressions.DynamicPruning]))
    val read = scan.relation.location
      .listFiles(staticFilters, scan.dataFilters).size
    val all = scan.relation.location.listFiles(Nil, Nil).size
    assert(read <= 4 && read < all,
      s"no physical pruning: read $read of $all cells")
  }

  test("RP shortlist+rerank: exact distances, useful recall vs exact L2") {
    val e = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val q = e.filter($"vec_id" < 20)
    val k = 5
    // near-uniform random vectors are the JL worst case: 8 dims keeps
    // only ~1/3 of the exact neighbors here, 16 dims + a 100-wide
    // shortlist recovers most — the sizing rule the scaladoc states
    val rr = Similarity.rpRerankTopK(q, e, "vec_id", "embedding", k,
      shortlist = 100, outDim = 16, dim = 64)
    val got = rr.select("qid", "vid", "dist").as[(Long, Long, Long)].collect()
    assert(got.forall(r => r._1 != r._2 && r._3 >= 0L))
    assert(got.groupBy(_._1).values.forall(_.length <= k))
    val vecs = e.select($"vec_id", $"embedding").as[(Long, Seq[Float])]
      .collect().map { case (id, v) =>
        id -> v.map(x => math.floor(x.toDouble * 1e6 + 0.5).toLong).toArray
      }.toMap
    def l2(a: Array[Long], b: Array[Long]): Long =
      a.indices.iterator.map { i => val d = a(i) - b(i); d * d }.sum
    // rerank distances are EXACT micro-L2 for every returned pair
    got.foreach { case (qid, vid, d) => assert(d == l2(vecs(qid), vecs(vid))) }
    val exactL2 = vecs.keys.filter(_ < 20).flatMap { qid =>
      vecs.toSeq.filter(_._1 != qid)
        .sortBy { case (vid, v) => (l2(vecs(qid), v), vid) }
        .take(k).map { case (vid, _) => (qid, vid) }
    }.toSet
    val recall = (got.map(r => (r._1, r._2)).toSet intersect exactL2).size
      .toDouble / exactL2.size
    assert(recall >= 0.6, s"RP rerank recall@5 collapsed: $recall")
  }

  test("SQ8: codes reconstruct within the half-step bound; dot-rank recall holds") {
    val e = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val dim = 64
    val model = Similarity.sq8Fit(e, "embedding", dim)
    assert(model.mins.indices.forall(i => model.mins(i) <= model.maxs(i)))
    // roundtrip: |decode(code) - x| <= range/510 + eps for every element
    val coded = Similarity.sq8Encode(
      e.select($"vec_id", $"embedding".as("v")), "v", model)
      .select($"vec_id", $"v", $"codes")
      .as[(Long, Seq[Float], Seq[Int])].collect()
    coded.foreach { case (_, v, cs) =>
      assert(cs.length == dim && cs.forall(c => c >= 0 && c <= 255))
      cs.indices.foreach { i =>
        val r = model.maxs(i) - model.mins(i)
        if (r > 0) {
          val decoded = model.mins(i) + cs(i) * r / 255.0
          assert(math.abs(decoded - v(i)) <= r / 510.0 + 1e-9,
            s"dim $i: decode $decoded vs ${v(i)} exceeds half-step ${r / 510.0}")
        }
      }
    }
    // quantized dot-product ranking keeps most exact-dot neighbors
    val k = 5
    val got = Similarity.sq8TopK(e.filter($"vec_id" < 20), e,
      "vec_id", "embedding", k, dim)
      .select("qid", "vid").as[(Long, Long)].collect().toSet
    val vecs = coded.map { case (id, v, _) => id -> v.map(_.toDouble).toArray }.toMap
    def dot(a: Array[Double], b: Array[Double]): Double =
      a.indices.iterator.map(i => a(i) * b(i)).sum
    val exact = vecs.keys.filter(_ < 20).flatMap { qid =>
      vecs.toSeq.filter(_._1 != qid)
        .sortBy { case (vid, v) => (-dot(vecs(qid), v), vid) }
        .take(k).map(p => (qid, p._1))
    }.toSet
    val recall = (got intersect exact).size.toDouble / exact.size
    assert(recall >= 0.7, s"SQ8 recall@5 vs exact dot collapsed: $recall")
  }

  test("SQ8 blocked near-dups recover the raw-vector pair set") {
    val e = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val raw = Similarity.blockedNearDups(e, "vec_id", "embedding", "label",
        threshold = 0.2)
      .select($"id_a", $"id_b").as[(Long, Long)].collect().toSet
    val sq8 = Similarity.blockedNearDupsSq8(e, "vec_id", "embedding", "label",
        threshold = 0.2, dim = 64)
      .select($"id_a", $"id_b").as[(Long, Long)].collect().toSet
    assert(raw.nonEmpty, "fixture produced no raw near-dup pairs")
    val recall = (sq8 intersect raw).size.toDouble / raw.size
    val precision = if (sq8.isEmpty) 0.0
      else (sq8 intersect raw).size.toDouble / sq8.size
    assert(recall >= 0.9, s"SQ8 pair recall vs raw vectors collapsed: $recall")
    assert(precision >= 0.9, s"SQ8 pair precision vs raw vectors collapsed: $precision")
  }

  test("spherical k-means refinement never decreases the IVF objective") {
    import graft.functions.VectorFunctions._
    import graft.plans.GraftFunctions
    val e = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    def objective(cent: org.apache.spark.sql.DataFrame): Double = {
      val c = e.select(col("vec_id").as("vid"), toDoubleVec(col("embedding")).as("cv"))
        .withColumn("cn", GraftFunctions.norm(col("cv")))
      c.crossJoin(broadcast(cent))
        .withColumn("sim",
          GraftFunctions.dot(col("cv"), col("centv")) / (col("cn") * col("centn")))
        .groupBy(col("vid")).agg(max(col("sim")).as("best"))
        .agg(avg(col("best"))).as[Double].collect().head
    }
    val cent0 = Similarity.hashCentroids(e, "vec_id", "embedding", 8)
    val obj0 = objective(cent0)
    val cent2 = Similarity.refineCentroids(e, "vec_id", "embedding", cent0, iters = 2)
    val obj2 = objective(cent2)
    assert(obj2 >= obj0 - 1e-9,
      s"Lloyd step decreased the objective: $obj0 -> $obj2")
    assert(cent2.count() == 8) // empty cells keep their centroid
  }

  test("k-means refinement stays monotone on a MIXED-MAGNITUDE corpus") {
    // the update must average unit-normalized vectors: a raw mean lets
    // one long vector drag the centroid and can decrease the objective —
    // scale half the corpus 100x to exercise exactly that case
    import graft.functions.VectorFunctions._
    import graft.plans.GraftFunctions
    val e = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
      .withColumn("embedding",
        when(col("vec_id") % 2 === 0,
          transform(col("embedding"), x => x * 100.0f))
          .otherwise(col("embedding")))
    def objective(cent: org.apache.spark.sql.DataFrame): Double = {
      val c = e.select(col("vec_id").as("vid"), toDoubleVec(col("embedding")).as("cv"))
        .withColumn("cn", GraftFunctions.norm(col("cv")))
      c.crossJoin(broadcast(cent))
        .withColumn("sim",
          GraftFunctions.dot(col("cv"), col("centv")) / (col("cn") * col("centn")))
        .groupBy(col("vid")).agg(max(col("sim")).as("best"))
        .agg(avg(col("best"))).as[Double].collect().head
    }
    val cent0 = Similarity.hashCentroids(e, "vec_id", "embedding", 8)
    val obj0 = objective(cent0)
    val cent3 = Similarity.refineCentroids(e, "vec_id", "embedding", cent0, iters = 3)
    val obj3 = objective(cent3)
    assert(obj3 >= obj0 - 1e-9,
      s"refinement decreased the objective on mixed magnitudes: $obj0 -> $obj3")
  }

  test("codegen DotProduct matches the interpreted fold bit-for-bit") {
    import graft.plans.GraftFunctions
    GraftFunctions.register(spark)
    val df = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
      .limit(100)
      .select(col("vec_id"), transform(col("embedding"), x => x.cast("double")).as("v"))
    val both = df.select(col("vec_id"),
      GraftFunctions.dot(col("v"), col("v")).as("native"),
      VectorFunctions.dot(col("v"), col("v")).as("interp"))
    assert(both.filter(col("native") =!= col("interp")).count() == 0)
    // also callable from SQL text
    df.createOrReplaceTempView("vt")
    val sqlOut = spark.sql("SELECT graft_dot(v, v) FROM vt LIMIT 1").as[Double].head()
    assert(sqlOut > 0.0)
  }

  test("DotProduct interpreted eval matches its own codegen bit-for-bit") {
    // The sibling test pins native-codegen against the HOF fold, but both
    // sides run under the session's default CODEGEN factory — DotProduct's
    // nullSafeEval never executes anywhere in the suite unless codegen is
    // forced off. Flip the factory to NO_CODEGEN for one pass so a future
    // doGenCode/eval divergence (the class scaladoc's bit-identical
    // contract) fails here, not only in a session-level verify sweep.
    import graft.plans.GraftFunctions
    GraftFunctions.register(spark)
    val df = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
      .select(col("vec_id"), transform(col("embedding"), x => x.cast("double")).as("v"))
    def run(): Map[Long, Double] =
      df.select(col("vec_id"), GraftFunctions.dot(col("v"), col("v")).as("d"))
        .as[(Long, Double)].collect().toMap
    val codegen = run()
    val ws = spark.conf.get("spark.sql.codegen.wholeStage")
    val fm = spark.conf.get("spark.sql.codegen.factoryMode")
    val interpreted = try {
      spark.conf.set("spark.sql.codegen.wholeStage", "false")
      spark.conf.set("spark.sql.codegen.factoryMode", "NO_CODEGEN")
      run()
    } finally {
      spark.conf.set("spark.sql.codegen.wholeStage", ws)
      spark.conf.set("spark.sql.codegen.factoryMode", fm)
    }
    assert(codegen.nonEmpty && codegen == interpreted,
      "DotProduct eval diverged from doGenCode")
  }

  test("BloomDistinct estimates distinct counts within a few percent") {
    val agg = udaf(new graft.functions.BloomDistinct(1 << 16))
    val df = (1 to 10000).map(i => (i % 1000).toLong).toDF("id")
    val est = df.agg(agg(col("id"))).as[Long].head()
    assert(math.abs(est - 1000L) <= 50, s"estimate $est")
    // bitmap merge across partitions: repartition and re-check
    val est2 = df.repartition(8).agg(agg(col("id"))).as[Long].head()
    assert(est == est2)
  }

  test("cosine column math matches manual computation") {
    val df = Seq((Array(1.0, 2.0, 3.0), Array(4.0, 5.0, 6.0))).toDF("a", "b")
    val got = df.select(VectorFunctions.cosine($"a", $"b")).as[Double].head()
    val exp = 32.0 / (math.sqrt(14.0) * math.sqrt(77.0))
    assert(math.abs(got - exp) < 1e-12)
  }

  test("dupSpanCoverage interval-unions overlapping duplicated spans per doc") {
    // docs 1 and 2 share "a b c d" (pos 1 AND pos 2 in doc 1 -> spans
    // [1,3] and [2,4] union to [1,4]); doc 3 is clean
    val d = Seq(
      (1L, "a b c d e f"), // 3-grams: abc bcd cde def
      (2L, "a b c d x y"), // shares abc bcd with doc 1
      (3L, "p q r s t u"))
      .toDF("doc_id", "text")
    val got = Dedup.dupSpanCoverage(d, "doc_id", "text", n = 3)
      .select($"doc_id", $"n_tokens", $"covered")
      .as[(Long, Long, Long)].collect()
      .map { case (id, nt, c) => id -> ((nt, c)) }.toMap
    // doc1: dup 3-grams at pos 1 ("a b c") and 2 ("b c d") -> covers
    // tokens 1..4 = 4; doc2 identically
    assert(got == Map(1L -> ((6L, 4L)), 2L -> ((6L, 4L))))
  }

  test("dedupSpansKeepFirst excises every duplicated run except its first occurrence") {
    val d = Seq(
      (1L, "a b c d e"),       // first occurrence — survives whole
      (2L, "a b c d e"),       // identical — fully excised
      (3L, "q a b c d e"),     // shares the run with an extra prefix token
      (4L, "x y z w x y z w"), // within-doc repeat: second copy excised
      (5L, "m n"))             // shorter than the anchor — untouched
      .toDF("doc_id", "text")
    val got = Dedup.dedupSpansKeepFirst(d, "doc_id", "text", n = 3)
      .as[(Long, String, Long, Long)].collect()
      .map(r => r._1 -> ((r._2, r._3, r._4))).toMap
    assert(got(1L) == (("a b c d e", 5L, 0L)))
    assert(got(2L) == (("", 5L, 5L)))
    // anchors abc/bcd/cde all lose -> covered positions 2..6, "q" survives
    assert(got(3L) == (("q", 6L, 5L)))
    // xyz@5 and yzw@6 lose to their pos-1/2 twins -> covered 5..8
    assert(got(4L) == (("x y z w", 8L, 4L)))
    assert(got(5L) == (("m n", 2L, 0L)))
  }

  test("dedupSpansIncremental excises corpus runs everywhere, batch runs after their first") {
    val corpus = Seq(
      (10L, "a b c d e f"),
      (11L, "p q r s t u"))
      .toDF("doc_id", "text")
    val incoming = Seq(
      (1L, "a b c d x y"),   // run "a b c d" exists in corpus -> excised
      (2L, "m n o v w z"),   // fresh -> untouched
      (3L, "m n o v w z"),   // within-batch repeat of doc 2 -> excised
      (4L, "a b c d e f"))   // whole corpus doc -> fully excised
      .toDF("doc_id", "text")
    val got = graft.operators.Dedup.dedupSpansIncremental(
        incoming, corpus, "doc_id", "text", n = 3)
      .as[(Long, String, Long, Long)].collect()
      .map(r => r._1 -> ((r._2, r._3, r._4))).toMap
    // anchors of doc 1: abc bcd (corpus) + cdx dxy (fresh, first here)
    assert(got(1L) == (("x y", 6L, 4L)))
    assert(got(2L) == (("m n o v w z", 6L, 0L)))
    assert(got(3L) == (("", 6L, 6L)))
    assert(got(4L) == (("", 6L, 6L)))
    // the corpus itself is never rewritten — only incoming docs return
    assert(got.keySet == Set(1L, 2L, 3L, 4L))
  }

  test("incrementalDedupReport flags exact and near incoming dups, exact taking precedence") {
    val corpus = Seq(
      (10L, "the quick brown fox jumps over the lazy dog"),
      (12L, "some existing corpus content about engines")).toDF("doc_id", "text")
    val incoming = Seq(
      (21L, "the quick brown fox jumps over the lazy dog"), // exact
      (23L, "the quick brown fox jumps over the lazy cat"), // near
      (25L, "entirely fresh material nothing like the rest at all")) // clean
      .toDF("doc_id", "text")
    val rep = Dedup.incrementalDedupReport(incoming, corpus, "doc_id", "text",
        threshold = 0.5)
      .as[(Long, String)].collect().toMap
    assert(rep == Map(21L -> "exact", 23L -> "near"))
    // no within-batch pairs: two identical incoming docs with no corpus
    // match are NOT flagged (incremental scope only)
    val twin = Seq((31L, "twin text alpha beta gamma delta"),
      (32L, "twin text alpha beta gamma delta")).toDF("doc_id", "text")
    assert(Dedup.incrementalDedupReport(twin, corpus, "doc_id", "text",
      threshold = 0.5).isEmpty)
  }
}
