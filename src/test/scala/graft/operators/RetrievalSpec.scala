package graft.operators

import graft.SparkSpec
import graft.plans.PlanWalk
import org.apache.spark.sql.functions._

class RetrievalSpec extends SparkSpec {
  import spark.implicits._

  private def corpus = Seq(
    (1L, "spark shuffles data across the cluster"),
    (2L, "spark spark spark tiny doc"),
    (3L, "a long document about nothing in particular that keeps going on and on"),
    (4L, "cluster data layout and shuffles"),
    (5L, "completely unrelated text")
  ).toDF("doc_id", "text")

  /** Single-node BM25 reference (independent code path). */
  private def bm25Reference(qterms: Seq[String], k1: Double = 1.2,
      b: Double = 0.75): Map[Long, Double] = {
    val docs = Seq(
      1L -> "spark shuffles data across the cluster",
      2L -> "spark spark spark tiny doc",
      3L -> "a long document about nothing in particular that keeps going on and on",
      4L -> "cluster data layout and shuffles",
      5L -> "completely unrelated text"
    ).map { case (id, t) => id -> t.split("\\s+").toSeq }
    val n = docs.size.toDouble
    val avg = docs.map(_._2.size).sum.toDouble / n
    docs.map { case (id, toks) =>
      val len = toks.size.toDouble
      val score = qterms.distinct.map { t =>
        val tf = toks.count(_ == t).toDouble
        if (tf == 0) 0.0
        else {
          val df = docs.count(_._2.contains(t)).toDouble
          val idf = math.log((n - df + 0.5) / (df + 0.5) + 1.0)
          idf * (tf * (k1 + 1.0)) / (tf + k1 * (1.0 - b + b * (len / avg)))
        }
      }.sum
      id -> score
    }.toMap.filter(_._2 > 0)
  }

  test("searchBm25 matches a single-node BM25 reference") {
    val idx = Retrieval.buildIndex(corpus, "doc_id", "text")
    val qs = Seq((1L, "spark cluster")).toDF("query_id", "qtext")
    val got = Retrieval.searchBm25(idx, qs, k = 10)
      .select($"doc_id", $"score").as[(Long, Double)].collect().toMap
    val want = bm25Reference(Seq("spark", "cluster"))
    assert(got.keySet == want.keySet)
    got.foreach { case (id, s) =>
      assert(math.abs(s - want(id)) < 1e-6, s"doc $id: $s vs ${want(id)}")
    }
    // ranking follows the score order
    val ranked = Retrieval.searchBm25(idx, qs, k = 10)
      .orderBy($"rk").select($"doc_id").as[Long].collect()
    assert(ranked.toSeq ==
      want.toSeq.sortBy { case (id, s) => (-s, id) }.map(_._1))
  }

  test("short high-tf doc outranks long doc for its term; k truncates") {
    val idx = Retrieval.buildIndex(corpus, "doc_id", "text")
    val qs = Seq((1L, "spark")).toDF("query_id", "qtext")
    val top = Retrieval.searchBm25(idx, qs, k = 1)
      .select($"doc_id").as[Long].collect()
    assert(top.toSeq == Seq(2L)) // tf=3 in a 5-token doc
  }

  test("multi-query batch scores independently; unmatched docs absent") {
    val idx = Retrieval.buildIndex(corpus, "doc_id", "text")
    val qs = Seq((1L, "spark"), (2L, "unrelated")).toDF("query_id", "qtext")
    val out = Retrieval.searchBm25(idx, qs, k = 10)
      .select($"query_id", $"doc_id").as[(Long, Long)].collect().toSet
    assert(out.filter(_._1 == 2L).map(_._2) == Set(5L))
    assert(!out.contains((1L, 5L)) && !out.contains((1L, 3L)))
  }

  test("rrfFuse: exact micro-unit scores, overlap wins, ties by doc_id") {
    // arm A ranks docs 10,11,12; arm B ranks 11,13 — doc 11 is the only
    // overlap and must fuse to the top despite rank 2 in both arms
    val armA = Seq((1L, 10L, 1), (1L, 11L, 2), (1L, 12L, 3))
      .toDF("query_id", "doc_id", "rk")
    val armB = Seq((1L, 11L, 2), (1L, 13L, 1)).toDF("query_id", "doc_id", "rk")
    val out = Retrieval.rrfFuse(Seq(armA, armB), k = 10)
      .orderBy($"rk").as[(Long, Long, Int, Long)].collect().toSeq
    def u(rk: Long) = 1000000000000L / (60L + rk)
    assert(out == Seq(
      (1L, 11L, 1, 2 * u(2)),         // both arms
      (1L, 10L, 2, u(1)),             // tie at u(1) with 13 -> doc_id order
      (1L, 13L, 3, u(1)),
      (1L, 12L, 4, u(3))))
  }

  test("rrfFuse: k truncates per query; single arm degenerates to the arm") {
    val arm = Seq((1L, 10L, 1), (1L, 11L, 2), (1L, 12L, 3),
      (2L, 20L, 1)).toDF("query_id", "doc_id", "rk")
    val out = Retrieval.rrfFuse(Seq(arm), k = 2)
      .select($"query_id", $"doc_id", $"rk").as[(Long, Long, Int)]
      .collect().toSet
    assert(out == Set((1L, 10L, 1), (1L, 11L, 2), (2L, 20L, 1)))
  }

  test("evalMetrics: recall/MRR/nDCG match hand computation; zero-hit query") {
    val results = Seq((1L, 10L, 1), (1L, 11L, 2), (1L, 12L, 3),
      (2L, 99L, 1)).toDF("query_id", "doc_id", "rk")
    val qrels = Seq((1L, 10L), (1L, 12L), (1L, 13L), (2L, 20L))
      .toDF("query_id", "doc_id")
    val got = Retrieval.evalMetrics(results, qrels, k = 3)
      .as[(Long, Long, Long, Double, Long, Double)].collect()
      .map(r => r._1 -> r).toMap
    val (_, tot1, found1, rec1, rr1, ndcg1) = got(1L)
    assert(tot1 == 3 && found1 == 2)
    assert(math.abs(rec1 - 2.0 / 3.0) < 1e-12)
    assert(rr1 == 1000000000000L) // first relevant at rank 1
    // dcg = 1/log2(2) + 1/log2(4) = 1.5; idcg = 1 + 1/log2(3) + 0.5
    val idcg = 1.0 + math.log(2) / math.log(3) + 0.5
    assert(math.abs(ndcg1 - 1.5 / idcg) < 1e-6, s"ndcg $ndcg1")
    val (_, tot2, found2, rec2, rr2, ndcg2) = got(2L)
    assert(tot2 == 1 && found2 == 0 && rec2 == 0.0 && rr2 == 0L && ndcg2 == 0.0)
    // duplicated qrels lines must not inflate tot_rel or fan out hits
    val dupped = qrels.unionAll(qrels)
    val again = Retrieval.evalMetrics(results, dupped, k = 3)
      .as[(Long, Long, Long, Double, Long, Double)].collect()
      .map(r => r._1 -> r).toMap
    assert(again == got)
  }

  test("stored index: search equals in-memory and physically prunes term buckets") {
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val idx = Retrieval.buildIndex(docs, "doc_id", "text")
    val path = java.nio.file.Files.createTempDirectory("bm25_idx").toString
    val nBuckets = 16
    Retrieval.writeIndex(idx, path, nBuckets)
    val qs = Seq((1L, "table scan"), (2L, "window agg")).toDF("query_id", "qtext")
    val mem = Retrieval.searchBm25(idx, qs, k = 5)
      .select($"query_id", $"doc_id", $"rk").as[(Long, Long, Int)]
      .collect().toSet
    val stored = Retrieval.searchBm25Stored(spark, path, qs, k = 5, nBuckets)
    val storedSet = stored.select($"query_id", $"doc_id", $"rk")
      .as[(Long, Long, Int)].collect().toSet
    assert(storedSet == mem, "stored search must equal in-memory search")

    // plan gate: the postings scan must carry a tb partition filter and
    // list fewer files than the full index — remove searchBm25Stored's
    // isin filter and this fails with a full-postings scan
    val scans = PlanWalk.walk(PlanWalk.finalPlan(stored))
      .collect {
        case f: org.apache.spark.sql.execution.FileSourceScanExec
            if f.relation.location.rootPaths.exists(_.toString.contains("postings")) => f
      }
    assert(scans.nonEmpty, "no postings scan in stored-search plan")
    val scan = scans.head
    assert(scan.partitionFilters.exists(_.references.exists(_.name == "tb")),
      s"tb filter not a partition filter: ${scan.partitionFilters}")
    def files(f: org.apache.spark.sql.execution.FileSourceScanExec) =
      f.relation.location.listFiles(f.partitionFilters, f.dataFilters)
        .map(_.files.size).sum
    val fullScan = PlanWalk.walk(PlanWalk.finalPlan(
        spark.read.parquet(s"$path/postings"))).collectFirst {
      case f: org.apache.spark.sql.execution.FileSourceScanExec => f
    }.get
    assert(files(scan) < files(fullScan),
      s"tb partition filter did not prune: ${files(scan)} vs ${files(fullScan)}")
  }

  test("hardNegatives slices below the presumed-positive head by rank") {
    val docs = Seq((1L, "apple apple apple"), (2L, "apple apple"),
      (3L, "apple"), (4L, "banana")).toDF("doc_id", "text")
    val idx = Retrieval.buildIndex(docs, "doc_id", "text")
    val qs = Seq((7L, "apple")).toDF("query_id", "qtext")
    val got = Retrieval.hardNegatives(idx, qs, kPos = 1, kNeg = 2)
      .select($"query_id", $"doc_id", $"rk")
      .as[(Long, Long, Long)].collect().sortBy(_._3).toList
    // BM25 ranks 1,2,3 by tf; rank 1 is the presumed positive.
    assert(got == List((7L, 2L, 2L), (7L, 3L, 3L)))
  }

  test("hardNegatives anti-joins explicit positives and keeps retrieval order") {
    val docs = Seq((1L, "apple apple apple"), (2L, "apple apple"),
      (3L, "apple"), (4L, "banana")).toDF("doc_id", "text")
    val idx = Retrieval.buildIndex(docs, "doc_id", "text")
    val qs = Seq((7L, "apple")).toDF("query_id", "qtext")
    val pos = Seq((7L, 2L)).toDF("query_id", "doc_id")
    val got = Retrieval.hardNegatives(idx, qs, kPos = 1, kNeg = 2,
      positives = Some(pos))
      .select($"doc_id", $"rk").as[(Long, Long)].collect().sortBy(_._2).toList
    // top-3 minus labeled doc 2 -> docs 1 (rk 1) and 3 (rk 3), original ranks.
    assert(got == List((1L, 1L), (3L, 3L)))
  }

}
