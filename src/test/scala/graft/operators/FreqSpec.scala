package graft.operators

import graft.SparkSpec
import org.apache.spark.sql.functions._

import scala.util.Random

class FreqSpec extends SparkSpec {
  import spark.implicits._

  /** Skewed synthetic stream: a few heavy items + a long uniform tail,
    * shuffled deterministically. Distinct count far exceeds any capacity
    * used below, so the decrement path runs for real.
    */
  private def skewed(seed: Int, n: Int): Seq[String] = {
    val rnd = new Random(seed)
    val heavy = Seq.fill(n / 4)("h1") ++ Seq.fill(n / 8)("h2") ++
      Seq.fill(n / 16)("h3")
    val tail = Seq.fill(n - heavy.size)(s"t${rnd.nextInt(n)}")
    rnd.shuffle(heavy ++ tail)
  }

  private def exactCounts(xs: Seq[String]): Map[String, Long] =
    xs.groupBy(identity).map { case (k, v) => k -> v.size.toLong }

  test("mgPartitionByGroupCounted over one group: MG laws hold") {
    for (seed <- 1 to 5) {
      val xs = skewed(seed, 4000)
      val cap = 32
      val est = Freq.mgPartitionByGroupCounted(cap, 1)(xs.iterator.map(("", _)))
        .collect { case (_, k, v, _) if k != null => k -> v }.toMap
      val exact = exactCounts(xs)
      val bound = xs.size.toLong / (cap + 1)
      assert(est.size <= cap)
      est.foreach { case (k, e) =>
        assert(e <= exact(k), s"overcount for $k")
        assert(exact(k) - e <= bound, s"error beyond N/(cap+1) for $k")
      }
      exact.filter(_._2 > bound).keys.foreach { k =>
        assert(est.contains(k), s"heavy item $k lost (seed=$seed)")
      }
    }
  }

  test("mgCandidates: distributed summary keeps the per-item guarantee") {
    val xs = skewed(7, 8000)
    val cap = 64
    val df = spark.createDataset(xs).toDF("item").repartition(8)
    val got = Freq.mgCandidates(df, "item", cap)
      .as[(String, Long)].collect().toMap
    val exact = exactCounts(xs)
    val bound = xs.size.toLong / (cap + 1)
    got.foreach { case (k, e) => assert(e <= exact(k)) }
    exact.filter(_._2 > bound).keys.foreach { k =>
      assert(got.contains(k), s"heavy item $k lost across partitions")
      assert(exact(k) - got(k) <= bound, s"summed undercount beyond bound for $k")
    }
  }

  test("exactTopK equals brute force when the k-th count clears the bound") {
    for (seed <- 11 to 13) {
      val xs = skewed(seed, 6000)
      val df = spark.createDataset(xs).toDF("item").repartition(8)
      val k = 3 // h1/h2/h3 all clear N/(cap+1) by construction
      val got = Freq.exactTopK(df, "item", k, capacity = 32)
        .as[(String, Long)].collect().toSeq
      val want = exactCounts(xs).toSeq
        .sortBy { case (item, cnt) => (-cnt, item) }.take(k)
      assert(got == want, s"seed=$seed")
    }
  }

  test("exactTopK keeps the original column type and breaks ties on item asc") {
    val df = Seq(5L, 5L, 3L, 3L, 9L, 9L, 1L).toDF("key")
    val got = Freq.exactTopK(df, "key", k = 2, capacity = 16)
      .as[(Long, Long)].collect().toSeq
    // 5, 3 and 9 all have count 2 — tie-break takes keys 3 then 5
    assert(got == Seq((3L, 2L), (5L, 2L)))
  }

  test("mergeMg: re-bounded state, cumulative error, heavy survival") {
    val xs = skewed(21, 5000)
    val ys = skewed(22, 5000)
    val cap = 32
    val da = spark.createDataset(xs).toDF("item").repartition(4)
    val db = spark.createDataset(ys).toDF("item").repartition(4)
    def sk(df: org.apache.spark.sql.DataFrame) =
      Map("" -> Freq.mgCandidates(df, "item", cap).as[(String, Long)].collect().toMap)
    val merged = Freq.mergeMg(sk(da), sk(db), cap)("")
    val exact = exactCounts(xs ++ ys)
    val bound = (xs.size + ys.size).toLong / (cap + 1)
    assert(merged.size <= cap)
    merged.foreach { case (k, e) =>
      assert(e <= exact(k), s"overcount for $k after merge")
      assert(exact(k) - e <= bound, s"merge error beyond bound for $k")
    }
    exact.filter(_._2 > bound).keys.foreach { k =>
      assert(merged.contains(k), s"heavy item $k lost in merge")
    }
  }

  test("mgCandidates ignores NULL items") {
    val df = Seq(Some("a"), None, Some("a"), Some("b"), None)
      .toDF("item")
    val got = Freq.mgCandidates(df, "item", 8)
      .as[(String, Long)].collect().toMap
    assert(got == Map("a" -> 2L, "b" -> 1L))
  }

  test("mgCandidatesByGroup keeps the guarantee independently per group") {
    // group A is large and skewed, group B small and uniform — B's bound
    // must come from ITS OWN size, not the partition's total
    val a = skewed(31, 6000).map(("A", _))
    val rndB = new Random(32)
    val b = Seq.fill(300)(("B", s"b${rndB.nextInt(40)}"))
    val df = spark.createDataset(rndB.shuffle(a ++ b)).toDF("g", "item")
      .repartition(6)
    val cap = 32
    val got = Freq.mgCandidatesByGroup(df, "g", "item", cap)
      .as[(String, String, Long)].collect()
      .groupBy(_._1).map { case (g, rows) =>
        g -> rows.map(r => r._2 -> r._3).toMap
      }
    val exactA = exactCounts(a.map(_._2))
    val exactB = exactCounts(b.map(_._2))
    val boundA = a.size.toLong / (cap + 1)
    val boundB = b.size.toLong / (cap + 1)
    got("A").foreach { case (k, e) => assert(e <= exactA(k)) }
    exactA.filter(_._2 > boundA).keys.foreach { k =>
      assert(got("A").contains(k) && exactA(k) - got("A")(k) <= boundA)
    }
    exactB.filter(_._2 > boundB).keys.foreach { k =>
      assert(got("B").contains(k) && exactB(k) - got("B")(k) <= boundB)
    }
  }

  test("exactTopK certificate fires loudly on an undersized capacity") {
    // 64 uniform items, capacity 4 → decrement rounds run and no count
    // can clear N/5: the old behavior silently returned a near-top-k,
    // the certificate must refuse instead
    val rnd = new Random(77)
    val xs = rnd.shuffle((1 to 64).flatMap(i => Seq.fill(10)(s"u$i")))
    val df = spark.createDataset(xs).toDF("item").repartition(4)
    val e = intercept[Exception] {
      Freq.exactTopK(df, "item", k = 3, capacity = 4).collect()
    }
    assert(e.getMessage.contains("UNCERTIFIED"), e.getMessage)
    // same data certifies once capacity covers the vocabulary (dec==0)
    val ok = Freq.exactTopK(df, "item", k = 3, capacity = 128)
      .as[(String, Long)].collect()
    assert(ok.length == 3 && ok.forall(_._2 == 10L))
  }

  test("exactTopKPerGroup certificate fires per group, names the group") {
    // group A is certifiable even at capacity 4 (three items at 30% of
    // N_A each, all clear N_A/5), group B is uniform — the failure
    // message must point at B
    val a = (Seq.fill(900)("h1") ++ Seq.fill(900)("h2") ++
      Seq.fill(900)("h3") ++ (1 to 300).map(i => s"t$i")).map(("A", _))
    val rnd = new Random(79)
    val b = rnd.shuffle((1 to 64).flatMap(i => Seq.fill(10)(s"u$i")))
      .map(("B", _))
    val df = spark.createDataset(rnd.shuffle(a ++ b)).toDF("g", "item")
      .repartition(4)
    val e = intercept[Exception] {
      Freq.exactTopKPerGroup(df, "g", "item", k = 3, capacity = 4).collect()
    }
    assert(e.getMessage.contains("UNCERTIFIED"), e.getMessage)
    assert(e.getMessage.contains("'B'"), e.getMessage)
  }

  test("certificate soundness: whenever exactTopK RETURNS, it equals brute force") {
    // the theorem the in-plan certificate encodes: returning (not
    // throwing UNCERTIFIED) implies the result is the exact top-k —
    // across random data shapes, skews and capacities, including
    // capacities far too small, where it must throw rather than be wrong
    val k = 4
    for (seed <- 1 to 10; cap <- Seq(2, 8, 64)) {
      val rnd = new Random(seed)
      val nHeavy = 1 + rnd.nextInt(6)
      val xs = rnd.shuffle(
        (1 to nHeavy).flatMap(i => Seq.fill(50 + rnd.nextInt(400))(s"h$i")) ++
          Seq.fill(500 + rnd.nextInt(1000))(s"t${rnd.nextInt(300)}"))
      val df = spark.createDataset(xs).toDF("item")
        .repartition(1 + rnd.nextInt(6))
      val want = exactCounts(xs).toSeq
        .sortBy { case (item, cnt) => (-cnt, item) }.take(k)
      try {
        val got = Freq.exactTopK(df, "item", k, cap)
          .as[(String, Long)].collect().toSeq
        assert(got == want,
          s"seed=$seed cap=$cap: RETURNED but wrong: $got vs $want")
      } catch {
        case e: Exception if e.getMessage != null &&
            e.getMessage.contains("UNCERTIFIED") => () // refusing is sound
      }
    }
  }

  test("certificate soundness per group: returning groups are exactly right") {
    val k = 3
    for (seed <- 21 to 26; cap <- Seq(2, 16)) {
      val rnd = new Random(seed)
      val rows = rnd.shuffle(
        (1 to 3).flatMap { g =>
          val heavy = (1 to 2).flatMap(i =>
            Seq.fill(30 + rnd.nextInt(300))((s"g$g", s"h$i")))
          val tail = Seq.fill(200 + rnd.nextInt(400))(
            (s"g$g", s"t${rnd.nextInt(150)}"))
          heavy ++ tail
        })
      val df = spark.createDataset(rows).toDF("g", "item")
        .repartition(1 + rnd.nextInt(4))
      val want = rows.groupBy(_._1).flatMap { case (g, rs) =>
        exactCounts(rs.map(_._2)).toSeq
          .sortBy { case (item, cnt) => (-cnt, item) }.take(k)
          .map { case (item, cnt) => (g, item, cnt) }
      }.toSet
      try {
        val got = Freq.exactTopKPerGroup(df, "g", "item", k, cap)
          .as[(String, String, Long)].collect().toSet
        assert(got == want,
          s"seed=$seed cap=$cap: RETURNED but wrong: $got vs $want")
      } catch {
        case e: Exception if e.getMessage != null &&
            e.getMessage.contains("UNCERTIFIED") => ()
      }
    }
  }

  test("a candidate set decremented entirely EMPTY fails loudly, not silently-empty") {
    // capacity 1 over strict a/b alternation: every insert of `a` is
    // destroyed by the arriving `b` (and vice versa), so the partition
    // summary ends EMPTY while N=200 rows were seen — the old shape had
    // no result row to carry the certificate and "succeeded" with an
    // empty top-k; the stats-side carrier must refuse instead
    val xs = Seq.fill(100)(Seq("a", "b")).flatten
    val df = spark.createDataset(xs).toDF("item").repartition(1)
    val e = intercept[Exception] {
      Freq.exactTopK(df, "item", k = 1, capacity = 1).collect()
    }
    assert(e.getMessage.contains("UNCERTIFIED"), e.getMessage)
    assert(e.getMessage.contains("0 result rows"), e.getMessage)
  }

  test("a group decremented entirely empty fails loudly and names itself") {
    // group G: the emptying alternation; group H: one hot item, zero
    // decrements — H alone would certify, so the failure must be G's
    val rows = Seq.fill(100)(Seq(("G", "a"), ("G", "b"))).flatten ++
      Seq.fill(50)(("H", "x"))
    val df = spark.createDataset(rows).toDF("g", "item").repartition(1)
    val e = intercept[Exception] {
      Freq.exactTopKPerGroup(df, "g", "item", k = 1, capacity = 1).collect()
    }
    assert(e.getMessage.contains("UNCERTIFIED"), e.getMessage)
    assert(e.getMessage.contains("'G'"), e.getMessage)
  }

  test("mgCandidatesByGroup fails fast past maxGroupsPerPartition") {
    val df = (1 to 50).map(i => (s"g$i", "x")).toDF("g", "item")
      .repartition(1)
    val e = intercept[Exception] {
      Freq.mgCandidatesByGroup(df, "g", "item", capacity = 8,
        maxGroupsPerPartition = 10).collect()
    }
    assert(e.getMessage.contains("distinct groups"), e.getMessage)
    // and the same shape passes when the cap is honest
    val ok = Freq.mgCandidatesByGroup(df, "g", "item", capacity = 8,
      maxGroupsPerPartition = 64).count()
    assert(ok == 50L)
  }

  test("group-hitter store maintenance forwards maxGroupsPerPartition") {
    // the guard's documented remedy ("raise maxGroupsPerPartition")
    // must be reachable from the store-maintenance API, not only from
    // mgCandidatesByGroup directly
    val df = (1 to 50).map(i => (s"g$i", "x")).toDF("g", "item")
      .repartition(1)
    val base = java.nio.file.Files.createTempDirectory("mg_plumb").toString
    val e = intercept[Exception] {
      Freq.mergeBatchIntoGroupHitterStore(df, "g", "item", capacity = 8,
        storePath = s"$base/s1", maxGroupsPerPartition = 10)
    }
    assert(e.getMessage.contains("distinct groups"), e.getMessage)
    Freq.mergeBatchIntoGroupHitterStore(df, "g", "item", capacity = 8,
      storePath = s"$base/s2", maxGroupsPerPartition = 64)
    assert(spark.read.parquet(s"$base/s2")
      .filter($"item".isNotNull).count() == 50L)
  }

  test("requireExactRegime: exact store passes, decremented store fails loudly") {
    val base = java.nio.file.Files.createTempDirectory("mg_exact").toString
    // exact regime: per-group vocab <= capacity across a two-batch fold
    // — mass (sum est) equals each group's n_total through the disk
    // round-trip, so the store-derived precondition holds
    val ok1 = Seq(("A", "x"), ("A", "x"), ("A", "y"), ("B", "p"))
      .toDF("g", "item")
    val ok2 = Seq(("A", "z"), ("B", "q"), ("B", "p")).toDF("g", "item")
    Freq.mergeBatchIntoGroupHitterStore(ok1, "g", "item", capacity = 4,
      storePath = s"$base/ok")
    Freq.mergeBatchIntoGroupHitterStore(ok2, "g", "item", capacity = 4,
      storePath = s"$base/ok")
    Freq.requireExactRegime(spark.read.parquet(s"$base/ok"), 4) // no throw
    // broken regime: one group's vocabulary (10) exceeds the capacity
    // (2), so a task-side Misra-Gries decrement MUST fire — and the
    // store's own mass invariant catches it without re-scanning the
    // data (the q207 read-gate failure path)
    val bad = (1 to 10).map(i => ("A", s"t$i")).toDF("g", "item")
      .repartition(1)
    Freq.mergeBatchIntoGroupHitterStore(bad, "g", "item", capacity = 2,
      storePath = s"$base/bad")
    val e = intercept[Exception] {
      Freq.requireExactRegime(spark.read.parquet(s"$base/bad"), 2)
    }
    assert(e.getMessage.contains("exactness precondition broken"),
      e.getMessage)
  }

  test("exactTopKPerGroup equals brute force per group") {
    val rows = skewed(41, 4000).map(("A", _)) ++
      skewed(42, 4000).map(("B", _)) ++ Seq(("C", "only"), ("C", "only"))
    val rnd = new Random(43)
    val df = spark.createDataset(rnd.shuffle(rows)).toDF("g", "item")
      .repartition(8)
    val got = Freq.exactTopKPerGroup(df, "g", "item", k = 3, capacity = 32)
      .as[(String, String, Long)].collect().toSet
    val want = rows.groupBy(_._1).flatMap { case (g, rs) =>
      exactCounts(rs.map(_._2)).toSeq
        .sortBy { case (item, cnt) => (-cnt, item) }.take(3)
        .map { case (item, cnt) => (g, item, cnt) }
    }.toSet
    assert(got == want)
  }

  test("streaming hitter maintenance: store keeps the MG law; replayed batch is a no-op") {
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val base = java.nio.file.Files.createTempDirectory("mg_stream").toString
    val store = s"$base/store"; val ledger = s"$base/ledger"
    val cap = 32
    val ms = org.apache.spark.sql.execution.streaming.runtime
      .MemoryStream[String]
    val q = Freq.maintainTopHitters(ms.toDF().toDF("item"), "item", cap,
        store, ledger)
      .option("checkpointLocation", s"$base/ckpt").start()
    val b1 = skewed(51, 3000)
    val b2 = skewed(52, 3000)
    try {
      ms.addData(b1); q.processAllAvailable()
      ms.addData(b2); q.processAllAvailable()
      val rows = spark.read.parquet(store)
        .select($"item", $"est", $"n_total")
        .as[(String, Long, Long)].collect()
      val exact = exactCounts(b1 ++ b2)
      val n = rows.head._3
      assert(n == (b1.size + b2.size).toLong, "n_total tracks the stream")
      val bound = n / (cap + 1)
      assert(rows.length <= cap)
      rows.foreach { case (k, e, _) =>
        assert(e <= exact(k), s"overcount for $k in the store")
        assert(exact(k) - e <= bound, s"store error beyond bound for $k")
      }
      exact.filter(_._2 > bound).keys.foreach { k =>
        assert(rows.exists(_._1 == k), s"heavy item $k lost by the store")
      }
      // MG counters ADD on merge — replaying a committed batch must be
      // absorbed by the ledger, not double the store
      graft.io.Sinks.runIdempotent(b1.toDF("item"), 0L, ledger) { (b, _) =>
        Freq.mergeBatchIntoHitterStore(b, "item", cap, store)
      }
      val after = spark.read.parquet(store)
        .select($"item", $"est", $"n_total")
        .as[(String, Long, Long)].collect().toSet
      assert(after == rows.toSet, "replayed batch must be a no-op")
    } finally q.stop()
  }

  test("mergeMg re-bounds each group by its OWN (cap+1)-th counter") {
    val xs = skewed(61, 4000).map(("A", _))
    val ys = skewed(62, 4000).map(("A", _))
    val small = Seq.fill(60)(("B", "hot")) ++ (1 to 50).map(i => ("B", s"b$i"))
    val cap = 16
    def sk(rows: Seq[(String, String)]) = Freq.mgCandidatesByGroup(
      spark.createDataset(rows).toDF("g", "item").repartition(4),
      "g", "item", cap)
      .as[(String, String, Long)].collect()
      .groupBy(_._1).map { case (g, rs) =>
        g -> rs.map(r => r._2 -> r._3).toMap }
    val merged = Freq.mergeMg(sk(xs ++ small), sk(ys), cap)
    val exactA = exactCounts((xs ++ ys).map(_._2))
    val boundA = (xs.size + ys.size).toLong / (cap + 1)
    assert(merged("A").size <= cap)
    merged("A").foreach { case (k, e) =>
      assert(e <= exactA(k) && exactA(k) - e <= boundA)
    }
    exactA.filter(_._2 > boundA).keys.foreach { k =>
      assert(merged("A").contains(k), s"heavy $k lost in group A")
    }
    // B only appeared on one side: its bound is ITS OWN 110 rows, not
    // the 8000-row A traffic — "hot" (60/110) must survive with error
    // bounded by 110/(cap+1), which group-blind re-bounding would break
    val exactB = exactCounts(small.map(_._2))
    val boundB = small.size.toLong / (cap + 1)
    assert(merged("B").contains("hot"))
    assert(exactB("hot") - merged("B")("hot") <= boundB)
  }

  test("streaming per-group hitter maintenance keeps per-group laws; replay is a no-op") {
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val base = java.nio.file.Files.createTempDirectory("mgg_stream").toString
    val store = s"$base/store"; val ledger = s"$base/ledger"
    val cap = 32
    val ms = org.apache.spark.sql.execution.streaming.runtime
      .MemoryStream[(String, String)]
    val q = Freq.maintainTopHittersByGroup(ms.toDF().toDF("g", "item"),
        "g", "item", cap, store, ledger)
      .option("checkpointLocation", s"$base/ckpt").start()
    val b1 = skewed(71, 2000).map(("A", _)) ++ skewed(72, 1500).map(("B", _))
    val b2 = skewed(73, 2000).map(("A", _))
    try {
      ms.addData(b1); q.processAllAvailable()
      ms.addData(b2); q.processAllAvailable()
      val rows = spark.read.parquet(store)
        .select($"group", $"item", $"est", $"n_total")
        .as[(String, String, Long, Long)].collect()
      // n_total is PER GROUP — each group certifies against its own
      // traffic, not the stream's
      val nA = (b1.count(_._1 == "A") + b2.size).toLong
      val nB = b1.count(_._1 == "B").toLong
      assert(rows.filter(_._1 == "A").forall(_._4 == nA))
      assert(rows.filter(_._1 == "B").forall(_._4 == nB))
      val byG = rows.groupBy(_._1)
        .map { case (g, rs) => g -> rs.map(r => r._2 -> r._3).toMap }
      val exactA = exactCounts((b1.filter(_._1 == "A") ++ b2).map(_._2))
      byG("A").foreach { case (k, e) =>
        assert(e <= exactA(k) && exactA(k) - e <= nA / (cap + 1))
      }
      exactA.filter(_._2 > nA / (cap + 1)).keys.foreach { k =>
        assert(byG("A").contains(k))
      }
      // certified read: per-group soundness against exact counts
      val exactB = exactCounts(b1.filter(_._1 == "B").map(_._2))
      Freq.guaranteedHittersByGroup(spark.read.parquet(store), cap)
        .select($"group", $"item").as[(String, String)].collect()
        .foreach { case (g, k) =>
          val (ex, n) = if (g == "A") (exactA, nA) else (exactB, nB)
          assert(ex(k) > n / (cap + 1), s"certified $g/$k not heavy")
        }
      graft.io.Sinks.runIdempotent(b1.toDF("g", "item"), 0L, ledger) {
        (b, _) => Freq.mergeBatchIntoGroupHitterStore(b, "g", "item", cap,
          store)
      }
      val after = spark.read.parquet(store)
        .select($"group", $"item", $"est", $"n_total")
        .as[(String, String, Long, Long)].collect().toSet
      assert(after == rows.toSet, "replayed batch must be a no-op")
    } finally q.stop()
  }

  test("guaranteedHitters certifies only items provably above the bound") {
    val base = java.nio.file.Files.createTempDirectory("mg_cert").toString
    val store = s"$base/store"
    val cap = 32
    val xs = skewed(81, 5000)
    Freq.mergeBatchIntoHitterStore(
      spark.createDataset(xs).toDF("item").repartition(4), "item", cap, store)
    val cert = Freq.guaranteedHitters(spark.read.parquet(store), cap)
      .select($"item", $"est").as[(String, Long)].collect().toMap
    val exact = exactCounts(xs)
    val bound = xs.size.toLong / (cap + 1)
    // soundness: every certified item's TRUE count clears the bound
    cert.keys.foreach { k =>
      assert(exact(k) > bound, s"certified $k is not actually heavy")
    }
    // usefulness: the constructed heavies certify (their est stays far
    // above the bound: true - est <= bound and true >= 2*bound+est slack)
    assert(cert.contains("h1") && cert.contains("h2"))
  }

  test("hitter store survives an adversarially emptied summary without losing n_total") {
    val base = java.nio.file.Files.createTempDirectory("mg_empty").toString
    val store = s"$base/store"
    // capacity 1 over strict a/b alternation: every insert of `a` is
    // cancelled by the following `b` (decrement-all) — the partition
    // summary ends EMPTY although 10 rows were summarized
    val b1 = (1 to 5).flatMap(_ => Seq("a", "b")).toDF("item").repartition(1)
    Freq.mergeBatchIntoHitterStore(b1, "item", capacity = 1, store)
    val s1 = spark.read.parquet(store)
      .select($"item", $"est", $"n_total")
      .as[(Option[String], Long, Long)].collect().toSeq
    assert(s1 == Seq((None, 0L, 10L)), s"marker row must carry n_total: $s1")
    // the next batch merges cleanly past the marker and keeps the bound
    val b2 = Seq.fill(5)("c").toDF("item")
    Freq.mergeBatchIntoHitterStore(b2, "item", capacity = 1, store)
    val s2 = spark.read.parquet(store)
      .select($"item", $"est", $"n_total")
      .as[(Option[String], Long, Long)].collect().toSeq
    assert(s2 == Seq((Some("c"), 5L, 15L)))
  }

  test("a merge into an existing hitter store infers no schema with a Spark job") {
    val store = s"${java.nio.file.Files.createTempDirectory("mg_jobs")}/store"
    val batch = spark.createDataset(skewed(83, 2000)).toDF("item").repartition(4)
    Freq.mergeBatchIntoHitterStore(batch, "item", 16, store)
    assert(jobsRunBy(Checkpoints.readStore(spark, store)) == 0)
    val second = jobsRunBy(Freq.mergeBatchIntoHitterStore(batch, "item", 16, store))
    // 13 jobs while readStore inferred the store's schema with
    // spark.read.parquet, one of them that inference; 12 while the merge
    // ran as a Spark plan
    info(s"second merge: $second Spark jobs (12 with the merge as a Spark plan)")
    assert(second <= 4)
  }

  test("a second merge into a group hitter store runs a bounded job count") {
    val store = s"${java.nio.file.Files.createTempDirectory("mgg_jobs")}/store"
    val rows = skewed(84, 2000).zipWithIndex.map { case (x, i) => (s"g${i % 3}", x) }
    val batch = spark.createDataset(rows).toDF("g", "item").repartition(4)
    Freq.mergeBatchIntoGroupHitterStore(batch, "g", "item", 16, store)
    val second = jobsRunBy(
      Freq.mergeBatchIntoGroupHitterStore(batch, "g", "item", 16, store))
    info(s"second grouped merge: $second Spark jobs (12 with the merge as a Spark plan)")
    assert(second <= 4)
  }

  test("exactTopK on real data matches the vocabulary-shuffle form") {
    val li = spark.read.parquet("/root/testdata/sf0.001/lineitem.parquet")
    val got = Freq.exactTopK(li, "l_partkey", k = 10, capacity = 4096)
      .as[(Long, Long)].collect().toSeq
    val want = li.groupBy($"l_partkey").agg(count(lit(1)).as("cnt"))
      .orderBy($"cnt".desc, $"l_partkey").limit(10)
      .as[(Long, Long)].collect().toSeq
    assert(got == want)
  }
}
