package graft.operators

import graft.SparkSpec
import graft.plans.PlanWalk
import org.apache.spark.sql.functions._

class RelationalSpec extends SparkSpec {
  import spark.implicits._

  test("asOfJoin picks the latest right row at-or-before each left row") {
    val trades = Seq( // (sym, trade_id, t)
      ("A", 1L, 10L), ("A", 2L, 25L), ("A", 3L, 30L), ("B", 4L, 10L)
    ).toDF("sym", "trade_id", "t")
    val quotes = Seq( // (sym, t, px)
      ("A", 5L, 1.0), ("A", 20L, 2.0), ("A", 30L, 3.0), ("B", 50L, 9.0)
    ).toDF("sym", "t", "px")
    val out = Relational.asOfJoin(trades, quotes, Seq("sym"), "t", "t")
      .select($"trade_id", $"asof.px".as("px"))
      .as[(Long, Option[Double])].collect().toMap
    assert(out(1L).contains(1.0)) // quote@5 <= trade@10
    assert(out(2L).contains(2.0)) // quote@20 <= trade@25
    assert(out(3L).contains(3.0)) // same-instant quote matches (<=)
    assert(out(4L).isEmpty)       // no quote at-or-before trade@10 for B
  }

  test("asOfJoin left rows without a match keep all left columns") {
    val l = Seq(("k", 1L, "keepme")).toDF("k", "t", "extra")
    val r = Seq(("k", 5L, 1.0)).toDF("k", "t", "v") // only AFTER the left row
    val out = Relational.asOfJoin(l, r, Seq("k"), "t", "t").collect()
    assert(out.length == 1 && out.head.getAs[String]("extra") == "keepme")
    assert(out.head.getAs[Any]("asof") == null)
  }

  test("asOfJoinForward picks the earliest right row at-or-after each left row") {
    val trades = Seq(
      ("A", 1L, 10L), ("A", 2L, 25L), ("A", 3L, 30L), ("A", 4L, 31L),
      ("B", 5L, 10L)
    ).toDF("sym", "trade_id", "t")
    val quotes = Seq(
      ("A", 5L, 1.0), ("A", 20L, 2.0), ("A", 30L, 3.0), ("B", 50L, 9.0)
    ).toDF("sym", "t", "px")
    val out = Relational.asOfJoinForward(trades, quotes, Seq("sym"), "t", "t")
      .select($"trade_id", $"asof.px".as("px"))
      .as[(Long, Option[Double])].collect().toMap
    assert(out(1L).contains(2.0)) // quote@20 is the next at-or-after t=10
    assert(out(2L).contains(3.0)) // quote@30 >= 25
    assert(out(3L).contains(3.0)) // same-instant quote matches (>=)
    assert(out(4L).isEmpty)       // nothing after t=31 for A
    assert(out(5L).contains(9.0)) // B's only quote is ahead
  }

  test("asOfJoinForward equal-ts right rows resolve to the first in tieBreak order") {
    val l = Seq(("k", 10L, 0L)).toDF("k", "t", "seq")
    val r = Seq(("k", 10L, 2L, "second"), ("k", 10L, 1L, "first"))
      .toDF("k", "t", "seq", "v")
    val got = Relational.asOfJoinForward(l, r, Seq("k"), "t", "t",
        tieBreak = Seq("seq"))
      .select($"asof.v").as[String].head()
    assert(got == "first")
  }

  test("rangeJoin equals the naive cross-filter and never plans a cartesian") {
    val left = Seq.tabulate(200)(i => (i.toLong, i.toLong * 7 % 500))
      .toDF("lid", "t")
    val right = Seq.tabulate(40)(j =>
      (j.toLong, (j * 13 % 400).toLong, (j * 13 % 400 + 25).toLong))
      .toDF("rid", "lo", "hi")
    val out = Relational.rangeJoin(left, right, "t", "lo", "hi",
      bucketWidth = 20)
    val got = out.select($"lid", $"r.rid").as[(Long, Long)].collect().toSet
    val naive = left.crossJoin(right)
      .filter($"t" >= $"lo" && $"t" <= $"hi")
      .select($"lid", $"rid").as[(Long, Long)].collect().toSet
    assert(got == naive, s"rangeJoin mismatch: ${got.size} vs ${naive.size}")
    assert(naive.nonEmpty)
    val p = PlanWalk.finalPlan(out).toString()
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoop"),
      s"range join planned a pair explosion:\n$p")
  }

  test("rangeJoin ignores inverted and null intervals like the cross-filter") {
    val left = Seq((1L, 50L)).toDF("lid", "t")
    val right = Seq(
      (1L, Some(40L), Some(60L)),  // matches
      (2L, Some(60L), Some(40L)),  // inverted: BETWEEN matches nothing
      (3L, None, Some(60L)),       // null lo
      (4L, Some(40L), None)        // null hi
    ).toDF("rid", "lo", "hi")
    val got = Relational.rangeJoin(left, right, "t", "lo", "hi", bucketWidth = 20)
      .select($"r.rid").as[Long].collect().toSeq
    assert(got == Seq(1L), s"expected only the valid interval: $got")
  }

  test("rangeJoin fails fast on an interval spanning too many buckets") {
    val left = Seq((1L, 5L)).toDF("lid", "t")
    val right = Seq((1L, 0L, 1000000L)).toDF("rid", "lo", "hi")
    val ex = intercept[Exception] {
      Relational.rangeJoin(left, right, "t", "lo", "hi", bucketWidth = 10,
        maxBucketsPerRow = 100).collect()
    }
    assert(ex.getMessage != null)
  }

  test("saltedAgg equals the unsalted aggregate (salt-invariance)") {
    val df = Seq.tabulate(1000)(i => (s"k${i % 3}", i.toLong))
      .toDF("k", "v")
    val salted = Relational.saltedAgg(df, Seq("k"), salts = 8, aggs = Seq(
        Relational.Salted("count", "*", "n"),
        Relational.Salted("sum", "v", "total"),
        Relational.Salted("min", "v", "lo"),
        Relational.Salted("max", "v", "hi")))
      .as[(String, Long, Long, Long, Long)].collect().toSet
    val plain = df.groupBy($"k").agg(count(lit(1)).as("n"), sum($"v").as("total"),
        min($"v").as("lo"), max($"v").as("hi"))
      .as[(String, Long, Long, Long, Long)].collect().toSet
    assert(salted == plain)
  }

  test("saltedAgg rejects non-decomposable ops") {
    intercept[IllegalArgumentException] {
      Relational.Salted("avg", "v", "a")
    }
  }

  test("saltedJoin equals the plain equi-join (multiset, incl. a hot key)") {
    // 900 of 1000 fact rows share one hot key — the skew case salting is for
    val fact = Seq.tabulate(1000)(i =>
      (if (i < 900) 7L else i.toLong % 5, i.toLong)).toDF("k", "v")
    val dim = Seq.tabulate(10)(i => (i.toLong, s"d$i")).toDF("k", "name")
    def sorted(df: org.apache.spark.sql.DataFrame) = df
      .select($"k", $"v", $"name").as[(Long, Long, String)]
      .collect().sorted.toSeq
    val salted = sorted(Relational.saltedJoin(fact, dim, Seq("k"), salts = 8))
    val plain = sorted(fact.join(dim, Seq("k")))
    assert(salted == plain)
    assert(plain.size == 1000) // every fact row found its dim partner
  }

  test("saltedJoin result carries no salt column and respects multi-key joins") {
    val fact = Seq((1L, "x", 10L), (1L, "y", 20L), (2L, "x", 30L))
      .toDF("k1", "k2", "v")
    val dim = Seq((1L, "x", "a"), (2L, "x", "b")).toDF("k1", "k2", "tag")
    val out = Relational.saltedJoin(fact, dim, Seq("k1", "k2"), salts = 4)
    assert(!out.columns.contains("__salt"))
    val got = out.select($"k1", $"k2", $"v", $"tag")
      .as[(Long, String, Long, String)].collect().toSet
    assert(got == Set((1L, "x", 10L, "a"), (2L, "x", 30L, "b")))
  }

  test("winsorizedStats clamps at exact percentile_disc-lower thresholds") {
    val df = (1L to 10L).map(i => ("s", i, i)).toDF("src", "len", "id")
    // p25/p75 over 1..10: lo rank floor(25*9/100)+1 = 3 -> 3,
    // hi rank floor(75*9/100)+1 = 7 -> 7; 1,2 clamp up, 8,9,10 clamp down.
    val got = Relational.winsorizedStats(df, "src", "len", "id", 25, 75)
      .select($"src", $"n", $"lo", $"hi", $"sum_raw", $"sum_winsorized",
        $"n_clamped")
      .as[(String, Long, Long, Long, Long, Long, Long)].collect().toList
    assert(got == List(("s", 10L, 3L, 7L, 55L, 52L, 5L)))
  }

  test("winsorizedStats handles per-group thresholds and single-row groups") {
    val df = ((1L to 10L).map(i => ("a", i, i)) :+ (("b", 42L, 1L)))
      .toDF("src", "len", "id")
    val got = Relational.winsorizedStats(df, "src", "len", "id", 10, 90)
      .select($"src", $"lo", $"hi", $"sum_winsorized", $"n_clamped")
      .as[(String, Long, Long, Long, Long)].collect()
      .map(r => r._1 -> ((r._2, r._3, r._4, r._5))).toMap
    // a: lo rank floor(10*9/100)+1 = 1 -> 1, hi rank floor(90*9/100)+1 = 9
    // -> 9: only the 10 clamps (to 9). b: n=1, lo=hi=42, nothing clamps.
    assert(got("a") == ((1L, 9L, 54L, 1L)))
    assert(got("b") == ((42L, 42L, 42L, 0L)))
  }

  test("winsorizedStatsBySketch equals the exact form on a unit-width grid") {
    val rnd = new scala.util.Random(7)
    val rows = (1L to 400L).map(i => (if (i % 3 == 0) "a" else "b",
      (rnd.nextInt(64)).toLong, i))
    val df = rows.toDF("src", "len", "id")
    val exact = Relational.winsorizedStats(df, "src", "len", "id", 5, 95)
      .select($"src", $"n", $"lo", $"hi", $"sum_raw", $"sum_winsorized",
        $"n_clamped")
      .as[(String, Long, Long, Long, Long, Long, Long)].collect().toSet
    val sk = Relational.winsorizedStatsBySketch(df, "src", "len", 5, 95,
      lo = 0L, width = 1L, nBuckets = 64)
      .select($"src", $"n", $"lo", $"hi", $"sum_raw", $"sum_winsorized",
        $"n_clamped")
      .as[(String, Long, Long, Long, Long, Long, Long)].collect().toSet
    assert(sk == exact)
  }

  test("winsorizedStatsBySketchAuto: discovered unit grid reproduces the exact form") {
    // span (0..63) fits 64 buckets at width 1, so the discovered grid
    // IS the unit grid and the auto form inherits the exact-equality
    // guarantee without anyone supplying (lo, width, n)
    val rnd = new scala.util.Random(7)
    val df = (1L to 400L).map(i => (if (i % 3 == 0) "a" else "b",
      rnd.nextInt(64).toLong, i)).toDF("src", "len", "id")
    val cols = Seq($"src", $"n", $"lo", $"hi", $"sum_raw",
      $"sum_winsorized", $"n_clamped")
    val exact = Relational.winsorizedStats(df, "src", "len", "id", 5, 95)
      .select(cols: _*)
      .as[(String, Long, Long, Long, Long, Long, Long)].collect().toSet
    val auto = Relational.winsorizedStatsBySketchAuto(df, "src", "len",
      5, 95, nBuckets = 64)
      .select(cols: _*)
      .as[(String, Long, Long, Long, Long, Long, Long)].collect().toSet
    assert(auto == exact)
  }

  test("winsorizedStatsBySketchAuto on the q170 gate input == the manual call with the discovered grid") {
    // the automation contract: what a caller who KNEW the range would
    // have written by hand, produced by the one min/max pass instead
    val docs = graft.Tables.documents(spark, "/root/testdata/sf0.001")
    val g = graft.operators.Sketches.discoverGrid(docs, "n_chars", 4096)
    val cols = Seq($"source", $"n", $"lo", $"hi", $"sum_raw",
      $"sum_winsorized", $"n_clamped")
    val auto = Relational.winsorizedStatsBySketchAuto(docs, "source",
      "n_chars", 5, 95, nBuckets = 4096)
      .select(cols: _*)
      .as[(String, Long, Long, Long, Long, Long, Long)].collect().toSet
    val manual = Relational.winsorizedStatsBySketch(docs, "source",
      "n_chars", 5, 95, g.lo, g.width, g.nBuckets)
      .select(cols: _*)
      .as[(String, Long, Long, Long, Long, Long, Long)].collect().toSet
    assert(auto == manual && auto.nonEmpty)
  }

  test("skewReport ranks hot keys with exact share and uniform-skew factors") {
    val df = (Seq.fill(8)("a") ++ Seq("b", "c")).toDF("k")
    val got = Relational.skewReport(df, "k", k = 2)
      .select($"rank", $"key", $"n", $"share_micro", $"skew_micro")
      .as[(Int, String, Long, Long, Long)].collect().toSeq
    // total 10, 3 keys: a holds 80% and runs 2.4x a uniform key
    assert(got == Seq((1, "a", 8L, 800000L, 2400000L),
      (2, "b", 1L, 100000L, 300000L)))
  }

  test("winsorizedStatsBySketch thresholds are bucket lower bounds") {
    // values 0..99, width 10: p10 rank = floor(10*99/100)+1 = 10 -> value 9
    // -> bucket [0,10) lower bound 0; p90 rank 90 -> value 89 -> bound 80.
    val df = (0L until 100L).map(i => ("s", i, i)).toDF("src", "len", "id")
    val got = Relational.winsorizedStatsBySketch(df, "src", "len", 10, 90,
      lo = 0L, width = 10L, nBuckets = 10)
      .select($"lo", $"hi", $"n_clamped").as[(Long, Long, Long)].collect()
    assert(got.toList == List((0L, 80L, 19L))) // 81..99 clamp to 80
  }

  test("joinFanoutReport ranks exploding keys with exact pair math") {
    val left = (Seq.fill(3)("a") ++ Seq.fill(2)("b") ++ Seq("c")).toDF("k")
    val right = (Seq.fill(4)("a") ++ Seq("b") ++ Seq.fill(5)("d")).toDF("k")
    val got = Relational.joinFanoutReport(left, right, "k", "k", k = 2)
      .select($"rank", $"key", $"cnt_left", $"cnt_right",
        $"pairs".cast("long"), $"total_pairs".cast("long"), $"share_micro")
      .as[(Int, String, Long, Long, Long, Long, Long)].collect().toSeq
    // only keys on BOTH sides contribute: a 3·4=12, b 2·1=2, total 14;
    // c and d never pair. shares are exact floor divisions of 1e6
    assert(got == Seq(
      (1, "a", 3L, 4L, 12L, 14L, 857142L),
      (2, "b", 2L, 1L, 2L, 14L, 142857L)))
  }

  test("bloomPrefilteredJoin equals the plain equi-join (multiset)") {
    val fact = spark.read.parquet("/root/testdata/sf0.001/lineitem.parquet")
    val dim = spark.read.parquet("/root/testdata/sf0.001/orders.parquet")
      .filter($"o_orderstatus" === "F")
      .select($"o_orderkey".as("l_orderkey"), $"o_orderpriority")
    def agg(df: org.apache.spark.sql.DataFrame) =
      df.groupBy($"o_orderpriority")
        .agg(count(lit(1)).as("n"), sum($"l_quantity".cast("long")).as("q"))
        .as[(String, Long, Long)].collect().toSet
    val got = agg(Relational.bloomPrefilteredJoin(fact, dim,
      Seq("l_orderkey"), expectedKeys = 10000L))
    assert(got == agg(fact.join(dim, Seq("l_orderkey"))))
  }

  test("bloomPrefilteredJoin stays exact under a deliberately tiny bloom") {
    // undersized expectedKeys → high real fpp → many false positives
    // sail through the prefilter; the join must still discard them all
    val fact = Seq((1L, "a"), (2L, "b"), (3L, "c"), (4L, "d"))
      .toDF("k", "payload")
    val dim = Seq((2L, "x"), (4L, "y")).toDF("k", "dimv")
    val got = Relational.bloomPrefilteredJoin(fact, dim, Seq("k"),
        expectedKeys = 1L, fpp = 0.5)
      .select($"k", $"payload", $"dimv")
      .as[(Long, String, String)].collect().toSet
    assert(got == Set((2L, "b", "x"), (4L, "d", "y")))
  }

  test("bloomPrefilteredJoin equals the plain join on random data across fpp settings") {
    val rnd = new scala.util.Random(23)
    for (fpp <- Seq(0.5, 0.05, 0.005)) {
      val fact = Seq.fill(300)((rnd.nextInt(80).toLong, rnd.nextInt(9)))
        .toDF("k", "v")
      val dim = Seq.fill(40)((rnd.nextInt(120).toLong, rnd.nextInt(9)))
        .distinct.toDF("k", "d")
      def rows(df: org.apache.spark.sql.DataFrame) =
        df.select($"k", $"v", $"d").as[(Long, Int, Int)].collect()
          .groupBy(identity).view.mapValues(_.length).toMap
      val got = rows(Relational.bloomPrefilteredJoin(fact, dim, Seq("k"),
        expectedKeys = 64L, fpp = fpp))
      assert(got == rows(fact.join(dim, Seq("k"))), s"fpp=$fpp diverged")
    }
  }

  test("bloomPrefilteredJoin composite keys and null keys match the plain join") {
    val fact = Seq((Some(1L), "p", 10L), (None, "p", 20L), (Some(1L), "q", 30L))
      .toDF("k1", "k2", "v")
    val dim = Seq((Some(1L), "p", "d1"), (None, "p", "d2")).toDF("k1", "k2", "d")
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.select($"v", $"d").as[(Long, String)].collect().toSet
    val got = rows(Relational.bloomPrefilteredJoin(fact, dim,
      Seq("k1", "k2"), expectedKeys = 100L))
    // null keys never join (SQL equality), with or without the prefilter
    assert(got == rows(fact.join(dim, Seq("k1", "k2"))))
    assert(got == Set((10L, "d1")))
  }

  test("bloomPrefilteredJoin rejects dtype-mismatched keys loudly") {
    // int 5 and long 5 equi-join fine under coercion but xxhash64
    // differently — the operator must refuse rather than drop rows
    val fact = Seq((5, "a")).toDF("k", "v")          // IntegerType key
    val dim = Seq((5L, "d")).toDF("k", "d")          // LongType key
    val e = intercept[IllegalArgumentException] {
      Relational.bloomPrefilteredJoin(fact, dim, Seq("k"),
        expectedKeys = 10L)
    }
    assert(e.getMessage.contains("dtype mismatch"))
    // and the cast-first spelling works and matches the plain join
    val got = Relational.bloomPrefilteredJoin(
        fact.withColumn("k", $"k".cast("long")), dim, Seq("k"),
        expectedKeys = 10L)
      .select($"v", $"d").as[(String, String)].collect().toSet
    assert(got == Set(("a", "d")))
  }

  test("bloomPrefilteredJoin refuses sizes the session caps would silently clamp") {
    // default spark.sql.optimizer.runtime.bloomFilter.maxNumItems is 4M:
    // BloomFilterAggregate would clamp a bigger expectedKeys at
    // execution and quietly raise the real fpp — the operator must
    // refuse and name the conf instead of mutating it session-wide
    val fact = Seq((1L, "a")).toDF("k", "v")
    val dim = Seq((1L, "d")).toDF("k", "d")
    val e = intercept[IllegalArgumentException] {
      Relational.bloomPrefilteredJoin(fact, dim, Seq("k"),
        expectedKeys = 5000000L)
    }
    assert(e.getMessage.contains("maxNumItems"), e.getMessage)
  }

  test("bloomPrefilteredJoin probe is plan-native (subquery, no UDF)") {
    val fact = Seq((1L, "a"), (2L, "b")).toDF("k", "v")
    val dim = Seq((2L, "d")).toDF("k", "d")
    val plan = PlanWalk.finalPlan(Relational.bloomPrefilteredJoin(fact, dim, Seq("k"),
      expectedKeys = 10L)).toString
    assert(plan.contains("might_contain"), s"no bloom probe in:\n$plan")
    assert(plan.contains("Subquery") || plan.contains("subquery"),
      s"bloom not a subquery in:\n$plan")
    assert(!plan.contains("BatchEvalPython") && !plan.toLowerCase.contains("scalaudf"),
      s"UDF leaked into:\n$plan")
  }

}
