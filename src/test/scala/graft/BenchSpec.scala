package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** The bench loop's failure contract: a query that throws must report -1.0
  * (not a tiny elapsed time that reads as a fast success), and a failure in
  * one query must not disturb its neighbors' timings.
  */
class BenchSpec extends SparkSpec {

  private val ok: (SparkSession, String) => DataFrame =
    (s, _) => s.range(10).toDF("n")

  test("measure marks a throwing query -1 and times healthy neighbors") {
    val boom: (SparkSession, String) => DataFrame =
      (_, _) => throw new IllegalStateException("injected")
    val out = Bench.measure(spark, "unused",
      Seq("q900_ok" -> ok, "q901_boom" -> boom, "q902_ok" -> ok), runs = 2).toMap
    assert(out("q901_boom") == -1.0)
    assert(out("q900_ok") > 0.0 && out("q902_ok") > 0.0)
  }

  test("measure marks a query that fails on only one run -1 (flaky = failed)") {
    var calls = 0
    val flaky: (SparkSession, String) => DataFrame = (s, _) => {
      calls += 1
      if (calls == 2) throw new IllegalStateException("injected flake")
      s.range(5).toDF("n")
    }
    val out = Bench.measure(spark, "unused", Seq("q903_flaky" -> flaky), runs = 2).toMap
    assert(out("q903_flaky") == -1.0)
  }

  test("measure keeps best-of-runs semantics for healthy queries") {
    val out = Bench.measure(spark, "unused", Seq("q904_ok" -> ok), runs = 2).toMap
    assert(out("q904_ok") > 0.0)
  }

  test("benchLine end-state: totals + sentinel + the 20 slowest over the REAL surface") {
    // the round-14 driver contract (BASELINE.md): stdout is a fixed-size
    // summary that can never hit the 2000-char tail window however large
    // the surface grows; BENCH_DETAIL.json is the canonical per-query map
    val names = SparkEntry.queries.keys.toSeq.sorted
    val results = names.zipWithIndex.map { case (n, i) =>
      n -> (if (i % 12 == 0) 12.34 else 0.56) // ~8% slow tail, like sf0.1
    }
    val line = Bench.benchLine(results, "0.1")
    assert(line.length <= Bench.lineBudget)
    assert(line.contains("\"104\":"), "sentinel must always be printed")
    val nKeys = "\"[0-9]+\":".r.findAllIn(line).size
    assert(nKeys == Bench.stdoutSlowest + 1,
      s"expected sentinel + ${Bench.stdoutSlowest} slowest, got $nKeys")
    // every slow-tail query is among the printed ones (the tail is the
    // round-over-round signal) and total still sums over ALL queries
    results.filter(_._2 > 1.0).foreach { case (n, _) =>
      val k = "\"" + n.split("_")(0).stripPrefix("q") + "\":"
      assert(line.contains(k), s"slow query $n missing from the line")
    }
    val want = results.map(_._2).sum
    val got = """"value":([0-9.]+)""".r.findFirstMatchIn(line)
      .map(_.group(1).toDouble).getOrElse(-1.0)
    assert(math.abs(got - want) < 0.01, s"total $got != sum-over-all $want")
    assert(line.contains("\"metric\":\"total\"") && line.contains("\"sf\":0.1"))
  }

  test("benchLine end-state: failed queries stay in errs even off the printed map") {
    // hundreds of fast queries + one failure: the -1 entry sorts last
    // and may drop off the printed 20, but errs must still carry it
    val many = (200 to 700).map(i =>
      s"q${i}_synthetic" -> (if (i % 10 == 0) 90.0 + i / 100.0 else 0.11))
    val results = ("q104_sentinel" -> 1.23) +:
      ("q901_boom" -> -1.0) +: many
    val line = Bench.benchLine(results, "0.1")
    assert(line.length <= Bench.lineBudget)
    assert(line.contains("\"104\":1.23"))   // sentinel survives
    assert(line.contains("\"700\":97"))     // slowest kept
    assert(line.contains("\"errs\":[\"901\"]"))
    val nKeys = "\"[0-9]+\":".r.findAllIn(line).size
    assert(nKeys == Bench.stdoutSlowest + 1)
    // the printed tail is exactly the slowest 20 (all ≥ 90 s here)
    val kept = (200 to 700).filter(i => line.contains("\"" + i + "\":"))
    assert(kept.size == Bench.stdoutSlowest && kept.forall(_ % 10 == 0))
  }

  test("benchLine and detailJson carry the intra-run sentinel probes") {
    // the round-17 regime-drift field: single-shot q104 probes at
    // start/middle/end of the run, so a contended window is a fact of
    // the artifact instead of cross-run forensics (round-16 verdict #1)
    val results = Seq("q104_sentinel" -> 1.23, "q01_a" -> 0.5)
    val sent = Seq("start" -> 5.6789, "mid" -> 6.1, "end" -> -1.0)
    val line = Bench.benchLine(results, "0.1", sent)
    assert(line.contains(""""sentinels":{"start":5.68,"mid":6.1,"end":-1}"""),
      line)
    assert(line.length <= Bench.lineBudget)
    val detail = Bench.detailJson(results, "0.1", sent)
    assert(detail.contains(
      """"sentinels":{"start":5.679,"mid":6.100,"end":-1.000}"""), detail)
    // no probes (unit-test callers) → schema unchanged
    assert(!Bench.benchLine(results, "0.1").contains("sentinels"))
  }

  test("benchLine with fewer queries than the cap prints them all") {
    val results = Seq("q104_sentinel" -> 1.23, "q01_a" -> 0.5, "q02_b" -> 2.0)
    val line = Bench.benchLine(results, "0.001")
    Seq("\"104\":1.23", "\"01\":0.5", "\"02\":2").foreach(k =>
      assert(line.contains(k), s"$k missing"))
  }

  test("selectedBy: unset selects every query, a list exactly its names, an unknown name fails") {
    val v = "SPARK_GRAFT_BENCH_ONLY"
    assert(SparkEntry.selectedBy(v, Map.empty).keySet == SparkEntry.queries.keySet)
    val picked = SparkEntry.selectedBy(v,
      Map(v -> " q01_pricing_summary, q104_edit_distance_pairs ,"))
    assert(picked.keySet == Set("q01_pricing_summary", "q104_edit_distance_pairs"))
    val e = intercept[IllegalArgumentException](
      SparkEntry.selectedBy(v, Map(v -> "q01_pricing_summary,q999_nope")))
    assert(e.getMessage.contains(s"$v names no such query: q999_nope"), e.getMessage)
  }
}
