package graft.operators

import graft.SparkSpec
import graft.plans.PlanWalk
import org.apache.spark.sql.functions._
import org.scalacheck.Gen
import org.scalacheck.rng.Seed

/** Packing (distributed prefix sum + concat-and-chunk sequence packing)
  * vs brute-force references, plus the scale-shape assertion that the
  * corpus-wide window never plans partitionless.
  */
class PackingSpec extends SparkSpec {
  import spark.implicits._

  private def samples[T](g: Gen[T], n: Int): Seq[T] =
    (0 until n).flatMap(i => g.apply(Gen.Parameters.default, Seed(7L + i)))

  private val rowsGen: Gen[List[(Long, Long)]] = for {
    n <- Gen.choose(0, 60)
    // sparse, unordered ids; token counts include 0
    ids <- Gen.listOfN(n, Gen.choose(0L, 500L))
    toks <- Gen.listOfN(n, Gen.choose(0L, 40L))
  } yield ids.distinct.zip(toks)

  test("prefixSum matches the sequential scan for random inputs and bucket widths") {
    for {
      rows <- samples(rowsGen, 12)
      width <- Seq(1L, 7L, 64L, 1L << 16)
    } {
      val df = rows.toDF("id", "v")
      val got = Packing.prefixSum(df, "id", "v", "cs", width)
        .select($"id", $"cs").as[(Long, Long)].collect().toMap
      val want = rows.sortBy(_._1)
        .scanLeft((Long.MinValue, 0L)) { case ((_, acc), (id, v)) => (id, acc + v) }
        .tail.toMap
      assert(got == want, s"width=$width rows=$rows")
    }
  }

  test("packByBudget spans partition the token stream exactly") {
    for (rows <- samples(rowsGen, 8).filter(_.nonEmpty)) {
      val budget = 16L
      val packed = Packing.packByBudget(rows.toDF("id", "v"), "id", "v", budget, 7L)
        .select($"id", $"v", $"start_off", $"end_off", $"pack_first", $"pack_last", $"n_packs")
        .as[(Long, Long, Long, Long, Long, Long, Long)].collect().sortBy(_._1)
      // spans are contiguous half-open intervals covering [0, total)
      var expectStart = 0L
      packed.foreach { case (_, v, s, e, pf, pl, np) =>
        assert(s == expectStart && e == s + v)
        expectStart = e
        assert(pf == s / budget)
        assert(pl == (if (v > 0) (e - 1) / budget else s / budget))
        assert(np == pl - pf + 1)
      }
      assert(expectStart == rows.map(_._2).sum)
    }
  }

  test("packSummary agrees with a brute-force roll-up") {
    val rows = samples(rowsGen, 1).head
    val budget = 16L
    val packed = Packing.packByBudget(rows.toDF("id", "v"), "id", "v", budget, 7L)
    val got = Packing.packSummary(packed)
      .select($"pack_id", $"n_docs", $"n_boundary_crossings")
      .as[(Long, Long, Long)].collect().toSet
    val spans = rows.sortBy(_._1)
      .scanLeft((0L, 0L, 0L)) { case ((_, _, e), (id, v)) => (id, e, e + v) }.tail
    val want = spans.groupBy { case (_, s, _) => s / budget }
      .map { case (p, xs) =>
        (p, xs.size.toLong,
          xs.map { case (_, s, e) =>
            (if (e > s) (e - 1) / budget else s / budget) - s / budget
          }.sum)
      }.toSet
    assert(got == want)
  }

  test("lengthBatches groups similar lengths, bounds batch size, fills in id order") {
    val rows = samples(rowsGen, 6).find(_.size > 20).get
    val df = rows.toDF("doc_id", "n_tokens")
    val out = Packing.lengthBatches(df, "doc_id", "n_tokens",
        bucketTokens = 8, batchSize = 4)
      .select($"doc_id", $"n_tokens", $"bucket", $"batch_id")
      .as[(Long, Long, Long, Long)].collect()
    assert(out.length == rows.size)
    // bucket is the floor-division length class
    out.foreach { case (_, n, b, _) => assert(b == n / 8) }
    out.groupBy(r => (r._3, r._4)).foreach { case ((b, _), batch) =>
      // a batch never exceeds batchSize and never mixes buckets
      assert(batch.length <= 4 && batch.forall(_._3 == b))
      // peers differ by less than one bucket width
      val lens = batch.map(_._2)
      assert(lens.max - lens.min < 8)
    }
    // within a bucket, batch_id is assigned in ascending id order and
    // only the LAST batch may be partial
    out.groupBy(_._3).foreach { case (_, rows0) =>
      val byId = rows0.sortBy(_._1).map(_._4)
      assert(byId.toSeq == byId.sorted.toSeq)
      val sizes = rows0.groupBy(_._4).toSeq.sortBy(_._1).map(_._2.length)
      assert(sizes.init.forall(_ == 4))
    }
  }

  test("prefixSum windows are all partitioned (no corpus-wide single-partition stage)") {
    // runs with AQE ON — PlanWalk crosses query-stage boundaries, so the
    // bucket-totals aggregate behind the shuffle stage is still seen
    val df = (0L until 1000L).map(i => (i, i % 7)).toDF("id", "v")
    val out = Packing.prefixSum(df, "id", "v", "cs", 64L)
    val root = PlanWalk.finalPlan(out)
    val windows = PlanWalk.walk(root).collect {
      case w: org.apache.spark.sql.execution.window.WindowExec => w
    }
    assert(windows.nonEmpty, "expected window nodes in the prefix-sum plan")
    // the within-bucket scan (over the full table) must be partitioned;
    // the only unpartitioned window runs over the REDUCED bucket-totals
    // table (above an aggregate) — PlanWalk encodes exactly that rule
    assert(PlanWalk.badPartitionlessWindows(root).isEmpty,
      s"unpartitioned window over non-aggregated input:\n$root")
  }
}
