package graft.operators

import graft.SparkSpec
import graft.plans.PlanWalk
import org.apache.spark.sql.functions._

import scala.util.Random

class ScdSpec extends SparkSpec {
  import spark.implicits._

  // change history: (key, attr, ts, id) — id is the unique tie/identity
  private val history = Seq(
    ("u1", "free", 10L, 1L), ("u1", "pro", 20L, 2L), ("u1", "free", 30L, 3L),
    ("u2", "pro", 15L, 4L),
    ("u3", "free", 10L, 5L), ("u3", "pro", 10L, 6L) // same-ts tie on u3
  )

  private def versions(df: org.apache.spark.sql.DataFrame) =
    df.select($"key", $"attr", $"valid_from", $"valid_to", $"id")
      .as[(String, String, Long, Option[Long], Long)].collect().toSet

  test("fromHistory chains versions per key with deterministic ties") {
    val got = versions(Scd.fromHistory(
      history.toDF("key", "attr", "ts", "id"), Seq("key"), "ts", "id"))
    assert(got == Set(
      ("u1", "free", 10L, Some(20L), 1L),
      ("u1", "pro", 20L, Some(30L), 2L),
      ("u1", "free", 30L, None, 3L),
      ("u2", "pro", 15L, None, 4L),
      // tie at ts=10 resolves by id: version 5 closed by version 6
      ("u3", "free", 10L, Some(10L), 5L),
      ("u3", "pro", 10L, None, 6L)))
  }

  test("applyBatch folded over any split == fromHistory of the whole, incl. late changes") {
    val rnd = new Random(7)
    val big = (1 to 200).map { i =>
      (s"u${i % 9}", s"a${rnd.nextInt(4)}", rnd.nextInt(50).toLong, i.toLong)
    }
    val want = versions(Scd.fromHistory(
      big.toDF("key", "attr", "ts", "id"), Seq("key"), "ts", "id"))
    // shuffle THEN split: later batches carry earlier timestamps (late
    // changes), which pure close-out SCD2 would get wrong
    val shuffled = rnd.shuffle(big)
    val batches = shuffled.grouped(70).toSeq
    val store0 = Scd.fromHistory(
      batches.head.toDF("key", "attr", "ts", "id"), Seq("key"), "ts", "id")
    val folded = batches.tail.foldLeft(store0) { (store, b) =>
      Scd.applyBatch(store, b.toDF("key", "attr", "ts", "id"),
        Seq("key"), "ts", "id")
    }
    assert(versions(folded) == want)
  }

  test("applyBatch leaves unaffected keys' rows untouched") {
    val store = Scd.fromHistory(
      history.toDF("key", "attr", "ts", "id"), Seq("key"), "ts", "id")
    val out = Scd.applyBatch(store, Seq(("u2", "free", 40L, 7L))
      .toDF("key", "attr", "ts", "id"), Seq("key"), "ts", "id")
    val got = versions(out)
    // u1/u3 exactly as before; u2's open version closed at 40
    assert(got.filter(v => v._1 != "u2") ==
      versions(store).filter(v => v._1 != "u2"))
    assert(got.filter(_._1 == "u2") == Set(
      ("u2", "pro", 15L, Some(40L), 4L),
      ("u2", "free", 40L, None, 7L)))
  }

  test("null-keyed changes are dropped, not versioned — applyBatch stays consistent") {
    // a null key names no entity; if fromHistory kept it, applyBatch's
    // equality-based anti/semi split would BOTH pass the stored null
    // rows through AND re-derive the batch's null rows from scratch,
    // leaving overlapping "current" versions
    val withNulls = Seq((Some("u1"), "a", 1L, 1L), (None, "x", 2L, 2L))
      .toDF("key", "attr", "ts", "id")
    val store = Scd.fromHistory(withNulls, Seq("key"), "ts", "id")
    assert(versions(store).map(_._1) == Set("u1"))
    val out = Scd.applyBatch(store,
      Seq((Option.empty[String], "y", 3L, 3L), (Some("u1"), "b", 5L, 4L))
        .toDF("key", "attr", "ts", "id"), Seq("key"), "ts", "id")
    val got = versions(out)
    assert(got.map(_._1) == Set("u1"))
    // exactly one current version per key — the invariant null keys
    // would have broken
    assert(got.count(v => v._1 == "u1" && v._4.isEmpty) == 1)
  }

  test("streaming SCD2 maintenance: store == fromHistory; replayed batch is a no-op") {
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val base = java.nio.file.Files.createTempDirectory("scd_stream").toString
    val store = s"$base/store"; val ledger = s"$base/ledger"
    val ms = org.apache.spark.sql.execution.streaming.runtime
      .MemoryStream[(String, String, Long, Long)]
    val q = Scd.maintainScd2(ms.toDF().toDF("key", "attr", "ts", "id"),
        Seq("key"), "ts", "id", store, ledger)
      .option("checkpointLocation", s"$base/ckpt").start()
    try {
      val (b1, b2) = history.splitAt(3) // u3's tie pair arrives in batch 2
      ms.addData(b1); q.processAllAvailable()
      ms.addData(b2); q.processAllAvailable()
      val got = versions(spark.read.parquet(store))
      val want = versions(Scd.fromHistory(
        history.toDF("key", "attr", "ts", "id"), Seq("key"), "ts", "id"))
      assert(got == want)
      // replay: the dedup identity already absorbs re-applied changes;
      // the ledger additionally skips the rewrite — either way, no-op
      graft.io.Sinks.runIdempotent(b1.toDF("key", "attr", "ts", "id"), 0L,
        ledger) { (b, _) =>
        Scd.mergeBatchIntoScdStore(b, Seq("key"), "ts", "id", store)
      }
      assert(versions(spark.read.parquet(store)) == got)
      // the live store serves current-dimension reads
      val current = spark.read.parquet(store).filter($"valid_to".isNull)
        .select($"key", $"attr").as[(String, String)].collect().toSet
      assert(current == Set(("u1", "free"), ("u2", "pro"), ("u3", "pro")))
    } finally q.stop()
  }

  test("bucketed store == plain fromHistory across incremental batches, incl. replay") {
    val base = java.nio.file.Files.createTempDirectory("scd_bucketed").toString
    val store = s"$base/store"
    // out-of-order split: u1's ts=20 change arrives AFTER its ts=30 one
    val batches = Seq(
      Seq(("u1", "free", 10L, 1L), ("u1", "free", 30L, 3L), ("u2", "pro", 15L, 4L)),
      Seq(("u1", "pro", 20L, 2L), ("u3", "free", 10L, 5L)),
      Seq(("u3", "pro", 10L, 6L)))
    batches.foreach { b =>
      Scd.mergeBatchIntoBucketedScdStore(b.toDF("key", "attr", "ts", "id"),
        Seq("key"), "ts", "id", store, nBuckets = 8)
    }
    val want = versions(Scd.fromHistory(
      history.toDF("key", "attr", "ts", "id"), Seq("key"), "ts", "id"))
    assert(versions(Scd.readScdStore(spark, store)) == want)
    // replayed batch: dedup identity re-derives identical content
    Scd.mergeBatchIntoBucketedScdStore(
      batches(1).toDF("key", "attr", "ts", "id"),
      Seq("key"), "ts", "id", store, nBuckets = 8)
    assert(versions(Scd.readScdStore(spark, store)) == want)
    // null-keyed changes are dropped here too
    Scd.mergeBatchIntoBucketedScdStore(
      Seq((Option.empty[String], "x", 99L, 7L)).toDF("key", "attr", "ts", "id"),
      Seq("key"), "ts", "id", store, nBuckets = 8)
    assert(versions(Scd.readScdStore(spark, store)) == want)
  }

  test("bucketed store fold-law: any shuffled split, any nBuckets == fromHistory") {
    // the bucketed twin of the applyBatch fold-law property: late
    // changes land in already-written buckets and must re-derive exactly
    for (seed <- Seq(11, 12); nBuckets <- Seq(1, 4, 32)) {
      val rnd = new Random(seed)
      val big = (1 to 150).map { i =>
        (s"u${i % 7}", s"a${rnd.nextInt(4)}", rnd.nextInt(40).toLong, i.toLong)
      }
      val want = versions(Scd.fromHistory(
        big.toDF("key", "attr", "ts", "id"), Seq("key"), "ts", "id"))
      val base = java.nio.file.Files
        .createTempDirectory(s"scd_fold_${seed}_$nBuckets").toString
      val store = s"$base/store"
      rnd.shuffle(big).grouped(40).foreach { b =>
        Scd.mergeBatchIntoBucketedScdStore(b.toDF("key", "attr", "ts", "id"),
          Seq("key"), "ts", "id", store, nBuckets)
      }
      assert(versions(Scd.readScdStore(spark, store)) == want,
        s"seed=$seed nBuckets=$nBuckets")
    }
  }

  test("bucketed store refuses a mismatched nBuckets instead of corrupting") {
    val base = java.nio.file.Files.createTempDirectory("scd_nbpin").toString
    val store = s"$base/store"
    Scd.mergeBatchIntoBucketedScdStore(
      history.take(3).toDF("key", "attr", "ts", "id"),
      Seq("key"), "ts", "id", store, nBuckets = 8)
    // a LARGER nBuckets would re-bucket keys: the old dir-count check
    // (8 <= 16) passed and silently left stale versions behind
    for (bad <- Seq(16, 4)) {
      val e = intercept[IllegalArgumentException] {
        Scd.mergeBatchIntoBucketedScdStore(
          history.drop(3).toDF("key", "attr", "ts", "id"),
          Seq("key"), "ts", "id", store, nBuckets = bad)
      }
      assert(e.getMessage.contains("nBuckets=8"), e.getMessage)
    }
    // the pinned value still merges fine
    Scd.mergeBatchIntoBucketedScdStore(
      history.drop(3).toDF("key", "attr", "ts", "id"),
      Seq("key"), "ts", "id", store, nBuckets = 8)
    val want = versions(Scd.fromHistory(
      history.toDF("key", "attr", "ts", "id"), Seq("key"), "ts", "id"))
    assert(versions(Scd.readScdStore(spark, store)) == want)
  }

  test("a missing or corrupt nBuckets marker self-heals, never bricks the store") {
    val base = java.nio.file.Files.createTempDirectory("scd_heal").toString
    val store = s"$base/store"
    val marker = new java.io.File(store, "_graft_scd_nbuckets")
    Scd.mergeBatchIntoBucketedScdStore(
      history.take(3).toDF("key", "attr", "ts", "id"),
      Seq("key"), "ts", "id", store, nBuckets = 8)
    // the create-crash window: data written, marker lost before the
    // ledger committed — replay must validate the layout and re-pin
    assert(marker.delete())
    Scd.mergeBatchIntoBucketedScdStore(
      history.drop(3).toDF("key", "attr", "ts", "id"),
      Seq("key"), "ts", "id", store, nBuckets = 8)
    assert(marker.exists, "self-heal must re-pin the marker")
    val want = versions(Scd.fromHistory(
      history.toDF("key", "attr", "ts", "id"), Seq("key"), "ts", "id"))
    assert(versions(Scd.readScdStore(spark, store)) == want)
    // but a missing marker + WRONG nBuckets is caught by the layout scan
    assert(marker.delete())
    val e = intercept[IllegalArgumentException] {
      Scd.mergeBatchIntoBucketedScdStore(
        history.take(1).toDF("key", "attr", "ts", "id"),
        Seq("key"), "ts", "id", store, nBuckets = 16)
    }
    assert(e.getMessage.contains("does not match"), e.getMessage)
    // and a corrupt (e.g. truncated-empty) marker gets a designed error
    // pointing at the deletion remedy, not a NumberFormatException
    java.nio.file.Files.write(marker.toPath, Array.empty[Byte])
    val e2 = intercept[IllegalArgumentException] {
      Scd.mergeBatchIntoBucketedScdStore(
        history.take(1).toDF("key", "attr", "ts", "id"),
        Seq("key"), "ts", "id", store, nBuckets = 8)
    }
    assert(e2.getMessage.contains("delete the marker"), e2.getMessage)
  }

  test("an empty or all-null-key first batch does not brick the bucketed store") {
    val base = java.nio.file.Files.createTempDirectory("scd_empty0").toString
    val store = s"$base/store"
    // empty batch 0: a partitioned write of zero rows would emit no
    // schema-bearing file and every later read would die on inference
    Scd.mergeBatchIntoBucketedScdStore(
      Seq.empty[(String, String, Long, Long)].toDF("key", "attr", "ts", "id"),
      Seq("key"), "ts", "id", store, nBuckets = 8)
    // all-null-key batch 1: same skip path
    Scd.mergeBatchIntoBucketedScdStore(
      Seq((Option.empty[String], "x", 1L, 1L)).toDF("key", "attr", "ts", "id"),
      Seq("key"), "ts", "id", store, nBuckets = 8)
    assert(!new java.io.File(store).exists, "no store should exist yet")
    // the first REAL batch creates it and the store works normally
    Scd.mergeBatchIntoBucketedScdStore(
      history.toDF("key", "attr", "ts", "id"),
      Seq("key"), "ts", "id", store, nBuckets = 8)
    val want = versions(Scd.fromHistory(
      history.toDF("key", "attr", "ts", "id"), Seq("key"), "ts", "id"))
    assert(versions(Scd.readScdStore(spark, store)) == want)
  }

  test("bucketed merge rewrites ONLY the affected buckets' files") {
    val base = java.nio.file.Files.createTempDirectory("scd_bucketio").toString
    val store = s"$base/store"
    val nBuckets = 16
    // 40 keys spread over the buckets
    val init = (1 to 40).map(i => (s"k$i", "v0", 10L, i.toLong))
    Scd.mergeBatchIntoBucketedScdStore(init.toDF("key", "attr", "ts", "id"),
      Seq("key"), "ts", "id", store, nBuckets)
    def filesByBucket: Map[String, Set[String]] = {
      val root = new java.io.File(store)
      root.listFiles.filter(_.getName.startsWith(s"${Scd.BucketCol}="))
        .map(d => d.getName -> d.listFiles.map(_.getName)
          .filter(_.endsWith(".parquet")).toSet).toMap
    }
    val before = filesByBucket
    assert(before.size > 2, s"want keys spread over >2 buckets: $before")
    // one-key batch → exactly one affected bucket
    Scd.mergeBatchIntoBucketedScdStore(
      Seq(("k7", "v1", 20L, 100L)).toDF("key", "attr", "ts", "id"),
      Seq("key"), "ts", "id", store, nBuckets)
    val after = filesByBucket
    val k7Bucket = Seq(("k7", 0)).toDF("key", "z")
      .select(Scd.bucketOf(Seq("key"), nBuckets)).head.getLong(0)
    val touchedDir = s"${Scd.BucketCol}=$k7Bucket"
    assert(after(touchedDir) != before(touchedDir),
      "affected bucket must be rewritten")
    // the bucket-keyed repartition caps files at ONE per affected
    // bucket per batch — without it every upstream task writes into
    // every dir it touches and merges compound the file count
    assert(after(touchedDir).size == 1,
      s"want 1 file per rewritten bucket, got ${after(touchedDir)}")
    (before.keySet - touchedDir).foreach { dir =>
      assert(after(dir) == before(dir),
        s"untouched bucket $dir was rewritten")
    }
    // and the content is still right
    val got = Scd.readScdStore(spark, store)
      .filter($"key" === "k7").select($"attr", $"valid_from", $"valid_to")
      .as[(String, Long, Option[Long])].collect().toSet
    assert(got == Set(("v0", 10L, Some(20L)), ("v1", 20L, None)))
  }

  test("self-heal WARN-AND-PINS an ambiguous candidate on a small-key store (crash-recovery survives)") {
    // keys "0","1","2","4","7" all land in buckets 0-7 under nBuckets=16
    // (verified below), so a 16-bucket store of them row-validates
    // against candidate 8 too — the divisor coincidence a SPARSE store
    // hits with high probability (2^-K per key). Below
    // AmbiguityMinKeys a refusal would mostly false-brick genuine
    // crash-recovery replays (the round-16 guard's regression, ADVICE
    // r16), so the heal must pin the caller's row-validated value with
    // a warning instead of throwing — for BOTH the true creation-time
    // value and a coincidentally-consistent smaller one (either pin is
    // forward-sound by the property test below).
    val keys = Seq("0", "1", "2", "4", "7")
    val b16 = keys.toDF("key").select(Scd.bucketOf(Seq("key"), 16))
      .as[Long].collect()
    assert(b16.forall(_ < 8), s"test keys must collide into 0-7 under 16: ${b16.toSeq}")
    assert(keys.size < Scd.AmbiguityMinKeys)
    val base = java.nio.file.Files.createTempDirectory("scd_ambig").toString
    val store = s"$base/store"
    val hist = keys.zipWithIndex.map { case (k, i) => (k, "v0", 10L, i.toLong) }
    Scd.mergeBatchIntoBucketedScdStore(hist.toDF("key", "attr", "ts", "id"),
      Seq("key"), "ts", "id", store, nBuckets = 16)
    val marker = new java.io.File(store, "_graft_scd_nbuckets")
    // the create-crash replay with the TRUE value: whether or not the
    // rows coincide with a 2·16/3·16 layout, at K=5 the heal must NOT
    // refuse — pin and merge, the automated recovery path intact
    assert(marker.delete())
    val batch = Seq(("0", "v1", 20L, 100L)).toDF("key", "attr", "ts", "id")
    Scd.mergeBatchIntoBucketedScdStore(batch, Seq("key"), "ts", "id",
      store, nBuckets = 16)
    assert(marker.exists, "small-K heal must re-pin, not refuse")
    val want = versions(Scd.fromHistory(
      (hist :+ (("0", "v1", 20L, 100L))).toDF("key", "attr", "ts", "id"),
      Seq("key"), "ts", "id"))
    assert(versions(Scd.readScdStore(spark, store)) == want)
    // and a coincidentally-consistent SMALLER candidate also pins
    // (warned) and stays content-exact through subsequent merges
    assert(marker.delete())
    val batch2 = Seq(("1", "v2", 30L, 101L)).toDF("key", "attr", "ts", "id")
    Scd.mergeBatchIntoBucketedScdStore(batch2, Seq("key"), "ts", "id",
      store, nBuckets = 8)
    assert(marker.exists)
    val want2 = versions(Scd.fromHistory(
      (hist ++ Seq(("0", "v1", 20L, 100L), ("1", "v2", 30L, 101L)))
        .toDF("key", "attr", "ts", "id"), Seq("key"), "ts", "id"))
    assert(versions(Scd.readScdStore(spark, store)) == want2)
  }

  test("self-heal REFUSES an ambiguous candidate once the key count makes coincidence implausible") {
    // ≥ AmbiguityMinKeys distinct keys, all landing below 16 under a
    // 32-bucket layout (searched, not assumed): a 32-created store of
    // them row-validates against candidate 16, and at K ≥ 16 the
    // 2x-coincidence probability for a GENUINE 16-store is ≤ 2^-16 —
    // consistency with the 32 layout is now overwhelming evidence the
    // creator used a larger value, so the heal must refuse candidate 16
    // loudly (manual-marker remedy) and still accept the true 32.
    val pool = (0 until 400).map(i => s"key$i")
    val low = pool.toDF("key")
      .withColumn("b", pmod(xxhash64($"key".cast("string")), lit(32L)))
      .filter($"b" < 16).select($"key").as[String].collect().toSeq
    val keys = low.take(Scd.AmbiguityMinKeys.toInt + 4)
    assert(keys.size >= Scd.AmbiguityMinKeys,
      s"need ≥ ${Scd.AmbiguityMinKeys} low-bucket keys, got ${keys.size}")
    val base = java.nio.file.Files.createTempDirectory("scd_ambig_bigk").toString
    val store = s"$base/store"
    val hist = keys.zipWithIndex.map { case (k, i) => (k, "v0", 10L, i.toLong) }
    Scd.mergeBatchIntoBucketedScdStore(hist.toDF("key", "attr", "ts", "id"),
      Seq("key"), "ts", "id", store, nBuckets = 32)
    val marker = new java.io.File(store, "_graft_scd_nbuckets")
    assert(marker.delete())
    val batch = Seq((keys.head, "v1", 20L, 1000L)).toDF("key", "attr", "ts", "id")
    val e = intercept[IllegalArgumentException] {
      Scd.mergeBatchIntoBucketedScdStore(batch, Seq("key"), "ts", "id",
        store, nBuckets = 16)
    }
    assert(e.getMessage.contains("ALSO with a larger"), e.getMessage)
    assert(!marker.exists, "a refused heal must not pin anything")
    // the true creation-time value heals and merges normally
    Scd.mergeBatchIntoBucketedScdStore(batch, Seq("key"), "ts", "id",
      store, nBuckets = 32)
    assert(marker.exists)
    val want = versions(Scd.fromHistory(
      (hist :+ ((keys.head, "v1", 20L, 1000L))).toDF("key", "attr", "ts", "id"),
      Seq("key"), "ts", "id"))
    assert(versions(Scd.readScdStore(spark, store)) == want)
  }

  test("property: whenever self-heal ACCEPTS a candidate, version content stays exact") {
    // the forward-soundness law behind the guard: heal may refuse (any
    // designed error) but if it accepts — even a value that differs
    // from creation-time, on a coincidentally-consistent sparse store —
    // the full-row validation guarantees every stored row sits where a
    // candidate-layout merge will look for it, so subsequent merges
    // must still fold to fromHistory of the whole. No accepted heal may
    // ever corrupt content.
    val rnd = new Random(23)
    for (trueN <- Seq(8, 12); cand <- Seq(2, 3, 4, 6, 8, 12)) {
      // a SMALL shared key pool: keys carry multiple versions, and the
      // post-heal batch adds NEW (including late) changes for EXISTING
      // keys — the slice read + re-derivation path the law is about,
      // not the degenerate one-version-per-key case
      val hist = (1 to 16).map { i =>
        (s"hk${rnd.nextInt(6)}", s"a${rnd.nextInt(3)}",
          rnd.nextInt(40).toLong, i.toLong)
      }
      val base = java.nio.file.Files
        .createTempDirectory(s"scd_heal_prop_${trueN}_$cand").toString
      val store = s"$base/store"
      val (b1, b2) = hist.splitAt(10)
      Scd.mergeBatchIntoBucketedScdStore(b1.toDF("key", "attr", "ts", "id"),
        Seq("key"), "ts", "id", store, trueN)
      assert(new java.io.File(store, "_graft_scd_nbuckets").delete())
      val accepted =
        try {
          Scd.mergeBatchIntoBucketedScdStore(
            b2.toDF("key", "attr", "ts", "id"),
            Seq("key"), "ts", "id", store, cand)
          true
        } catch {
          case e: IllegalArgumentException =>
            val m = e.getMessage
            assert(m.contains("does not match") ||
              m.contains("ALSO with a larger"), m)
            // these pools stay below AmbiguityMinKeys distinct keys, so
            // the ambiguity branch warn-and-pins instead of refusing:
            // the creation-time value can only ever be rejected by the
            // row validation, which it always passes
            assert(cand != trueN,
              s"true value refused at small K: $m")
            false
        }
      if (accepted) {
        val want = versions(Scd.fromHistory(
          hist.toDF("key", "attr", "ts", "id"), Seq("key"), "ts", "id"))
        assert(versions(Scd.readScdStore(spark, store)) == want,
          s"trueN=$trueN cand=$cand")
      }
    }
  }

  test("self-heal on an externally emptied store pins instead of NPE-ing") {
    // a zero-row store (external truncate/restore) has nothing to
    // validate and nothing to mis-slice: the heal must pin the caller's
    // value — not die on a null sum aggregate over the empty relation
    val base = java.nio.file.Files.createTempDirectory("scd_empty_heal").toString
    val store = s"$base/store"
    Scd.mergeBatchIntoBucketedScdStore(
      history.take(3).toDF("key", "attr", "ts", "id"),
      Seq("key"), "ts", "id", store, nBuckets = 8)
    val schema = spark.read.parquet(store).schema
    spark.createDataFrame(new java.util.ArrayList[org.apache.spark.sql.Row](),
      schema).write.mode("overwrite").parquet(store) // truncation kills the marker too
    val marker = new java.io.File(store, "_graft_scd_nbuckets")
    assert(!marker.exists)
    Scd.mergeBatchIntoBucketedScdStore(
      Seq.empty[(String, String, Long, Long)].toDF("key", "attr", "ts", "id"),
      Seq("key"), "ts", "id", store, nBuckets = 8)
    assert(marker.exists, "heal over a zero-row store must pin, not NPE")
  }

  test("bucketed merge's store read is partition-pruned (plan gate on the slice scan)") {
    // the q204 read-path discipline: the scan the merge builds —
    // read(store).filter(BucketCol isin affected) — must reach the file
    // index as a partition filter and select ONLY the affected
    // directories, not post-filter a full-store read (the write half is
    // measured by effect in "rewrites ONLY the affected buckets").
    val base = java.nio.file.Files.createTempDirectory("scd_prune").toString
    val store = s"$base/store"
    val nBuckets = 16
    val init = (1 to 40).map(i => (s"k$i", "v0", 10L, i.toLong))
    Scd.mergeBatchIntoBucketedScdStore(init.toDF("key", "attr", "ts", "id"),
      Seq("key"), "ts", "id", store, nBuckets)
    val nDirs = new java.io.File(store).listFiles
      .count(_.getName.startsWith(s"${Scd.BucketCol}="))
    assert(nDirs > 2, s"want keys spread over >2 buckets, got $nDirs")
    val affected = Seq("k7").toDF("key")
      .select(Scd.bucketOf(Seq("key"), nBuckets)).as[Long].collect().toSeq
    val slice = spark.read.parquet(store)
      .filter(col(Scd.BucketCol).isin(affected.map(Long.box): _*))
    val scans = PlanWalk.walk(PlanWalk.finalPlan(slice)).collect {
      case f: org.apache.spark.sql.execution.FileSourceScanExec => f
    }
    assert(scans.size == 1, s"want one file scan, got ${scans.size}")
    assert(scans.head.metadata("PartitionFilters").contains(Scd.BucketCol),
      scans.head.metadata("PartitionFilters"))
    assert(scans.head.selectedPartitions.partitionCount == affected.size,
      s"scan selected ${scans.head.selectedPartitions.partitionCount} " +
        s"partition dirs, want ${affected.size} of $nDirs")
  }

  test("bucketed streaming maintenance == plain streaming maintenance") {
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val base = java.nio.file.Files.createTempDirectory("scd_bstream").toString
    val store = s"$base/store"; val ledger = s"$base/ledger"
    val ms = org.apache.spark.sql.execution.streaming.runtime
      .MemoryStream[(String, String, Long, Long)]
    val q = Scd.maintainScd2Bucketed(ms.toDF().toDF("key", "attr", "ts", "id"),
        Seq("key"), "ts", "id", store, ledger, nBuckets = 4)
      .option("checkpointLocation", s"$base/ckpt").start()
    try {
      val (b1, b2) = history.splitAt(3)
      ms.addData(b1); q.processAllAvailable()
      ms.addData(b2); q.processAllAvailable()
      val want = versions(Scd.fromHistory(
        history.toDF("key", "attr", "ts", "id"), Seq("key"), "ts", "id"))
      assert(versions(Scd.readScdStore(spark, store)) == want)
      // ledger: a replayed batch id skips the bucket rewrite entirely
      graft.io.Sinks.runIdempotent(b1.toDF("key", "attr", "ts", "id"), 0L,
        ledger) { (b, _) =>
        Scd.mergeBatchIntoBucketedScdStore(b, Seq("key"), "ts", "id", store,
          nBuckets = 4)
      }
      assert(versions(Scd.readScdStore(spark, store)) == want)
    } finally q.stop()
  }

  test("asOfJoin probes the version table correctly (the SCD2 consumer)") {
    val dim = Scd.fromHistory(
      history.toDF("key", "attr", "ts", "id"), Seq("key"), "ts", "id")
      .select($"key", $"valid_from".as("t"), $"attr")
    val facts = Seq(("u1", 25L, "f1"), ("u1", 5L, "f2"), ("u2", 99L, "f3"))
      .toDF("key", "t", "fact_id")
    val got = Relational.asOfJoin(facts, dim, Seq("key"), "t", "t")
      .select($"fact_id", $"asof.attr".as("attr"))
      .as[(String, Option[String])].collect().toMap
    assert(got("f1").contains("pro"))  // u1 at t=25 → version from 20
    assert(got("f2").isEmpty)          // before u1's first version
    assert(got("f3").contains("pro"))  // u2 current
  }
}
