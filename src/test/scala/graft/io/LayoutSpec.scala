package graft.io

import graft.{SparkSpec, Tables}
import graft.plans.PlanWalk
import org.apache.spark.sql.functions._

/** Physical-layout plan gates: bucketing removes the join exchanges,
  * date partitioning prunes directories at the scan.
  */
class LayoutSpec extends SparkSpec {
  import spark.implicits._

  private val dir = "/root/testdata/sf0.001"

  test("same-bucketed tables join without any Exchange") {
    spark.sql(s"CREATE DATABASE IF NOT EXISTS graft_layout")
    // the warehouse directory outlives the in-memory catalog: a table dir
    // left by a previous JVM makes saveAsTable fail LOCATION_ALREADY_EXISTS
    Seq("li_b", "o_b").foreach { t =>
      spark.sql(s"DROP TABLE IF EXISTS graft_layout.$t")
      val loc = new java.io.File(s"spark-warehouse/graft_layout.db/$t")
      if (loc.exists()) {
        def rm(f: java.io.File): Unit = {
          Option(f.listFiles()).foreach(_.foreach(rm)); f.delete(); ()
        }
        rm(loc)
      }
    }
    val li = Tables.lineitem(spark, dir).select($"l_orderkey", $"l_quantity")
    val o = Tables.orders(spark, dir).select($"o_orderkey", $"o_totalprice")
    Layout.writeBucketed(li, "graft_layout.li_b", "l_orderkey", 8)
    Layout.writeBucketed(o, "graft_layout.o_b", "o_orderkey", 8)

    val joined = Layout.bucketedJoin(spark, "graft_layout.li_b",
      "graft_layout.o_b", "l_orderkey", "o_orderkey")
    // disable broadcast so the test observes the shuffle-vs-bucket choice
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val p = PlanWalk.finalPlan(joined).toString()
      assert(!p.contains("Exchange"),
        s"bucketed join still shuffles:\n$p")
      // result parity with the plain join
      val plain = li.join(o, li("l_orderkey") === o("o_orderkey")).count()
      assert(joined.count() == plain)
    } finally spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
  }

  test("date-partitioned write prunes partitions at the scan") {
    val out = java.nio.file.Files.createTempDirectory("layout_part").toString
    val o = Tables.orders(spark, dir)
      .withColumn("order_month",
        date_format($"o_orderdate", "yyyy-MM"))
    Layout.writeDatePartitioned(o, s"$out/orders", "order_month")

    val read = spark.read.parquet(s"$out/orders")
      .filter($"order_month" === "1996-03")
    val p = PlanWalk.finalPlan(read).toString()
    assert(p.contains("PartitionFilters") && p.contains("order_month"),
      s"no partition pruning in:\n$p")
    // correctness: pruned read equals the row-filtered full read
    val expected = o.filter($"order_month" === "1996-03").count()
    assert(read.count() == expected && expected > 0)
  }

  test("zorderValue interleaves bits exactly (known values)") {
    val got = Seq((0L, 0L), (255L, 0L), (0L, 255L), (3L, 5L), (255L, 255L))
      .toDF("x", "y")
      .select(Layout.zorderValue(Seq($"x", $"y"), bits = 8).as("z"))
      .as[Long].collect().toSeq
    def interleave(x: Long, y: Long): Long =
      (0 until 8).map(i => (((x >> i) & 1L) << (2 * i)) |
        (((y >> i) & 1L) << (2 * i + 1))).reduce(_ | _)
    assert(got == Seq(interleave(0, 0), interleave(255, 0),
      interleave(0, 255), interleave(3, 5), interleave(255, 255)))
    assert(interleave(255, 0) == 0x5555L && interleave(0, 255) == 0xAAAAL)
  }

  test("z-ordered rewrite clusters BOTH dims per file; linear sort only its own") {
    val out = java.nio.file.Files.createTempDirectory("layout_z").toString
    // l_suppkey is DERIVED from l_partkey in TPC-H-style data (sorting
    // one clusters the other) — use the independent l_orderkey as dim 2
    val li = Tables.lineitem(spark, dir)
      .select(pmod($"l_partkey", lit(256)).as("px"),
        pmod($"l_orderkey", lit(256)).as("sx"))
    Layout.writeZOrdered(li, s"$out/z", Seq("px", "sx"), bits = 8,
      partitions = 8)
    li.withColumn("__s", $"px").repartitionByRange(8, $"__s")
      .sortWithinPartitions("__s").drop("__s")
      .write.mode("overwrite").parquet(s"$out/linear")

    // per-file min/max width of each dim = what parquet stats can prune on
    def spans(path: String): (Double, Double) = {
      val byFile = spark.read.parquet(path)
        .groupBy(input_file_name().as("f"))
        .agg((max($"px") - min($"px")).as("wp"), (max($"sx") - min($"sx")).as("ws"))
        .agg(avg($"wp"), avg($"ws")).as[(Double, Double)].head()
      byFile
    }
    val (zP, zS) = spans(s"$out/z")
    val (lP, lS) = spans(s"$out/linear")
    // linear layout: px tightly clustered, sx not at all (~full 0..255)
    assert(lP < 64 && lS > 192,
      s"linear baseline unexpected: px width $lP, sx width $lS")
    // z-order: BOTH dims substantially narrower than the unclustered dim
    assert(zP < 160 && zS < 160,
      s"z-order failed to cluster both dims: px width $zP, sx width $zS")
  }

  test("compactToFileSize hits the target within measurement slack") {
    val out = java.nio.file.Files.createTempDirectory("compact_out").toString
    val li = graft.Tables.lineitem(spark, "/root/testdata/sf0.001")
    val target = 64 * 1024L // small target so sf0.001 yields several files
    val files = graft.io.Layout.compactToFileSize(li, s"$out/t", target)
    assert(files > 1, "target this small must split into multiple files")
    val written = new java.io.File(s"$out/t").listFiles()
      .filter(_.getName.endsWith(".parquet"))
    assert(written.length == files)
    // every file within ~3x of target either way (footer overhead +
    // encoder variance dominate at KB-scale files; the point is order
    // of magnitude, not byte equality)
    written.foreach { f =>
      assert(f.length() < 3 * target, s"${f.getName} ${f.length()} too big")
      assert(f.length() > target / 3, s"${f.getName} ${f.length()} too small")
    }
    // all rows survive
    assert(spark.read.parquet(s"$out/t").count() == li.count())
    // a target bigger than the table -> exactly one file
    val one = graft.io.Layout.compactToFileSize(li, s"$out/one", 1L << 30)
    assert(one == 1 &&
      new java.io.File(s"$out/one").listFiles()
        .count(_.getName.endsWith(".parquet")) == 1)
  }

  test("compactToFileSize compacts IN PLACE: df reading from the target path") {
    val out = java.nio.file.Files.createTempDirectory("compact_inplace").toString
    val path = s"$out/t"
    // seed the lake dir with many tiny files
    val li = graft.Tables.lineitem(spark, "/root/testdata/sf0.001")
    li.repartition(24).write.parquet(path)
    val expect = li.count()
    // the maintenance call the scaladoc advertises: source == target
    val files = graft.io.Layout.compactToFileSize(
      spark.read.parquet(path), path, 1L << 30)
    assert(files == 1)
    val dir = new java.io.File(path)
    assert(dir.listFiles().count(_.getName.endsWith(".parquet")) == 1)
    assert(spark.read.parquet(path).count() == expect)
    // no staging/probe residue next to the target
    assert(new java.io.File(out).listFiles().map(_.getName).toSet == Set("t"))
  }

  test("corpusDiff classifies added/removed/changed/same with next-side char accounting") {
    import spark.implicits._
    val prev = Seq((1L, "aa"), (2L, "bbb"), (3L, "cccc"))
      .toDF("doc_id", "text")
    val next = Seq((1L, "aa"), (2L, "BBBBB"), (4L, "dddddd"))
      .toDF("doc_id", "text")
    val got = graft.io.Layout.corpusDiff(prev, next, "doc_id", "text")
      .select($"status", $"n_docs", $"chars")
      .as[(String, Long, Long)].collect()
      .map(r => r._1 -> ((r._2, r._3))).toMap
    // 1 same (chars of next "aa" = 2), 2 changed (next "BBBBB" = 5),
    // 3 removed (prev "cccc" = 4), 4 added (next "dddddd" = 6)
    assert(got == Map(
      "same" -> ((1L, 2L)), "changed" -> ((1L, 5L)),
      "removed" -> ((1L, 4L)), "added" -> ((1L, 6L))))
  }

  test("corpusDiff joins string ids raw and treats null texts as present") {
    import spark.implicits._
    // String ids (URLs): the old cast-to-long join turned every id into
    // null and double-reported each row as added+removed; the raw-key
    // join must classify them. Null texts: a present row with a null
    // text is PRESENT (digest sentinel ""), so null->null is 'same',
    // null->text and text->null are 'changed', never 'added'.
    val prev = Seq(
      ("http://a/1", Option("aa")), ("http://a/2", None),
      ("http://a/3", Option("ccc")), ("http://a/4", None))
      .toDF("url", "text")
    val next = Seq(
      ("http://a/1", Option("aa")), ("http://a/2", None),
      ("http://a/3", Option.empty[String]), ("http://a/5", Option("ee")))
      .toDF("url", "text")
    val got = graft.io.Layout.corpusDiff(prev, next, "url", "text")
      .select($"status", $"n_docs", $"chars")
      .as[(String, Long, Long)].collect()
      .map(r => r._1 -> ((r._2, r._3))).toMap
    // 1 same ("aa"->2), 2 same (null->null, 0 chars), 3 changed
    // (text->null, next chars 0), 4 removed (null text, 0 chars),
    // 5 added ("ee" = 2)
    assert(got == Map(
      "same" -> ((2L, 2L)), "changed" -> ((1L, 0L)),
      "removed" -> ((1L, 0L)), "added" -> ((1L, 2L))))
  }

  test("corpusDiff classifies NULL-id rows by side, not as added+added") {
    import spark.implicits._
    // A null id never matches in the full-outer join, so presence must
    // come from each side's explicit flag: a prev row with a null id is
    // 'removed' (it exists only in prev), a next row with a null id is
    // 'added'. The old id-copy presence test read the prev-side half of
    // the pair as 'added' too.
    val prev = Seq((Option(1L), "aa"), (Option.empty[Long], "gone"))
      .toDF("doc_id", "text")
    val next = Seq((Option(1L), "aa"), (Option.empty[Long], "new!!"))
      .toDF("doc_id", "text")
    val got = graft.io.Layout.corpusDiff(prev, next, "doc_id", "text")
      .select($"status", $"n_docs", $"chars")
      .as[(String, Long, Long)].collect()
      .map(r => r._1 -> ((r._2, r._3))).toMap
    assert(got == Map(
      "same" -> ((1L, 2L)), "removed" -> ((1L, 4L)), "added" -> ((1L, 5L))))
  }
}
