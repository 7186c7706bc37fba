package graft.apps

import graft.SparkSpec
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import java.sql.Timestamp

class StreamingAppsSpec extends SparkSpec {
  import spark.implicits._

  private def t(sec: Long) = new Timestamp(sec * 1000L)

  test("hotItemsStream ranks each closed window once") {
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val ms = MemoryStream[UserBehavior]
    val got = scala.collection.mutable.ArrayBuffer[(Long, Long, Long, Int)]()
    val q = StreamingApps.hotItemsStream(ms.toDF(), topN = 2,
        size = "10 seconds", slide = "10 seconds") {
        (ranked, _) => got.synchronized {
          got ++= ranked.collect().map(r =>
            (r.getLong(0), r.getLong(1), r.getLong(2), r.getInt(3)))
        }
      }.start()
    try {
      // window [0,10s): item 1 -> 3 views, item 2 -> 2, item 3 -> 1
      ms.addData(
        UserBehavior(1, 1, 0, "pv", t(1)), UserBehavior(2, 1, 0, "pv", t(2)),
        UserBehavior(3, 1, 0, "pv", t(3)), UserBehavior(4, 2, 0, "pv", t(4)),
        UserBehavior(5, 2, 0, "pv", t(5)), UserBehavior(6, 3, 0, "pv", t(6)),
        UserBehavior(7, 9, 0, "buy", t(7))) // non-pv filtered out
      q.processAllAvailable()
      assert(got.isEmpty) // window open
      ms.addData(UserBehavior(8, 9, 0, "pv", t(60)))
      q.processAllAvailable()
      val w0 = got.filter(_._1 == 10L).sortBy(_._4)
      assert(w0.map(r => (r._2, r._3, r._4)).toList ==
        List((1L, 3L, 1), (2L, 2L, 2)))
    } finally q.stop()
  }

  test("loginFailStream emits the reference warning") {
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val ms = MemoryStream[LoginEvent]
    val withWm = ms.toDS().withWatermark("ts", "0 seconds").as[LoginEvent]
    val out = StreamingApps.loginFailStream(withWm, fails = 3, withinMs = 5000L)
    val q = out.writeStream.format("memory").queryName("lf_out")
      .outputMode("append").start()
    try {
      ms.addData(LoginEvent(1, "ip", "fail", t(1)), LoginEvent(1, "ip", "fail", t(2)))
      q.processAllAvailable()
      ms.addData(LoginEvent(1, "ip", "fail", t(3)))
      q.processAllAvailable()
      val rows = spark.table("lf_out").as[LoginFailWarning].collect()
      assert(rows.length == 1)
      assert(rows.head.userId == 1 && rows.head.firstFailTime == 1 &&
        rows.head.lastFailTime == 3)
    } finally q.stop()
  }

  test("orderTimeoutStream emits matches and watermark-expired timeouts") {
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val ms = MemoryStream[OrderEvent]
    val withWm = ms.toDS().withWatermark("ts", "0 seconds").as[OrderEvent]
    val out = StreamingApps.orderTimeoutStream(withWm, payDeadlineMs = 60000L)
    val q = out.writeStream.format("memory").queryName("ot_out")
      .outputMode("append").start()
    try {
      // note: events at epoch second 0 would equal the initial watermark
      // and be dropped as late — start at t(10)
      ms.addData(OrderEvent(1, "create", "", t(10)), OrderEvent(2, "create", "", t(11)))
      q.processAllAvailable()
      ms.addData(OrderEvent(1, "pay", "tx1", t(40))) // order 1 pays in time
      q.processAllAvailable()
      ms.addData(OrderEvent(9, "create", "", t(500))) // watermark past deadline
      q.processAllAvailable()
      val rows = spark.table("ot_out").as[OrderResult].collect()
        .map(r => r.orderId -> r.resultMsg).toMap
      assert(rows(1L) == "payed successfully")
      assert(rows(2L) == "order timeout")
    } finally q.stop()
  }

  test("funnelStream: conversions match; abandoned funnels flush as timeouts") {
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val ms = MemoryStream[FunnelEvent]
    val withWm = ms.toDS().withWatermark("ts", "0 seconds").as[FunnelEvent]
    val out = StreamingApps.funnelStream(withWm, withinMs = 60000L)
    val q = out.writeStream.format("memory").queryName("fn_out")
      .outputMode("append").start()
    try {
      ms.addData(
        FunnelEvent(1, "view", t(10)), FunnelEvent(1, "click", t(20)),
        FunnelEvent(2, "view", t(10)), FunnelEvent(2, "click", t(20)),
        // user 3 never views: the funnel must never start
        FunnelEvent(3, "click", t(5)), FunnelEvent(3, "purchase", t(6)))
      q.processAllAvailable()
      ms.addData(FunnelEvent(1, "purchase", t(30)))
      q.processAllAvailable()
      val mid = spark.table("fn_out").as[FunnelOutcome].collect()
      assert(mid.toSeq == Seq(FunnelOutcome(1L, "match", 3, 10000L, 30000L)))
      // watermark passes user 2's 70 s deadline: abandoned funnel flushes
      ms.addData(FunnelEvent(99, "view", t(1000)))
      q.processAllAvailable()
      val rows = spark.table("fn_out").as[FunnelOutcome].collect()
      assert(rows.filter(_.kind == "timeout").toSeq ==
        Seq(FunnelOutcome(2L, "timeout", 2, 10000L, 20000L)))
      assert(!rows.exists(_.userId == 3L))
    } finally q.stop()
  }

  test("funnelStream bounds the WHOLE chain (vs q171's per-step windows)") {
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val ms = MemoryStream[FunnelEvent]
    val withWm = ms.toDS().withWatermark("ts", "0 seconds").as[FunnelEvent]
    val out = StreamingApps.funnelStream(withWm, withinMs = 60000L)
    val q = out.writeStream.format("memory").queryName("fn_out2")
      .outputMode("append").start()
    try {
      // every step-to-step gap < 60 s (q171's per-step rule converts),
      // but first→last = 70 s > within → the CEP chain times out
      ms.addData(FunnelEvent(1, "view", t(10)), FunnelEvent(1, "click", t(60)))
      q.processAllAvailable()
      ms.addData(FunnelEvent(1, "purchase", t(80)))
      q.processAllAvailable()
      ms.addData(FunnelEvent(99, "view", t(1000)))
      q.processAllAvailable()
      val rows = spark.table("fn_out2").as[FunnelOutcome].collect()
      assert(rows.count(_.kind == "match") == 0)
      assert(rows.filter(_.userId == 1L).map(_.kind).toSeq == Seq("timeout"))
      // the batch per-step form converts the same user: pinned divergence
      val batch = graft.operators.Funnel.reachedSteps(
        Seq((1L, "view", t(10)), (1L, "click", t(60)), (1L, "purchase", t(80)))
          .toDF("user_id", "event_type", "ts"),
        "user_id", "event_type", "ts",
        Seq("view", "click", "purchase"), windowUs = 60000000L)
        .as[(Long, Long)].collect().toMap
      assert(batch == Map(1L -> 3L))
    } finally q.stop()
  }

  test("retention streaming twin: maintained activity store + triangle == the batch form") {
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val dir = java.nio.file.Files.createTempDirectory("retention").toString
    val ms = MemoryStream[FunnelEvent]
    // wmDelay covers the cross-batch out-of-orderness below (batch 2
    // carries events behind batch 1's max time; at 0s delay they'd be
    // dropped as late before the dedup ever saw them)
    val q = graft.operators.Retention.maintainActivity(ms.toDF(),
        "userId", "ts", s"$dir/store", s"$dir/ledger", wmDelay = "10 days")
      .option("checkpointLocation", s"$dir/cp").start()
    // start at day 1: an event at epoch second 0 equals the INITIAL
    // watermark and is dropped as late (the orderTimeoutStream note)
    val day = 86400L
    val rows = Seq(
      (1L, 1L * day), (1L, 2L * day), (1L, 4L * day),  // cohort 1, offsets 0/1/3
      (2L, 2L * day), (2L, 2L * day + 60L),            // same-day duplicate
      (2L, 3L * day),                                  // cohort 2, offset 1
      (3L, 3L * day))                                  // cohort 3, offset 0
    try {
      val (b1, b2) = rows.splitAt(4)
      ms.addData(b1.map { case (u, sec) => FunnelEvent(u, "view", t(sec)) })
      q.processAllAvailable()
      ms.addData(b2.map { case (u, sec) => FunnelEvent(u, "view", t(sec)) })
      q.processAllAvailable()
      def cells(df: org.apache.spark.sql.DataFrame) =
        df.select($"cohort_day", $"day_offset", $"n_users")
          .as[(Long, Long, Long)].collect().toSet
      val streamed = cells(graft.operators.Retention.triangle(
        spark.read.parquet(s"$dir/store")))
      val batch = cells(graft.operators.Retention.triangle(
        graft.operators.Retention.activity(
          rows.map { case (u, sec) => (u, t(sec)) }.toDF("userId", "ts"),
          "userId", "ts")))
      assert(streamed == batch)
      assert(streamed == Set((1L, 0L, 1L), (1L, 1L, 1L), (1L, 3L, 1L),
        (2L, 0L, 1L), (2L, 1L, 1L), (3L, 0L, 1L)))
    } finally q.stop()
  }

  test("A/B streaming twin: min-merge store re-bases a late earlier signup; report == batch") {
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val dir = java.nio.file.Files.createTempDirectory("abtwin").toString
    val ms = MemoryStream[(Long, String, Timestamp, Long, String)]
    val q = graft.operators.Experiment.maintainUserAggregates(
        ms.toDF().toDF("userId", "eventType", "ts", "eventId", "props"),
        "userId", "eventType", "ts", "eventId", "props",
        s"$dir/store", s"$dir/ledger")
      .option("checkpointLocation", s"$dir/cp").start()
    val b1 = Seq(
      (1L, "signup", t(100), 10L, "k=1"),   // u1 variant 1 (for now)
      (1L, "purchase", t(50), 11L, ""),     // BEFORE u1's signup — no conv
      (2L, "signup", t(200), 12L, "k=2"),   // u2 variant 0
      (2L, "purchase", t(300), 13L, ""),    // converted
      (3L, "signup", t(400), 14L, "7"))     // u3 variant 1, no purchase
    // a LATE, EARLIER signup: re-bases u1 to variant 0 AND makes the
    // t(50) purchase count — frozen append-mode assignment state could
    // never retract either change; the min-merge store absorbs both
    val b2 = Seq((1L, "signup", t(10), 15L, "k=2"))
    def report(df: org.apache.spark.sql.DataFrame) =
      df.select($"variant", $"n_users", $"n_converted", $"conv_micro")
        .as[(Long, Long, Long, Long)].collect().toSet
    try {
      ms.addData(b1); q.processAllAvailable()
      val mid = report(graft.operators.Experiment.abReport(
        spark.read.parquet(s"$dir/store")))
      assert(mid == Set((0L, 1L, 1L, 1000000L), (1L, 2L, 0L, 0L)))
      ms.addData(b2); q.processAllAvailable()
      val fin = report(graft.operators.Experiment.abReport(
        spark.read.parquet(s"$dir/store")))
      assert(fin == Set((0L, 2L, 2L, 1000000L), (1L, 1L, 0L, 0L)))
      // twin equality: the maintained store finishes to the batch report
      val batch = report(graft.operators.Experiment.abReport(
        graft.operators.Experiment.userAggregates(
          (b1 ++ b2).toDF("userId", "eventType", "ts", "eventId", "props"),
          "userId", "eventType", "ts", "eventId", "props")))
      assert(fin == batch)
    } finally q.stop()
  }

  test("anomaly streaming twin: additive count store absorbs late days; flags == batch") {
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val dir = java.nio.file.Files.createTempDirectory("anomtwin").toString
    val day = 86400L
    val ms = MemoryStream[(String, Timestamp)]
    val q = graft.operators.Anomaly.maintainDailyCounts(
        ms.toDF().toDF("etype", "ts"), "etype", "ts",
        s"$dir/store", s"$dir/ledger")
      .option("checkpointLocation", s"$dir/cp").start()
    // days 1..7 one view each, day 8 spikes to 11 (σ=0 week → anomaly)
    val b1 = (1L to 7L).map(d => ("view", t(d * day))) ++
      (1 to 11).map(i => ("view", t(8 * day + i)))
    // LATE events land on day 3 — no watermark drops them, the additive
    // merge just raises the cell; every downstream window re-derives
    val b2 = (1 to 5).map(i => ("view", t(3 * day + 100 + i)))
    def flags(df: org.apache.spark.sql.DataFrame) =
      df.select($"event_type", $"day_num", $"n", $"is_anomaly")
        .as[(String, Long, Long, Option[Boolean])].collect().toSet
    try {
      ms.addData(b1); q.processAllAvailable()
      ms.addData(b2); q.processAllAvailable()
      val store = spark.read.parquet(s"$dir/store")
      assert(store.filter($"day_num" === 3L).select($"n")
        .as[Long].head() == 6L, "late events must add into day 3")
      val streamed = flags(graft.operators.Anomaly.anomalyFlags(store))
      val batch = flags(graft.operators.Anomaly.anomalyFlags(
        graft.operators.Anomaly.dailyCounts(
          (b1 ++ b2).toDF("etype", "ts"), "etype", "ts")))
      assert(streamed == batch)
      assert(streamed.exists { case (_, d, n, f) =>
        d == 8L && n == 11L && f.contains(true) }, "day-8 spike must flag")
      // ledger: replaying a committed batch adds nothing twice
      graft.io.Sinks.runIdempotent(b2.toDF("etype", "ts"), 1L,
        s"$dir/ledger") { (b, _) =>
        graft.operators.Anomaly.mergeCountsIntoStore(b, "etype", "ts",
          s"$dir/store")
      }
      assert(flags(graft.operators.Anomaly.anomalyFlags(
        spark.read.parquet(s"$dir/store"))) == streamed)
    } finally q.stop()
  }

  test("adClickBlacklistStream warns once per day and resets on rollover") {
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val ms = MemoryStream[AdClickLog]
    val out = StreamingApps.adClickBlacklistStream(ms.toDS(), threshold = 2)
    val q = out.writeStream.format("memory").queryName("bl_out")
      .outputMode("append").start()
    try {
      def click(sec: Long) = AdClickLog(7, 42, "p", "c", t(sec))
      ms.addData(click(10), click(20), click(30)) // 3 > 2 -> warn
      q.processAllAvailable()
      ms.addData(click(40)) // same day: already warned, silent
      q.processAllAvailable()
      val day2 = 86400L
      ms.addData(click(day2 + 10), click(day2 + 20), click(day2 + 30)) // reset, re-warn
      q.processAllAvailable()
      val rows = spark.table("bl_out").as[BlackListUserWarning].collect()
      assert(rows.length == 2, s"expected one warning per day, got ${rows.toSeq}")
      assert(rows.forall(w => w.userId == 7 && w.adId == 42))
    } finally q.stop()
  }

  test("adClickBlacklistStream: a late previous-day click cannot reset the current day") {
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val ms = MemoryStream[AdClickLog]
    // 1h lateness admits cross-day stragglers — exactly the case where a
    // naive day != state.day rollover wipes today's count + warned flag
    val out = StreamingApps.adClickBlacklistStream(ms.toDS(), threshold = 2,
      wmDelay = "1 hour")
    val q = out.writeStream.format("memory").queryName("bl_late_out")
      .outputMode("append").start()
    try {
      def click(sec: Long) = AdClickLog(7, 42, "p", "c", t(sec))
      val day2 = 86400L
      ms.addData(click(day2 + 10), click(day2 + 20), click(day2 + 30)) // warn on day 2
      q.processAllAvailable()
      // straggler from day 1, within the 1h lateness allowance
      ms.addData(click(day2 - 60))
      q.processAllAvailable()
      ms.addData(click(day2 + 40), click(day2 + 50), click(day2 + 60))
      q.processAllAvailable()
      val rows = spark.table("bl_late_out").as[BlackListUserWarning].collect()
      assert(rows.length == 1,
        s"late straggler reset the day -> duplicate warning: ${rows.toSeq}")
    } finally q.stop()
  }

  test("adClickBlacklistStream GCs idle pairs once the watermark passes the idle horizon") {
    // the 100 TB guard: state must hold only ACTIVE (user, ad) pairs, not
    // every pair ever seen — idle pairs time out at day end + idleDays
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val ms = MemoryStream[AdClickLog]
    val out = StreamingApps.adClickBlacklistStream(ms.toDS(), threshold = 100,
      idleDays = 1)
    val q = out.writeStream.format("memory").queryName("bl_gc_out")
      .outputMode("append").start()
    try {
      def stateRows: Long =
        q.lastProgress.stateOperators.map(_.numRowsTotal).sum
      // day 0: three distinct pairs -> three state rows
      ms.addData(AdClickLog(1, 1, "p", "c", t(10)),
        AdClickLog(2, 2, "p", "c", t(20)), AdClickLog(3, 3, "p", "c", t(30)))
      q.processAllAvailable()
      assert(stateRows == 3, s"expected 3 live pairs, got $stateRows")
      // jump the watermark past day0's horizon (day end + 1 idle day =
      // 2 days); the day-3 click arms its own fresh state entry
      val day3 = 3 * 86400L
      ms.addData(AdClickLog(9, 9, "p", "c", t(day3)))
      q.processAllAvailable()
      // one more batch so the expired timers are processed and reported
      ms.addData(AdClickLog(9, 9, "p", "c", t(day3 + 10)))
      q.processAllAvailable()
      assert(stateRows == 1,
        s"idle day-0 pairs not GC'd: $stateRows state rows")
    } finally q.stop()
  }

  test("txMatchStream: matched pairs, pay-only timeout, receipt-only timeout") {
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val pays = MemoryStream[OrderEvent]
    val receipts = MemoryStream[ReceiptEvent]
    val out = StreamingApps.txMatchStream(pays.toDS(), receipts.toDS(),
      payWaitMs = 5000L, receiptWaitMs = 3000L)
    val q = out.writeStream.format("memory").queryName("tx_out")
      .outputMode("append").start()
    try {
      // tx1 matches in-batch; tx2 pay never gets a receipt; tx3 receipt
      // never gets a pay; "create" events must be ignored entirely
      pays.addData(OrderEvent(1, "create", "tx1", t(8)),
        OrderEvent(1, "pay", "tx1", t(10)), OrderEvent(2, "pay", "tx2", t(20)))
      receipts.addData(ReceiptEvent("tx1", "wechat", t(12)),
        ReceiptEvent("tx3", "alipay", t(30)))
      q.processAllAvailable()
      // advance the watermark far past both deadlines (tx2 @25s, tx3 @33s)
      pays.addData(OrderEvent(9, "pay", "tx9", t(100)))
      q.processAllAvailable()
      pays.addData(OrderEvent(10, "pay", "tx10", t(200)))
      q.processAllAvailable()
      val rows = spark.table("tx_out").as[TxMatchOutcome].collect()
        .map(r => r.txId -> r).toMap
      assert(rows("tx1").kind == "matched" && rows("tx1").orderId == 1 &&
        rows("tx1").payChannel == "wechat" && rows("tx1").payTs == 10000L &&
        rows("tx1").receiptTs == 12000L)
      assert(rows("tx2").kind == "unmatched-pay" && rows("tx2").orderId == 2)
      assert(rows("tx3").kind == "unmatched-receipt" &&
        rows("tx3").payChannel == "alipay")
      assert(!rows.contains("tx9") || rows("tx9").kind == "unmatched-pay")
      // matched state clears instantly; only in-flight tx rows remain
      assert(q.lastProgress.stateOperators.map(_.numRowsTotal).sum <= 2)
    } finally q.stop()
  }

  test("txMatchStream state enters AND leaves: staggered receipts peak > 0, flush drains") {
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val pays = MemoryStream[OrderEvent]
    val receipts = MemoryStream[ReceiptEvent]
    val out = StreamingApps.txMatchStream(pays.toDS(), receipts.toDS(),
      payWaitMs = 5000L, receiptWaitMs = 3000L)
    val q = out.writeStream.format("memory").queryName("tx_stagger")
      .outputMode("append").start()
    try {
      def stateRows: Long = q.lastProgress.stateOperators.map(_.numRowsTotal).sum
      // staggered input: pays land one batch BEFORE their receipts, so
      // pending claims are observable at the batch boundary
      // (same event time for all — a time spread would let the leading
      // pays' deadlines fall behind the batch-end watermark and expire
      // before the sample)
      pays.addData((1 to 20).map(i => OrderEvent(i.toLong, "pay", s"tx$i", t(10))))
      q.processAllAvailable()
      val peak = stateRows
      assert(peak >= 20, s"pending pays must be visible in state, got $peak")
      receipts.addData((1 to 20).map(i => ReceiptEvent(s"tx$i", "wechat", t(11))))
      q.processAllAvailable()
      // watermark flush far past every deadline: real state fully drains
      pays.addData(OrderEvent(-1, "pay", "txflushP", t(100000)))
      receipts.addData(ReceiptEvent("txflushR", "chan0", t(100000)))
      q.processAllAvailable()
      assert(stateRows <= 2,
        s"only the 2 flush rows may remain after the drain, got $stateRows")
      val matched = spark.table("tx_stagger").as[TxMatchOutcome]
        .collect().count(_.kind == "matched")
      assert(matched == 20, s"all 20 staggered pairs must match, got $matched")
    } finally q.stop()
  }

  test("txMatchStream: a receipt arriving after the pay timed out becomes unmatched-receipt") {
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val pays = MemoryStream[OrderEvent]
    val receipts = MemoryStream[ReceiptEvent]
    val out = StreamingApps.txMatchStream(pays.toDS(), receipts.toDS())
    val q = out.writeStream.format("memory").queryName("tx_late_out")
      .outputMode("append").start()
    try {
      pays.addData(OrderEvent(5, "pay", "tx5", t(10)))
      q.processAllAvailable()
      pays.addData(OrderEvent(6, "pay", "tx6", t(100))) // wm -> 100s, tx5 expires
      q.processAllAvailable()
      // the counterpart shows up AFTER the unmatched-pay side output —
      // the reference would likewise no longer hold tx5's pay state
      receipts.addData(ReceiptEvent("tx5", "card", t(101)))
      q.processAllAvailable()
      pays.addData(OrderEvent(7, "pay", "tx7", t(300))) // expire tx5's receipt + tx6
      q.processAllAvailable()
      pays.addData(OrderEvent(8, "pay", "tx8", t(400)))
      q.processAllAvailable()
      val rows = spark.table("tx_late_out").as[TxMatchOutcome].collect()
        .filter(_.txId == "tx5").map(r => r.kind).sorted.toList
      assert(rows == List("unmatched-pay", "unmatched-receipt"),
        s"expected both sides unmatched for tx5, got $rows")
    } finally q.stop()
  }

  test("txMatchStream: a repeated same-side event supersedes (ValueState last-write-wins)") {
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val pays = MemoryStream[OrderEvent]
    val receipts = MemoryStream[ReceiptEvent]
    val out = StreamingApps.txMatchStream(pays.toDS(), receipts.toDS())
    val q = out.writeStream.format("memory").queryName("tx_dup_out")
      .outputMode("append").start()
    try {
      // two pays for the same txId (retry): the SECOND is the live one —
      // the reference's payEventState.update overwrites silently
      pays.addData(OrderEvent(1, "pay", "txr", t(10)),
        OrderEvent(2, "pay", "txr", t(11)))
      q.processAllAvailable()
      receipts.addData(ReceiptEvent("txr", "card", t(12)))
      q.processAllAvailable()
      pays.addData(OrderEvent(9, "pay", "tx9", t(100))) // flush timeouts
      q.processAllAvailable()
      val rows = spark.table("tx_dup_out").as[TxMatchOutcome].collect()
        .filter(_.txId == "txr")
      assert(rows.length == 1 && rows.head.kind == "matched" &&
        rows.head.orderId == 2 && rows.head.payTs == 11000L,
        s"superseded pay should not match: ${rows.toSeq}")
    } finally q.stop()
  }

  test("networkFlowStream: sliding windows expand an event into every covering window") {
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val ms = MemoryStream[ApacheLogEvent]
    def ev(sec: Long, url: String) = ApacheLogEvent("ip", "u", t(sec), "GET", url)
    // 20s windows sliding by 10s, no lateness: an event at t=15 counts in
    // windows ending 20s AND 30s (the Flink sliding-assigner replication)
    val out = StreamingApps.networkFlowStream(ms.toDS(), topN = 3,
      sizeMs = 20000L, slideMs = 10000L, latenessMs = 1L)
    val q = out.writeStream.format("memory").queryName("nf_slide_out")
      .outputMode("append").start()
    try {
      ms.addData(ev(15, "/x"), ev(15, "/x"), ev(25, "/y"))
      q.processAllAvailable()
      ms.addData(ev(120, "/head"))
      q.processAllAvailable()
      ms.addData(ev(130, "/head2")) // second advance fires armed timers
      q.processAllAvailable()
      val rows = spark.table("nf_slide_out").as[UrlViewRank].collect()
        .filter(r => r.url == "/x" || r.url == "/y")
        .map(r => (r.windowEnd, r.url, r.cnt)).toSet
      // /x@15 covers [0,20) and [10,30); /y@25 covers [10,30) and [20,40)
      assert(rows == Set((20000L, "/x", 2L), (30000L, "/x", 2L),
        (30000L, "/y", 1L), (40000L, "/y", 1L)), s"got $rows")
    } finally q.stop()
  }

  test("networkFlowStream: close once, amend on late data, drop past the lateness band") {
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val ms = MemoryStream[ApacheLogEvent]
    def ev(sec: Long, url: String, method: String = "GET") =
      ApacheLogEvent("ip", "u", t(sec), method, url)
    val out = StreamingApps.networkFlowStream(ms.toDS(), topN = 2,
      sizeMs = 10000L, slideMs = 10000L, latenessMs = 60000L)
    val q = out.writeStream.format("memory").queryName("nf_out")
      .outputMode("append").start()
    def w10 = spark.table("nf_out").as[UrlViewRank].collect()
      .filter(_.windowEnd == 10000L).toList
    try {
      // window [0,10s): A x3, B x2, C x1; POST filtered out
      ms.addData(ev(1, "/a"), ev(2, "/a"), ev(3, "/a"), ev(4, "/b"),
        ev(5, "/b"), ev(6, "/c"), ev(7, "/a", method = "POST"))
      q.processAllAvailable()
      assert(w10.isEmpty) // true event time has not passed windowEnd
      ms.addData(ev(65, "/head")) // wm -> 5s: true time passed 10s, close
      q.processAllAvailable()
      assert(w10.map(r => (r.url, r.cnt, r.rank, r.amended)).sorted ==
        List(("/a", 3L, 1, false), ("/b", 2L, 2, false)))
      // two late /b hits inside the lateness band: B overtakes A, amended
      ms.addData(ev(6, "/b"), ev(6, "/b"))
      q.processAllAvailable()
      val amended = w10.filter(_.amended)
      assert(amended.map(r => (r.url, r.cnt, r.rank)).sorted ==
        List(("/a", 3L, 2), ("/b", 4L, 1)))
      // past the lateness band: state GC'd, a stale event emits nothing
      ms.addData(ev(80, "/head")) // wm -> 20s > windowEnd: GC
      q.processAllAvailable()
      val before = w10.size
      ms.addData(ev(7, "/a")) // 7s < wm: dropped by the watermark
      q.processAllAvailable()
      assert(w10.size == before)
    } finally q.stop()
  }

  test("pageViewStream: salted partials merge to one total per closed window") {
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val ms = MemoryStream[UserBehavior]
    val got = scala.collection.mutable.ArrayBuffer[(Long, Long)]()
    val q = StreamingApps.pageViewStream(ms.toDF(), salts = 4,
        size = "10 seconds") { (batch, _) =>
        got.synchronized {
          got ++= batch.collect().map(r => (r.getLong(0), r.getLong(1)))
        }
      }.start()
    try {
      ms.addData((1 to 9).map(i =>
        UserBehavior(i, i, 0, if (i % 3 == 0) "buy" else "pv", t(i))): _*)
      q.processAllAvailable()
      assert(got.isEmpty) // window still open
      ms.addData(UserBehavior(99, 99, 0, "pv", t(60)))
      q.processAllAvailable()
      // 9 events, 3 buys filtered -> 6 pv in [0,10s), one merged row
      assert(got.filter(_._1 == 10L).toList == List((10L, 6L)))
    } finally q.stop()
  }

  test("appMarketStream: uninstall filtered, (channel, behavior) counts per window") {
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val ms = MemoryStream[MarketUserBehavior]
    val out = StreamingApps.appMarketStream(ms.toDS(),
      size = "10 seconds", slide = "10 seconds")
    val q = out.writeStream.format("memory").queryName("am_out")
      .outputMode("append").start()
    try {
      ms.addData(
        MarketUserBehavior("u1", "view", "appstore", t(1)),
        MarketUserBehavior("u2", "view", "appstore", t(2)),
        MarketUserBehavior("u3", "download", "appstore", t(3)),
        MarketUserBehavior("u4", "view", "weibo", t(4)),
        MarketUserBehavior("u5", "uninstall", "weibo", t(5)))
      q.processAllAvailable()
      ms.addData(MarketUserBehavior("u9", "view", "wechat", t(60)))
      q.processAllAvailable()
      val rows = spark.table("am_out")
        .as[(Long, Long, String, String, Long)].collect()
        .filter(_._1 == 0L).map(r => (r._3, r._4) -> r._5).toMap
      assert(rows == Map(("appstore", "view") -> 2L,
        ("appstore", "download") -> 1L, ("weibo", "view") -> 1L))
    } finally q.stop()
  }

  test("uniqueVisitorsStream approx matches exact on small data") {
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val ms = MemoryStream[UserBehavior]
    val out = StreamingApps.uniqueVisitorsStream(ms.toDF(), size = "10 seconds")
    val q = out.writeStream.format("memory").queryName("uv_out")
      .outputMode("append").start()
    try {
      ms.addData((1 to 20).map(i =>
        UserBehavior(i % 7, i, 0, "pv", t(i % 9))): _*)
      q.processAllAvailable()
      ms.addData(UserBehavior(99, 99, 0, "pv", t(60)))
      q.processAllAvailable()
      val uv = spark.table("uv_out").as[(Long, Long)].collect()
        .find(_._1 == 0L).map(_._2)
      assert(uv.exists(v => v >= 6 && v <= 8)) // 7 distinct users, approx
    } finally q.stop()
  }

  test("signals tier runs unchanged as a stateless streaming map") {
    // the Gopher repetition filter + fixed-weight classifier scoring are
    // pure column expressions, so the BATCH operators apply to a stream
    // verbatim: same rows out, and the running query holds ZERO state
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val ms = MemoryStream[(Long, String)]
    // clean docs long enough that no single bigram tops 18% of chars
    val clean1 = (1 to 40).map(i => s"alpha$i").mkString(" ")
    val clean2 = (1 to 40).map(i => s"beta$i").mkString(" ")
    val docs = Seq(
      (1L, clean1),
      (2L, "spam spam spam spam spam spam spam spam spam spam"), // dup-word frac 0.9
      (3L, clean2))
    val w = Array.tabulate(64)(b => b.toLong)
    val filtered = graft.operators.Repetition.filterByRepetition(
      ms.toDS().toDF("doc_id", "text"), "doc_id", "text")
    val out = graft.operators.Classifier.scoreMicro(filtered, "doc_id", "text", w)
    val q = out.writeStream.format("memory").queryName("sig_stream")
      .outputMode("append").start()
    try {
      ms.addData(docs: _*)
      q.processAllAvailable()
      val got = spark.table("sig_stream")
        .as[(Long, Long, Long)].collect().map(r => r._1 -> ((r._2, r._3))).toMap
      // batch twin over the same rows
      val batch = graft.operators.Classifier.scoreMicro(
        graft.operators.Repetition.filterByRepetition(
          docs.toDF("doc_id", "text"), "doc_id", "text"),
        "doc_id", "text", w)
        .as[(Long, Long, Long)].collect().map(r => r._1 -> ((r._2, r._3))).toMap
      assert(got == batch)
      assert(!got.contains(2L), "repetition filter must drop the spam page")
      assert(got.keySet == Set(1L, 3L))
      // stateless: the progress reports carry no state operators
      val st = q.lastProgress.stateOperators
      assert(st == null || st.isEmpty,
        s"signals map acquired state operators: ${st.length}")
    } finally q.stop()
  }

  test("dedupSpansIncremental runs as its documented foreachBatch production form") {
    // the q148 scaladoc's contract: wrap the batch operator in
    // foreachBatch with a corpus frame, appending each micro-batch's
    // REBUILT survivors to the accepted corpus — so a span accepted in
    // batch 1 is excised when batch 2 repeats it
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val accepted = scala.collection.mutable.ArrayBuffer[(Long, String)](
      (100L, "a b c d"))
    val out = scala.collection.mutable.Map.empty[Long, String]
    val ms = MemoryStream[(Long, String)]
    val q = ms.toDS().toDF("doc_id", "text").writeStream
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, _: Long) =>
        val corpus = accepted.toSeq.toDF("doc_id", "text")
        val res = graft.operators.Dedup.dedupSpansIncremental(
            batch, corpus, "doc_id", "text", n = 2)
          .select($"doc_id", $"text").as[(Long, String)].collect()
        res.foreach { case (id, t) => out(id) = t }
        accepted ++= res.filter(_._2.nonEmpty)
        ()
      }
      .start()
    try {
      // batch 1: "a b c d" exists in the corpus -> excised; "x y" is
      // fresh (the "d x" bridge anchor keeps its first occurrence but
      // d is covered by the corpus run)
      ms.addData((1L, "a b c d x y")); q.processAllAvailable()
      assert(out(1L) == "x y")
      // batch 2: "x y" was ACCEPTED in batch 1 -> excised now; "z"
      // survives
      ms.addData((2L, "x y z")); q.processAllAvailable()
      assert(out(2L) == "z")
    } finally q.stop()
  }

  test("streaming skip-gram pair counts converge to the batch matrix across micro-batches") {
    // the WordCount shape generalized to q149's pair space: stateless
    // flatMap + update-mode count. After all batches the accumulated
    // counts must equal the batch operator's n_pairs, and the state
    // row count must equal the DISTINCT pair count (vocab-bounded, not
    // corpus-bounded).
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val docs = Seq((1L, "a b c a b"), (2L, "b c d"), (3L, "a a a"))
    val ms = MemoryStream[(Long, String)]
    val out = ms.toDS()
      .flatMap { case (_, t) =>
        graft.operators.Cooccurrence.pairIter(t, 4).map(p => (p._1, p._2))
      }
      .toDF("center", "context")
      .groupBy($"center", $"context").count()
    val q = out.writeStream.format("memory").queryName("sg_stream")
      .outputMode("update").start()
    try {
      docs.foreach { d => ms.addData(d); q.processAllAvailable() }
      // update mode re-emits a pair's row each time its count changes;
      // the LAST emission per pair is the accumulated total
      val got = spark.table("sg_stream")
        .groupBy($"center", $"context")
        .agg(org.apache.spark.sql.functions.max($"count").as("n"))
        .as[(String, String, Long)].collect()
        .map { case (a, b, n) => (a, b) -> n }.toMap
      val batch = graft.operators.Cooccurrence.skipgramPairs(
          docs.toDF("doc_id", "text"), "text", window = 4)
        .select($"center", $"context", $"n_pairs")
        .as[(String, String, Long)].collect()
        .map { case (a, b, n) => (a, b) -> n }.toMap
      assert(got == batch)
      val st = q.lastProgress.stateOperators
      assert(st != null && st.nonEmpty &&
        st(0).numRowsTotal == batch.size.toLong,
        s"state rows != distinct pairs (${batch.size})")
    } finally q.stop()
  }
}
