package graft.apps

import graft.functions.TextFunctions.tokens
import graft.streaming.Cep
import org.apache.spark.sql.{Column, DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** The reference's eight case-study jobs, re-expressed as Spark plans over
  * the typed inputs in [[graft.apps]] types. Each takes/returns DataFrames
  * so the same logic runs batch (tests/oracle) and streaming (readStream
  * input + the noted output mode). Scale notes inline.
  */
object CaseStudies {

  /** WordCount (reference scala/.../wc/StreamWordCount.scala:13-22):
    * explode+groupBy — streaming: update mode.
    */
  def wordCount(lines: DataFrame, col0: String = "value"): DataFrame =
    lines.select(explode(tokens(col(col0))).as("word"))
      .filter(length(col("word")) > 0)
      .groupBy("word").agg(count(lit(1)).as("cnt"))

  /** HotItems Top-N (reference scala/.../demo/hotitems/HotItems.scala:47-58):
    * pv filter → 1h/5min sliding window count per item → top-N per window
    * end. Batch: rank window; streaming: windowed agg in append mode +
    * foreachBatch rank (rank needs the closed window's full set).
    * Scale: the windowed count pre-aggregates map-side, so the rank stage
    * sees |items|×|windows| rows, not raw events.
    */
  def hotItems(behaviors: Dataset[UserBehavior], topN: Int = 5,
      size: String = "1 hour", slide: String = "5 minutes"): DataFrame = {
    val counts = behaviors.filter(col("behavior") === "pv")
      .groupBy(window(col("ts"), size, slide), col("itemId"))
      .agg(count(lit(1)).as("cnt"))
      .select(col("window.end").cast("long").as("windowEnd"), col("itemId"), col("cnt"))
    counts.withColumn("rank", row_number().over(
        Window.partitionBy(col("windowEnd")).orderBy(col("cnt").desc, col("itemId"))))
      .filter(col("rank") <= topN)
  }

  /** PageView per hour with two-phase salted aggregation (reference
    * PageView.scala:48-59,106-109 — the reference salts by hand because a
    * single "pv" key would hot-spot one subtask; same physics at 100 TB).
    * Phase 1 aggregates (window, salt) partials, phase 2 merges — the
    * all-to-one shuffle carries |salts| rows per window instead of |events|.
    */
  def pageViewSalted(behaviors: Dataset[UserBehavior], salts: Int = 16,
      size: String = "1 hour"): DataFrame = {
    // content-derived salt, not rand(): rand's row->salt assignment
    // depends on partition layout and row order, so task retries or an
    // AQE re-plan could re-salt rows mid-job; hashing row content is
    // retry-stable and just as uniform for spreading the one hot "pv" key
    val salted = behaviors.filter(col("behavior") === "pv")
      .withColumn("salt",
        pmod(xxhash64(col("userId"), col("itemId"), col("ts")), lit(salts))
          .cast("int"))
      .groupBy(window(col("ts"), size), col("salt"))
      .agg(count(lit(1)).as("partial"))
    salted.groupBy(col("window"))
      .agg(sum(col("partial")).as("pv"))
      .select(col("window.start").cast("long").as("windowStart"), col("pv"))
  }

  /** UniqueVisitor per window (reference UniqueVisitor.scala:43-48 exact
    * set; UniqueVisitorWithBloom.scala:76-120 bloom at scale). `exact`
    * = COUNT(DISTINCT); at 100 TB use approx (HLL++) — the engine's
    * bloom-style bounded-memory counterpart of the reference's Redis
    * bitmap.
    */
  def uniqueVisitors(behaviors: Dataset[UserBehavior], size: String = "1 hour",
      exact: Boolean = true): DataFrame = {
    val base = behaviors.filter(col("behavior") === "pv")
      .groupBy(window(col("ts"), size))
    val agg = if (exact) base.agg(countDistinct(col("userId")).as("uv"))
      else base.agg(approx_count_distinct(col("userId")).as("uv"))
    agg.select(col("window.start").cast("long").as("windowStart"), col("uv"))
  }

  /** UV via bloom-filter Aggregator (reference
    * UniqueVisitorWithBloom.scala:76-120): bounded-memory distinct count
    * per window — state is one OR-mergeable bitmap per window.
    */
  def uniqueVisitorsBloom(behaviors: Dataset[UserBehavior],
      size: String = "1 hour", numBits: Int = 1 << 20): DataFrame = {
    val bloomUdaf = udaf(new graft.functions.BloomDistinct(numBits))
    behaviors.filter(col("behavior") === "pv")
      .groupBy(window(col("ts"), size))
      .agg(bloomUdaf(col("userId")).as("uv"))
      .select(col("window.start").cast("long").as("windowStart"), col("uv"))
  }

  /** Login-fail detection (reference LoginFail.scala:57-104 /
    * LoginFailWithCep.scala:38-54): n consecutive fails within the window.
    */
  def loginFailWarnings(logins: Dataset[LoginEvent], fails: Int = 3,
      withinMs: Long = 5000L): Dataset[LoginFailWarning] = {
    import logins.sparkSession.implicits._
    val pat = Cep.Pattern.begin[LoginEvent]("fail")(_.eventType == "fail")
      .times(fails).within(withinMs)
    Cep.detectBatch(logins)(_.userId.toString, _.ts.getTime, pat)
      .filter(_.kind == "match")
      .map { r =>
        LoginFailWarning(r.key.toLong, r.firstTs / 1000, r.lastTs / 1000,
          s"login failed ${r.events.size} times in a row")
      }
  }

  /** Order pay timeout (reference OrderTimeout.scala:50-128): matched
    * create→pay within the deadline, timeouts extracted as their own
    * results (the reference's side output).
    */
  def orderTimeouts(orders: Dataset[OrderEvent],
      payDeadlineMs: Long = 15 * 60 * 1000L): Dataset[OrderResult] = {
    import orders.sparkSession.implicits._
    val pat = Cep.Pattern.begin[OrderEvent]("create")(_.eventType == "create")
      .followedBy("pay")(_.eventType == "pay").within(payDeadlineMs)
    Cep.detectBatch(orders)(_.orderId.toString, _.ts.getTime, pat,
        emitTimeouts = true, endOfInputTimeouts = true)
      .map { r =>
        OrderResult(r.key.toLong,
          if (r.kind == "match") "payed successfully" else "order timeout")
      }
  }

  /** Transaction matching (reference TxMatch.scala:43-113 CoProcess form;
    * TxMatchWithJoin.scala:38-44 interval-join form): pays ⋈ receipts on
    * txId within [-5s, +10s]; unmatched sides surfaced like the
    * reference's side outputs. Streaming: stream-stream interval join with
    * watermarks; unmatched = left/right anti joins per closed window.
    */
  def txMatch(pays: Dataset[OrderEvent], receipts: Dataset[ReceiptEvent])
      : (DataFrame, DataFrame, DataFrame) = {
    val p = pays.filter(col("eventType") === "pay")
      .select(col("orderId"), col("txId"), col("ts").as("payTs"))
    val r = receipts.select(col("txId").as("rTxId"), col("payChannel"),
      col("ts").as("receiptTs"))
    val joined = p.join(r, p("txId") === r("rTxId") &&
      r("receiptTs") >= p("payTs") - expr("INTERVAL 5 SECONDS") &&
      r("receiptTs") <= p("payTs") + expr("INTERVAL 10 SECONDS"))
    val matched = joined.select("orderId", "txId", "payChannel", "payTs", "receiptTs")
    val unmatchedPays = p.join(r, p("txId") === r("rTxId"), "left_anti")
    val unmatchedReceipts = r.join(p, p("txId") === r("rTxId"), "left_anti")
    (matched, unmatchedPays, unmatchedReceipts)
  }

  /** Ad-click analysis (reference AdClickAnalysis.scala:44,81-123):
    * blacklist users clicking the same ad over `threshold` times per day
    * (warn once per day), plus province-window click counts excluding
    * blacklisted pairs.
    */
  def adClickAnalysis(clicks: Dataset[AdClickLog], threshold: Long = 100L,
      size: String = "1 hour", slide: String = "5 seconds")
      : (DataFrame, DataFrame) = {
    val daily = clicks
      .withColumn("day", col("ts").cast("date"))
      .groupBy(col("day"), col("userId"), col("adId"))
      .agg(count(lit(1)).as("clicks"))
    val blacklist = daily.filter(col("clicks") > threshold)
      .select(col("userId"), col("adId"), col("day"),
        concat(lit("click over "), lit(threshold), lit(" times today")).as("msg"))
    val clean = clicks.join(blacklist.select("userId", "adId").distinct(),
      Seq("userId", "adId"), "left_anti")
    val byProvince = clean
      .groupBy(window(col("ts"), size, slide), col("province"))
      .agg(count(lit(1)).as("cnt"))
      .select(col("window.end").cast("long").as("windowEnd"), col("province"), col("cnt"))
    (byProvince, blacklist)
  }

  /** App-market channel stats (reference AppMarketByChannel.scala:30-46):
    * uninstall filter → (channel, behavior) sliding-window counts.
    */
  def appMarketByChannel(events: Dataset[MarketUserBehavior],
      size: String = "1 hour", slide: String = "10 seconds"): DataFrame =
    events.filter(col("behavior") =!= "uninstall")
      .groupBy(window(col("ts"), size, slide), col("channel"), col("behavior"))
      .agg(count(lit(1)).as("cnt"))
      .select(col("window.start").cast("long").as("windowStart"),
        col("channel"), col("behavior"), col("cnt"))

  /** BMW telemetry histograms (reference cn/bitnei/BMWMileAvgDay.scala:40-56,
    * BMWDayDriveSoc.scala:39-49): city filter, model-name normalization
    * (when-chains), fixed-width binning, count per (model, bin).
    */
  def telemetryHistogram(rows: DataFrame, valueCol: String, binWidth: Double,
      maxBin: Double, modelCol: String = "model",
      cities: Seq[String] = Nil): DataFrame = {
    val filtered = if (cities.nonEmpty)
      rows.filter(col("city").isin(cities.map(c => c: Any): _*)) else rows
    filtered
      .withColumn("bin",
        least(floor(col(valueCol) / binWidth) * binWidth, lit(maxBin)))
      .groupBy(col(modelCol), col("bin"))
      .agg(count(lit(1)).as("cnt"))
  }

  /** Sensor average (reference _01_AverageSensorReadings.scala:56-82):
    * Fahrenheit→Celsius then windowed avg per sensor.
    */
  def averageSensor(readings: Dataset[SensorReading], size: String = "5 seconds")
      : DataFrame =
    readings
      .withColumn("celsius", (col("temperature") - 32) * (5.0 / 9.0))
      .groupBy(window(col("ts"), size), col("id"))
      .agg(avg(col("celsius")).as("avgTemp"))
      .select(col("window.end").cast("long").as("windowEnd"), col("id"), col("avgTemp"))
}
