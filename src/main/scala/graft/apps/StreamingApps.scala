package graft.apps

import graft.streaming.{Cep, StreamOps}
import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.DataStreamWriter

/** The reference's streaming jobs end-to-end: each is a thin composition
  * of the library operators over a streaming `Dataset` of the typed
  * records in [[graft.apps]] — a user of the reference runs the same job
  * by swapping `readTextFile → readStream` and keeping the operator
  * chain. Batch twins live in [[CaseStudies]]; these are the unbounded
  * forms with watermarks + state.
  */
object StreamingApps {

  /** HotItems streaming (reference HotItems.scala:47-58): pv filter →
    * sliding windowed count → top-N per closed window via the append-mode
    * rank (each window ranked exactly once, when its watermark closes).
    */
  def hotItemsStream(behaviors: DataFrame, topN: Int = 5,
      size: String = "1 hour", slide: String = "5 minutes",
      wmDelay: String = "0 seconds")(
      sink: (DataFrame, Long) => Unit): DataStreamWriter[org.apache.spark.sql.Row] = {
    val pv = behaviors.filter(col("behavior") === "pv")
    StreamOps.closedWindowTopN(pv.withWatermark("ts", wmDelay),
      window(col("ts"), size, slide), "itemId", topN, sink)
  }

  /** UV per window, streaming (reference UniqueVisitor/WithBloom): the
    * bounded-memory approx path is the 100 TB default.
    */
  def uniqueVisitorsStream(behaviors: DataFrame, size: String = "1 hour",
      wmDelay: String = "0 seconds", exact: Boolean = false): DataFrame = {
    val base = behaviors.filter(col("behavior") === "pv")
      .withWatermark("ts", wmDelay)
      .groupBy(window(col("ts"), size))
    val agg = if (exact) base.agg(countDistinct(col("userId")).as("uv"))
      else base.agg(approx_count_distinct(col("userId")).as("uv"))
    agg.select(col("window.start").cast("long").as("windowStart"), col("uv"))
  }

  /** Login-fail streaming (reference LoginFailWithCep): n consecutive
    * fails within the window, per user, via the streaming NFA.
    */
  def loginFailStream(logins: Dataset[LoginEvent], fails: Int = 3,
      withinMs: Long = 5000L): Dataset[LoginFailWarning] = {
    import logins.sparkSession.implicits._
    val pat = Cep.Pattern.begin[LoginEvent]("fail")(_.eventType == "fail")
      .times(fails).within(withinMs)
    Cep.detectStream(logins)(_.userId.toString, _.ts.getTime, pat)
      .filter(_.kind == "match")
      .map(r => LoginFailWarning(r.key.toLong, r.firstTs / 1000,
        r.lastTs / 1000, s"login failed ${r.events.size} times in a row"))
  }

  /** Ad-click blacklisting, streaming (reference
    * AdClickAnalysis.scala:81-123): per (user, ad), count clicks per
    * event-time day; crossing `threshold` warns ONCE per day; a new day
    * resets count + warned flag (the reference's daily reset timer,
    * expressed as a day-rollover comparison — the next event carries its
    * own day). State: one small tuple per ACTIVE (user, ad) pair only —
    * each update arms an event-time timeout at the end of the pair's day
    * plus `idleDays`, and the timeout removes the state, so idle pairs are
    * GC'd once the watermark passes that horizon. Without this the pair
    * space (users × ads) grows without bound at 100 TB. Requires a
    * watermark; `wmDelay` is applied to `ts` here.
    */
  case class ClickState(daySec: Long, count: Long, warned: Boolean)

  def adClickBlacklistStream(clicks: Dataset[AdClickLog], threshold: Long,
      wmDelay: String = "0 seconds", idleDays: Int = 1)
      : Dataset[BlackListUserWarning] = {
    import clicks.sparkSession.implicits._
    import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
    implicit val st: org.apache.spark.sql.Encoder[ClickState] =
      org.apache.spark.sql.Encoders.product[ClickState]
    val dayMs = 86400000L
    clicks.withWatermark("ts", wmDelay)
      .as[AdClickLog]
      .groupByKey(c => (c.userId, c.adId))
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
        (key: (Long, Long), it: Iterator[AdClickLog], state: GroupState[ClickState]) =>
          if (state.hasTimedOut) {
            // idle horizon passed: drop the pair's state entirely
            state.remove()
            Iterator.empty
          } else {
            val out = List.newBuilder[BlackListUserWarning]
            var s = state.getOption.getOrElse(ClickState(-1L, 0L, warned = false))
            it.toSeq.sortBy(_.ts.getTime).foreach { c =>
              val day = c.ts.getTime / dayMs
              // only a LATER day rolls the counter over; a late click from
              // an earlier day (admitted by wmDelay) must not wipe the
              // current day's count + warned flag — it belongs to a day
              // whose books are closed and is dropped
              if (day > s.daySec) s = ClickState(day, 0L, warned = false)
              if (day == s.daySec) {
                s = s.copy(count = s.count + 1)
                if (s.count > threshold && !s.warned) {
                  s = s.copy(warned = true)
                  out += BlackListUserWarning(key._1, key._2,
                    s"click over $threshold times today")
                }
              }
            }
            state.update(s)
            // GC when the watermark passes the end of this pair's day plus
            // the idle allowance (always > watermark: the day stems from an
            // event at/after watermark - wmDelay and idleDays >= 1)
            state.setTimeoutTimestamp((s.daySec + 1 + idleDays) * dayMs)
            out.result().iterator
          }
      }
  }

  /** Order-timeout streaming (reference OrderTimeoutWithCEP): matches AND
    * watermark-expired timeouts stream out of the same NFA (the timeout
    * side output).
    */
  def orderTimeoutStream(orders: Dataset[OrderEvent],
      payDeadlineMs: Long = 15 * 60 * 1000L): Dataset[OrderResult] = {
    import orders.sparkSession.implicits._
    val pat = Cep.Pattern.begin[OrderEvent]("create")(_.eventType == "create")
      .followedBy("pay")(_.eventType == "pay").within(payDeadlineMs)
    Cep.detectStream(orders)(_.orderId.toString, _.ts.getTime, pat,
        emitTimeouts = true)
      .map(r => OrderResult(r.key.toLong,
        if (r.kind == "match") "payed successfully" else "order timeout"))
  }

  /** Streaming conversion funnel — the analytics tier's CEP twin of the
    * q165/q171 batch funnels, and literally the reference's
    * `followedBy ... within` + timeout-extraction shape
    * (scala/.../demo/orderpaydetect/OrderTimeoutWithCEP.scala:38-56):
    * view → click → purchase per user, the WHOLE chain within `withinMs`
    * of its first event; partials past the deadline flush as
    * kind="timeout" when the watermark passes — the abandoned-funnel
    * stream a re-engagement pipeline consumes. Per-user NFA state rides
    * flatMapGroupsWithState: one keyed shuffle, state = open partials
    * per user, GC'd by the event-time timeout.
    *
    * Window semantics vs batch: CEP `within` bounds the chain from its
    * FIRST event; the batch q171 bounds each STEP from the previous one
    * (per-step deadlines can't be expressed as a single NFA `within` —
    * StreamingAppsSpec pins where the two agree and differ). Caller
    * supplies the watermark (the loginFailStream convention).
    */
  def funnelStream(events: Dataset[FunnelEvent],
      withinMs: Long = 3L * 86400000L,
      emitTimeouts: Boolean = true): Dataset[FunnelOutcome] = {
    import events.sparkSession.implicits._
    val pat = Cep.Pattern.begin[FunnelEvent]("view")(_.eventType == "view")
      .followedBy("click")(_.eventType == "click")
      .followedBy("purchase")(_.eventType == "purchase")
      .within(withinMs)
    Cep.detectStream(events)(_.userId.toString, _.ts.getTime, pat,
        emitTimeouts = emitTimeouts)
      .map(r => FunnelOutcome(r.key.toLong, r.kind, r.matchedSteps.size,
        r.firstTs, r.lastTs))
  }

  /** One side of the TxMatch union; payChannel = "" on the pay side,
    * orderId = -1 on the receipt side.
    */
  case class TxSide(txId: String, isPay: Boolean, orderId: Long,
      payChannel: String, ts: java.sql.Timestamp)

  /** At most ONE side is pending per txId — the moment both exist they
    * match and the state clears, so two pending sides never coexist.
    */
  case class TxPending(isPay: Boolean, orderId: Long, payChannel: String,
      tsMs: Long)

  /** TxMatch streaming (reference TxMatch.scala:43-113): dual-stream
    * reconciliation keyed by txId with per-side timeouts. The reference's
    * CoProcessFunction (two ValueStates + event-time timers + two side
    * outputs) becomes a TAGGED UNION of the two streams into one
    * `flatMapGroupsWithState` keyed by txId:
    *  - a side arrives and its counterpart is pending → emit "matched",
    *    clear state (reference processElement1/2 match branches);
    *  - a side arrives alone → store it and arm an event-time timeout at
    *    its deadline (pay waits `payWaitMs` = reference's +5000, receipt
    *    waits `receiptWaitMs` = +3000);
    *  - the timeout fires (watermark passed the deadline with no
    *    counterpart) → emit "unmatched-pay" / "unmatched-receipt" and
    *    remove the state (reference onTimer side outputs).
    * State: one small TxPending per UNMATCHED txId only — matched pairs
    * clear instantly and stragglers are GC'd by the timeout, so state is
    * bounded by the in-flight mismatch horizon at any corpus size.
    * Caller sets `wmDelay` ≥ the cross-stream arrival skew it wants to
    * tolerate (the reference's ascending-timestamp watermark = 0).
    */
  def txMatchStream(pays: Dataset[OrderEvent], receipts: Dataset[ReceiptEvent],
      payWaitMs: Long = 5000L, receiptWaitMs: Long = 3000L,
      wmDelay: String = "0 seconds"): Dataset[TxMatchOutcome] = {
    import pays.sparkSession.implicits._
    import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
    implicit val st: org.apache.spark.sql.Encoder[TxPending] =
      org.apache.spark.sql.Encoders.product[TxPending]
    val paySide = pays.filter(_.eventType == "pay")
      .map(o => TxSide(o.txId, isPay = true, o.orderId, "", o.ts))
    val receiptSide = receipts
      .map(r => TxSide(r.txId, isPay = false, -1L, r.payChannel, r.ts))
    paySide.union(receiptSide)
      .withWatermark("ts", wmDelay)
      .groupByKey(_.txId)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
        (txId: String, it: Iterator[TxSide], state: GroupState[TxPending]) =>
          def arm(atMs: Long): Unit = // a deadline already at/behind the
            // watermark fires on the NEXT watermark advance (Flink fires
            // past-due timers immediately; micro-batch quantizes to the
            // following batch) — Spark rejects a non-future timestamp
            state.setTimeoutTimestamp(
              math.max(atMs, state.getCurrentWatermarkMs() + 1))
          if (state.hasTimedOut) {
            val p = state.get
            state.remove()
            Iterator.single(if (p.isPay)
              TxMatchOutcome(txId, "unmatched-pay", p.orderId, "", p.tsMs, -1L)
            else
              TxMatchOutcome(txId, "unmatched-receipt", -1L, p.payChannel, -1L, p.tsMs))
          } else {
            val out = List.newBuilder[TxMatchOutcome]
            var pending = state.getOption
            // event-time order; pay before receipt on ties (isPay sorts
            // first via !isPay = false) for a deterministic matched row
            it.toSeq.sortBy(e => (e.ts.getTime, !e.isPay)).foreach { e =>
              pending match {
                case Some(p) if p.isPay != e.isPay =>
                  out += (if (e.isPay)
                    TxMatchOutcome(txId, "matched", e.orderId, p.payChannel,
                      e.ts.getTime, p.tsMs)
                  else
                    TxMatchOutcome(txId, "matched", p.orderId, e.payChannel,
                      p.tsMs, e.ts.getTime))
                  pending = None
                case _ =>
                  // same side twice: the reference's ValueState.update —
                  // last write wins, the earlier one is superseded
                  pending = Some(TxPending(e.isPay, e.orderId, e.payChannel,
                    e.ts.getTime))
              }
            }
            pending match {
              case Some(p) =>
                state.update(p)
                arm(p.tsMs + (if (p.isPay) payWaitMs else receiptWaitMs))
              case None => if (state.exists) state.remove()
            }
            out.result().iterator
          }
      }
  }

  /** Per-window URL counts + emitted flag — the reference TopNHotPages
    * MapState plus its two timers (`NetworkFlow.scala:104-146`) as one
    * engine-managed state value.
    */
  case class UrlWinState(counts: Map[String, Long], emitted: Boolean)

  /** NetworkFlow streaming (reference NetworkFlow.scala:50-146): top-N
    * URLs per sliding window WITH late re-emission. Semantics replayed:
    *  - window closes (max event time passes windowEnd) → emit that
    *    window's top-N once (reference timer at windowEnd+1);
    *  - a late event inside `latenessMs` (reference allowedLateness 1 min)
    *    re-fires the window → emit an AMENDED top-N (`amended = true`);
    *  - at windowEnd+latenessMs (true time) the state is dropped
    *    (reference's second timer clearing the MapState).
    * The WATERMARK carries the lateness band (wm = maxEventTime −
    * latenessMs) so Spark's late-row filter admits exactly the
    * stragglers the reference's allowedLateness admits; the operator's
    * clock therefore runs `latenessMs` behind true event time, and the
    * timers compensate: first-close arms at windowEnd − latenessMs
    * (≡ true windowEnd), GC at windowEnd (≡ true windowEnd + lateness).
    * Two documented deltas from Flink: admission is per-ROW against the
    * stream head (an event is admitted while it is within `latenessMs`
    * of max event time — marginally tighter than Flink's per-WINDOW
    * purge bound), and during startup (maxEventTime < latenessMs) the
    * watermark is still 0 so first emissions quantize to the first real
    * watermark advance.
    * Each event expands to its size/slide covering windows before keying —
    * the same replication Flink's sliding assigner does internally; state
    * per open window is the URL→count map the reference also holds.
    */
  def networkFlowStream(logs: Dataset[ApacheLogEvent], topN: Int = 3,
      sizeMs: Long = 600000L, slideMs: Long = 5000L,
      latenessMs: Long = 60000L): Dataset[UrlViewRank] = {
    import logs.sparkSession.implicits._
    import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
    implicit val st: org.apache.spark.sql.Encoder[UrlWinState] =
      org.apache.spark.sql.Encoders.product[UrlWinState]
    require(sizeMs % slideMs == 0, s"slide must divide size: $sizeMs/$slideMs")
    val covering = logs.filter(_.method == "GET").flatMap { e =>
      val ts = e.ts.getTime
      val lastStart = ts - (ts % slideMs)
      (0L until (sizeMs / slideMs)).iterator
        .map(i => (lastStart - i * slideMs + sizeMs, e.url, e.ts))
    }.toDF("windowEnd", "url", "ts")
      .withWatermark("ts", s"$latenessMs milliseconds")
      .as[(Long, String, java.sql.Timestamp)]
    covering.groupByKey(_._1)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
        (windowEnd: Long, it: Iterator[(Long, String, java.sql.Timestamp)],
            state: GroupState[UrlWinState]) =>
          def arm(atMs: Long): Unit = state.setTimeoutTimestamp(
            math.max(atMs, state.getCurrentWatermarkMs() + 1))
          def rank(s: UrlWinState, amended: Boolean): Iterator[UrlViewRank] =
            s.counts.toSeq.sortBy { case (url, cnt) => (-cnt, url) }
              .take(topN).zipWithIndex.iterator
              .map { case ((url, cnt), i) =>
                UrlViewRank(windowEnd, url, cnt, i + 1, amended) }
          if (state.hasTimedOut) {
            val s = state.get
            if (!s.emitted) {
              // first close (wm > windowEnd - lateness ⟺ true event time
              // passed windowEnd): emit, keep counts for the lateness band
              state.update(s.copy(emitted = true))
              arm(windowEnd) // GC: wm > windowEnd ⟺ true time > end+lateness
              rank(s, amended = false)
            } else { state.remove(); Iterator.empty } // lateness GC
          } else {
            var s = state.getOption.getOrElse(UrlWinState(Map.empty, emitted = false))
            it.foreach { case (_, url, _) =>
              s = s.copy(counts = s.counts.updated(url,
                s.counts.getOrElse(url, 0L) + 1L))
            }
            if (s.emitted) {
              // late re-fire: window already closed, re-emit amended rank
              state.update(s)
              arm(windowEnd)
              rank(s, amended = true)
            } else {
              state.update(s)
              arm(windowEnd - latenessMs) // ≡ true-time windowEnd
              Iterator.empty
            }
          }
      }
  }

  /** PageView streaming (reference PageView.scala:48-109): the salted
    * two-phase PV count, unbounded. Phase 1 — content-salted
    * (window, salt) partial counts under a watermark (the reference's
    * MyMapper random-key spread, retry-stable here); phase 2 — the
    * per-window merge the reference does in TotalPvCountResult with
    * ValueState + windowEnd+1 timer. In append mode every partial of a
    * window is emitted in exactly the micro-batch whose watermark closed
    * the window, so the phase-2 merge is a per-batch groupBy — no second
    * stateful operator, no all-to-one shuffle of raw events (|salts| rows
    * per window cross the exchange, same as batch [[CaseStudies
    * .pageViewSalted]]).
    */
  def pageViewStream(behaviors: DataFrame, salts: Int = 16,
      size: String = "1 hour", wmDelay: String = "0 seconds")(
      sink: (DataFrame, Long) => Unit): DataStreamWriter[org.apache.spark.sql.Row] = {
    behaviors.filter(col("behavior") === "pv")
      .withWatermark("ts", wmDelay)
      .withColumn("salt",
        pmod(xxhash64(col("userId"), col("itemId"), col("ts")), lit(salts))
          .cast("int"))
      .groupBy(window(col("ts"), size), col("salt"))
      .agg(count(lit(1)).as("partial"))
      .writeStream.outputMode("append").foreachBatch {
        (batch: DataFrame, id: Long) =>
          sink(batch.groupBy(col("window"))
            .agg(sum(col("partial")).as("pv"))
            .select(col("window.end").cast("long").as("windowEnd"),
              col("pv")), id)
          ()
      }
  }

  /** AppMarket streaming (reference AppMarketByChannel.scala:30-46):
    * uninstall filter → sliding (channel, behavior) window counts, append
    * mode (each window emitted once, closed by the watermark). The
    * reference's ProcessWindowFunction carries window start/end strings;
    * here both bounds ride along as epoch seconds.
    */
  def appMarketStream(events: Dataset[MarketUserBehavior],
      size: String = "1 hour", slide: String = "10 seconds",
      wmDelay: String = "0 seconds"): DataFrame =
    events.filter(col("behavior") =!= "uninstall")
      .withWatermark("ts", wmDelay)
      .groupBy(window(col("ts"), size, slide), col("channel"), col("behavior"))
      .agg(count(lit(1)).as("cnt"))
      .select(col("window.start").cast("long").as("windowStart"),
        col("window.end").cast("long").as("windowEnd"),
        col("channel"), col("behavior"), col("cnt"))
}
