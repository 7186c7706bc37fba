package graft.streaming

import org.apache.spark.sql.{Column, DataFrame, Dataset, Encoder, Encoders, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{DataStreamWriter, GroupState, GroupStateTimeout, OutputMode, StreamingQuery}

/** Streaming building blocks mapping the reference's DataStream surface
  * onto Structured Streaming:
  *
  *  - side outputs (reference java/.../function/SideOutputDemo.java:22-50):
  *    one plan, n tagged sinks via a foreachBatch splitter.
  *  - late-data capture (reference sideOutputLateData,
  *    java/.../function/WindowLateDateDemo.java:45-56): watermark-lag
  *    pre-filter approximation — Spark drops late rows silently, so the
  *    split happens before the windowed agg.
  *  - keyed running aggregates with TTL (reference
  *    java/.../state/KeyedStateTTLDemo.java:64-70 state TTL;
  *    scala/.../streamingwithflink/_13_StatefulProcessFunction.scala:43-77
  *    idle-cleanup timers).
  *  - timer multiplexing (reference NetworkFlow.scala:112-123 uses two
  *    timers per key; Spark allows one timeout per key, so deadlines are
  *    stored in state and the single timeout re-arms to the earliest).
  *  - dimension join with per-batch refresh (reference
  *    java/.../state/BroadcastStateDemo.java:50-200 updatable broadcast
  *    dim table).
  */
object StreamOps {

  /** Watermarked tumbling/sliding window aggregation — thin wrapper fixing
    * the reference's window-with-watermark idiom.
    */
  def windowedAgg(df: DataFrame, tsCol: String, watermarkDelay: String,
      windowSize: String, slide: Option[String], keys: Seq[Column],
      aggs: Seq[Column]): DataFrame = {
    val w = slide.map(s => window(col(tsCol), windowSize, s))
      .getOrElse(window(col(tsCol), windowSize))
    df.withWatermark(tsCol, watermarkDelay)
      .groupBy((w +: keys): _*)
      .agg(aggs.head, aggs.tail: _*)
  }

  /** Side-output splitter: run the stream once per micro-batch, fan the
    * cached batch out to each tagged handler (main + side outputs). The
    * batch is cached so the source is read once — the Spark-idiomatic
    * replacement for OutputTag.
    */
  def sideOutputs(df: DataFrame, tags: Map[String, Column],
      handlers: Map[String, (DataFrame, Long) => Unit]): DataStreamWriter[org.apache.spark.sql.Row] =
    df.writeStream.foreachBatch { (batch: DataFrame, id: Long) =>
      batch.persist()
      try tags.foreach { case (tag, pred) =>
        handlers.get(tag).foreach(h => h(batch.filter(pred), id))
      } finally batch.unpersist()
      ()
    }

  /** Batch split by predicates (the bounded analog of side outputs). */
  def split(df: DataFrame, tags: Map[String, Column]): Map[String, DataFrame] =
    tags.map { case (t, pred) => t -> df.filter(pred) }

  /** Late-row splitter: rows older than (max event time in batch − delay)
    * are tagged late. An approximation of the reference's
    * sideOutputLateData: Spark's own watermark would silently drop them
    * inside the windowed agg, so the split runs upstream.
    */
  def tagLate(df: DataFrame, tsCol: String, delay: String): DataFrame = {
    val mx = df.agg(max(col(tsCol)).as("__mx"))
    df.crossJoin(broadcast(mx))
      .withColumn("is_late", col(tsCol) < col("__mx") - expr(s"INTERVAL $delay"))
      .drop("__mx")
  }

  /** Keyed running aggregate with idle-state TTL: value = running fold of
    * `update`; state removed (and final value emitted with `expired=true`)
    * after `ttlMs` of processing-time inactivity. One output per updated
    * key per micro-batch (update-mode ≈ the reference's per-record
    * continuous emission at micro-batch granularity).
    */
  case class KeyedValue[V](key: String, value: V, expired: Boolean)

  /** Internal boxed state (kryo needs a public non-primitive class). */
  case class Box[V](v: V)

  def runningAggregateWithTtl[E, V](ds: Dataset[E])(keyFn: E => String,
      zero: V, update: (V, E) => V, ttlMs: Long): Dataset[KeyedValue[V]] = {
    implicit val ve: Encoder[Box[V]] = Encoders.kryo[Box[V]]
    implicit val oe: Encoder[KeyedValue[V]] = Encoders.kryo[KeyedValue[V]]
    implicit val se: Encoder[String] = Encoders.STRING
    // ProcessingTimeTimeout makes the engine run timeout-evaluation batches
    // continuously — only worth it when a TTL is actually requested.
    val timeoutConf = if (ttlMs > 0) GroupStateTimeout.ProcessingTimeTimeout
      else GroupStateTimeout.NoTimeout
    ds.groupByKey(keyFn).flatMapGroupsWithState(
      OutputMode.Update, timeoutConf) {
      (key: String, it: Iterator[E], state: GroupState[Box[V]]) =>
        if (!it.hasNext && state.hasTimedOut) {
          val last = state.getOption.map(_.v).getOrElse(zero)
          state.remove()
          Iterator(KeyedValue(key, last, expired = true))
        } else {
          val next = it.foldLeft(state.getOption.map(_.v).getOrElse(zero))(update)
          state.update(Box(next))
          if (ttlMs > 0) state.setTimeoutDuration(ttlMs)
          Iterator(KeyedValue(key, next, expired = false))
        }
    }
  }

  /** Multiplexed per-key timers: Spark grants one timeout per key; this
    * keeps a deadline list in state and always arms the earliest, firing
    * all due deadlines on each wake-up (the reference's two-timer pattern,
    * NetworkFlow.scala:112-123, generalized to n timers).
    */
  case class TimerFire(key: String, deadlineMs: Long, tag: String)
  /** Internal deadline-list state (public: kryo-encoded in the state store). */
  case class TimerState(deadlines: List[(Long, String)])

  /** `arm`: per incoming event, deadlines (epochMs, tag) to register. */
  def multiplexedTimers[E](ds: Dataset[E])(keyFn: E => String,
      arm: E => Seq[(Long, String)]): Dataset[TimerFire] = {
    implicit val oe: Encoder[TimerFire] = Encoders.kryo[TimerFire]
    implicit val ts: Encoder[TimerState] = Encoders.kryo[TimerState]
    implicit val se: Encoder[String] = Encoders.STRING
    ds.groupByKey(keyFn).flatMapGroupsWithState(
      OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
      (key: String, it: Iterator[E], state: GroupState[TimerState]) =>
        val cur = state.getOption.getOrElse(TimerState(Nil))
        val wm = state.getCurrentWatermarkMs()
        val withNew = TimerState(cur.deadlines ++ it.flatMap(arm).toList)
        val (due, pending) = withNew.deadlines.partition(_._1 <= wm)
        if (pending.isEmpty) state.remove()
        else { state.update(TimerState(pending)); state.setTimeoutTimestamp(pending.map(_._1).min) }
        due.map { case (d, tag) => TimerFire(key, d, tag) }.iterator
    }
  }

  /** Control-stream gating (reference
    * scala/.../streamingwithflink/_05_CoProcessFunctionTimers.scala:29-81:
    * a switch event opens a per-key gate for N ms; data events pass only
    * while the gate is open). The two differently-typed streams become a
    * tagged union — the Spark replacement for connect+CoProcessFunction —
    * and the gate deadline lives in per-key state.
    */
  case class GateControl(key: String, tsMs: Long, openForMs: Long)
  /** Internal tagged envelope + gate state (public for kryo). */
  case class GateEnv[E](key: String, tsMs: Long, control: Option[GateControl],
      payload: Option[E])

  /** Ordering approximation (documented delta vs the reference's
    * CoProcessFunction): events are ordered by tsMs only *within* a
    * micro-batch. A control event arriving in a *later* micro-batch than
    * data events it should have gated cannot retroactively open the gate —
    * those data rows were already dropped. Per-key state is bounded: a key
    * whose gate is closed w.r.t. the events seen keeps no state; with
    * `gcIdleMs` > 0 an open-gate key idle that long (processing time) is
    * additionally GC'd — leave it 0 in tests, since ProcessingTimeTimeout
    * makes the engine run continuous no-data batches and
    * `processAllAvailable()` never settles (production streams with real
    * triggers want it on).
    */
  def gateByControl[E](data: Dataset[E], dataKey: E => String, dataTs: E => Long,
      controls: Dataset[GateControl], gcIdleMs: Long = 0L): Dataset[E] = {
    implicit val ee: Encoder[GateEnv[E]] = Encoders.kryo[GateEnv[E]]
    implicit val oe: Encoder[E] = data.encoder
    implicit val se: Encoder[String] = Encoders.STRING
    implicit val be: Encoder[Box[Long]] = Encoders.kryo[Box[Long]]
    val tagged = data.map(e => GateEnv(dataKey(e), dataTs(e), None, Some(e)))
      .union(controls.map(c => GateEnv[E](c.key, c.tsMs, Some(c), None)))
    val timeoutConf = if (gcIdleMs > 0) GroupStateTimeout.ProcessingTimeTimeout
      else GroupStateTimeout.NoTimeout
    tagged.groupByKey(_.key).flatMapGroupsWithState(
      OutputMode.Append, timeoutConf) {
      (_: String, it: Iterator[GateEnv[E]], state: GroupState[Box[Long]]) =>
        if (!it.hasNext && state.hasTimedOut) {
          state.remove() // idle open-gate key: GC
          Iterator.empty
        } else {
          var openUntil = state.getOption.map(_.v).getOrElse(Long.MinValue)
          var maxTs = Long.MinValue
          val out = List.newBuilder[E]
          it.toSeq.sortBy(_.tsMs).foreach { env =>
            maxTs = math.max(maxTs, env.tsMs)
            env.control match {
              case Some(c) => openUntil = math.max(openUntil, c.tsMs + c.openForMs)
              case None if env.tsMs < openUntil => out ++= env.payload
              case None => ()
            }
          }
          if (openUntil > maxTs) {
            // gate still open beyond what we've seen: keep state, bounded
            // by the optional idle TTL so abandoned keys don't pile up
            state.update(Box(openUntil))
            if (gcIdleMs > 0) state.setTimeoutDuration(gcIdleMs)
          } else state.remove() // closed gate ≡ no state (default is closed)
          out.result().iterator
        }
    }
  }

  /** Streaming Top-N per closed window (reference HotItems
    * scala/.../demo/hotitems/HotItems.scala:97-136: ListState buffer +
    * event-time timer at windowEnd+1 → sort desc → take N). Spark form:
    * watermarked windowed count in APPEND mode — a window row is emitted
    * exactly once, when the watermark closes it — then each micro-batch
    * ranks the windows it just received and hands (window, key, cnt, rank)
    * rows to `sink`. The rank runs over |keys|x|closed windows this batch|
    * pre-aggregated rows, never raw events — the same state-pressure
    * optimization the reference encodes manually with its incremental
    * CountAgg.
    */
  def streamingTopN(df: DataFrame, tsCol: String, wmDelay: String,
      windowSize: String, keyCol: String, n: Int,
      sink: (DataFrame, Long) => Unit): DataStreamWriter[org.apache.spark.sql.Row] =
    df.withWatermark(tsCol, wmDelay)
      .groupBy(window(col(tsCol), windowSize), col(keyCol))
      .agg(count(lit(1)).as("cnt"))
      .writeStream.outputMode("append").foreachBatch {
        (batch: DataFrame, id: Long) =>
          val w = org.apache.spark.sql.expressions.Window
            .partitionBy(col("window")).orderBy(col("cnt").desc, col(keyCol))
          sink(batch.withColumn("rank", row_number().over(w))
            .filter(col("rank") <= n)
            .select(col("window.end").cast("long").as("windowEnd"),
              col(keyCol), col("cnt"), col("rank")), id)
          ()
      }

  /** Stream-static dimension join with per-batch dim refresh — the
    * updatable broadcast-state dim table: the dim is re-read every micro
    * batch inside foreachBatch, then broadcast-joined.
    */
  def refreshedDimJoin(stream: DataFrame, loadDim: SparkSession => DataFrame,
      joinCols: Seq[String], sink: (DataFrame, Long) => Unit): DataStreamWriter[org.apache.spark.sql.Row] =
    stream.writeStream.foreachBatch { (batch: DataFrame, id: Long) =>
      val dim = loadDim(batch.sparkSession)
      sink(batch.join(broadcast(dim), joinCols, "left_outer"), id)
      ()
    }

  /** One emission of [[earlyFinalWindowCount]]: `kind` = "early" (running
    * result, every micro-batch the window receives data — the reference's
    * 1s early-fire trigger at micro-batch granularity) or "final"
    * (watermark closed the window; state purged — FIRE_AND_PURGE).
    */
  case class WinFire(key: String, windowStart: Long, cnt: Long, kind: String)

  /** Custom-trigger window semantics (reference
    * scala/.../streamingwithflink/_07_CustomWindows.scala:76-117: early
    * fire every second, FIRE_AND_PURGE on window close) — the exact
    * control Spark's built-in windowed aggregation doesn't expose, built
    * on flatMapGroupsWithState keyed by (key, window):
    *  - every micro-batch with data for a window emits an "early" running
    *    count (update-style preview in an append stream);
    *  - an event-time timeout at window end fires the "final" count and
    *    REMOVES the state (purge — state is bounded by open windows only).
    * Caller must set a watermark on the source; window end at-or-behind
    * the watermark finalizes immediately (late-but-within-delay data).
    */
  def earlyFinalWindowCount[E](ds: Dataset[E])(keyFn: E => String,
      tsMs: E => Long, windowMs: Long): Dataset[WinFire] = {
    implicit val ke: Encoder[(String, Long)] =
      Encoders.tuple(Encoders.STRING, Encoders.scalaLong)
    implicit val oe: Encoder[WinFire] = Encoders.product[WinFire]
    implicit val se: Encoder[Long] = Encoders.scalaLong
    ds.groupByKey(e => (keyFn(e), math.floorDiv(tsMs(e), windowMs) * windowMs))
      .flatMapGroupsWithState(OutputMode.Append,
        GroupStateTimeout.EventTimeTimeout) {
        (kw: (String, Long), it: Iterator[E], state: GroupState[Long]) =>
          val (key, winStart) = kw
          if (state.hasTimedOut) {
            val c = state.get
            state.remove()
            Iterator(WinFire(key, winStart, c, "final"))
          } else {
            val c = state.getOption.getOrElse(0L) + it.size
            state.update(c)
            val fireAt = winStart + windowMs
            if (fireAt > state.getCurrentWatermarkMs()) {
              state.setTimeoutTimestamp(fireAt)
              Iterator(WinFire(key, winStart, c, "early"))
            } else {
              // window already closed by the watermark: purge immediately
              state.remove()
              Iterator(WinFire(key, winStart, c, "final"))
            }
          }
      }
  }

  /** Queryable state (reference
    * java/.../state/QueryableStateDemo.java:29,66: a running keyed
    * aggregate exposed to external point queries via
    * QueryableStateClient). Spark runs no state server; the engine-native
    * approximations, by state size:
    *
    *  (a) full-snapshot SQL view (this method): complete-mode memory sink
    *      — after every micro-batch `spark.table(viewName)` IS the entire
    *      current keyed state, queryable with plain SQL (through the
    *      Thrift/Connect server in production). Snapshot-per-batch
    *      consistency, state must fit the driver — same practical bound
    *      as the reference demo's client-side reads.
    *  (b) point lookups at scale: update-mode upsert into an external KV
    *      store via [[graft.io.Sinks.upsert]] — only CHANGED keys flow
    *      per batch, the store serves gets (the getKvState shape), state
    *      size bounded by the store, not the driver.
    *
    * `agg` must be a streaming aggregation (complete mode requirement).
    */
  def queryableStateView(agg: DataFrame, viewName: String): StreamingQuery =
    agg.writeStream.format("memory").queryName(viewName)
      .outputMode(OutputMode.Complete()).start()

  /** Idle-source watermark policy (reference `withIdleness`,
    * scala/.../streamingwithflink/_02_WatermarkGeneration.scala:54-56):
    * Flink marks a SINGLE stalled source idle so it stops holding the
    * watermark back. Spark has no per-source knob; the session-level
    * `multipleWatermarkPolicy` chooses how multi-source watermarks
    * combine —
    *  - "min" (default): global watermark = slowest source; one idle
    *    source freezes every window downstream (the production trap);
    *  - "max": global watermark = fastest source, i.e. idleness handling
    *    applied to every source at once — late data from the slow source
    *    beyond its watermark delay may then be dropped, exactly like
    *    events arriving on a Flink source already marked idle.
    * Set BEFORE starting the query (read at query start).
    */
  def setMultipleWatermarkPolicy(spark: SparkSession, policy: String): Unit = {
    require(policy == "min" || policy == "max", s"policy must be min|max: $policy")
    spark.conf.set("spark.sql.streaming.multipleWatermarkPolicy", policy)
  }
}
