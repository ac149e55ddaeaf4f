package graft.streaming

import org.apache.commons.io.FileUtils
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.Num

/** User-facing streaming transforms over the events schema
  * (ts timestamp, user_id long, event_type string, value double, …).
  * Each transform is unbounded-safe: the same code runs on a batch
  * DataFrame or a readStream frame (Structured Streaming's core
  * contract), which is how the oracle checks batch equivalence while
  * StreamingSpec checks incremental semantics.
  */
object EventStreams {

  /** Tumbling event-time window aggregate. */
  def tumblingAgg(events: DataFrame, window: String = "1 hour"): DataFrame =
    events
      .groupBy(org.apache.spark.sql.functions.window(col("ts"), window), col("event_type"))
      .agg(count(lit(1)).as("n"), Num.dsum(col("value")).as("sum_value"))

  /** Gap-based sessionization per user. */
  def sessionize(events: DataFrame, gap: String = "30 minutes"): DataFrame =
    events
      .groupBy(session_window(col("ts"), gap).as("sw"), col("user_id"))
      .agg(count(lit(1)).as("n_ev"))

  /** Per-user session stats over sessionize's output. */
  def sessionStats(sessions: DataFrame): DataFrame =
    sessions.groupBy("user_id")
      .agg(
        count(lit(1)).as("n_sessions"),
        sum("n_ev").as("n_events"),
        max("n_ev").as("max_session_events"))

  /** Watermarked streaming dedup by event id: first occurrence wins,
    * per-key state is dropped once the watermark passes it — bounded
    * state at any stream length. On a batch frame the watermark is a
    * no-op (EliminateEventTimeWatermark) and this is exact distinct.
    */
  def dedupById(events: DataFrame, watermark: String = "1 hour"): DataFrame =
    events
      .select("event_id", "ts", "user_id", "event_type", "value")
      .withWatermark("ts", watermark)
      .dropDuplicates("event_id")

  /** Stream-stream interval join: each view joined to the same user's
    * purchases within `within` after it. Both sides watermarked so the
    * join state is evictable (Spark buffers only `within`+watermark of
    * history per side); the time-bound condition is what makes the
    * state bounded — an unbounded-condition stream-stream join would
    * grow forever.
    */
  def viewToPurchase(events: DataFrame, within: String = "24 hours"): DataFrame = {
    val views = events.filter(col("event_type") === "view")
      .select(col("event_id").as("view_id"), col("user_id"),
        col("ts").as("view_ts"))
      .withWatermark("view_ts", "1 hour")
    val purchases = events.filter(col("event_type") === "purchase")
      .select(col("event_id").as("purchase_id"), col("user_id").as("p_user_id"),
        col("ts").as("purchase_ts"))
      .withWatermark("purchase_ts", "1 hour")
    views.join(purchases,
      col("user_id") === col("p_user_id") &&
        col("purchase_ts") >= col("view_ts") &&
        col("purchase_ts") <= col("view_ts") + expr(s"interval $within"))
      .select(col("view_id"), col("purchase_id"), col("user_id"),
        (unix_micros(col("purchase_ts")) - unix_micros(col("view_ts")))
          .as("lag_us"))
  }

  /** LEFT OUTER stream-stream interval join — [[viewToPurchase]] with
    * unmatched views emitted (purchase columns NULL) once the join
    * watermark proves no future purchase can match. The outer side is
    * what makes watermarks LOAD-BEARING here: an inner join only
    * buffers state, but outer emission must wait until
    * watermark > view_ts + `within`, so results for the stream's tail
    * only flush after a later batch advances event time past it
    * (q351 stages sentinel batches for exactly that).
    */
  def viewToPurchaseOuter(events: DataFrame, within: String = "24 hours"): DataFrame = {
    val views = events.filter(col("event_type") === "view")
      .select(col("event_id").as("view_id"), col("user_id"),
        col("ts").as("view_ts"))
      .withWatermark("view_ts", "1 hour")
    val purchases = events.filter(col("event_type") === "purchase")
      .select(col("event_id").as("purchase_id"), col("user_id").as("p_user_id"),
        col("ts").as("purchase_ts"))
      .withWatermark("purchase_ts", "1 hour")
    views.join(purchases,
      col("user_id") === col("p_user_id") &&
        col("purchase_ts") >= col("view_ts") &&
        col("purchase_ts") <= col("view_ts") + expr(s"interval $within"),
      "left_outer")
      .select(col("view_id"), col("purchase_id"), col("user_id"),
        (unix_micros(col("purchase_ts")) - unix_micros(col("view_ts")))
          .as("lag_us"))
  }

  /** Per-key admission quota with arbitrary per-key state: the first
    * `quota` events per user pass, later arrivals are dropped — the
    * rate-limit/cap shape that no window or dropDuplicates expresses
    * ("first N" needs a running count), i.e. the
    * flatMapGroupsWithState tier of the streaming API. State per key is
    * ONE int (events admitted so far) — bounded by the key space, never
    * the stream length. Within a micro-batch arrivals are ordered by
    * (ts, event_id) before admission, so the admitted set is a pure
    * function of the batch contents (the per-key sort buffer is
    * micro-batch-bounded); across batches the count carries in state.
    */
  def quotaPerKey(events: DataFrame, quota: Int = 2): DataFrame = {
    import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
    val spark = events.sparkSession
    import spark.implicits._
    events
      .select(col("user_id"), col("event_id"), unix_micros(col("ts")).as("ts_us"))
      .as[(Long, Long, Long)]
      .groupByKey(_._1)
      .flatMapGroupsWithState[Int, (Long, Long, Long)](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (_: Long, it: Iterator[(Long, Long, Long)], state: GroupState[Int]) =>
          val used = state.getOption.getOrElse(0)
          val admit = it.toSeq.sortBy(e => (e._3, e._2))
            .take(math.max(0, quota - used))
          state.update(used + admit.size)
          admit.iterator
      }
      .toDF("user_id", "event_id", "ts_us")
  }

  /** First touch per (user, event_type) via `transformWithState` — the
    * Spark 4 arbitrary-state API (StatefulProcessor + typed state
    * primitives over the RocksDB state store, the successor of
    * flatMapGroupsWithState used by quotaPerKey). Emits one row the
    * first time a user produces each event type. State per user is a
    * MapState[event_type → first ts] — bounded by the (small) type
    * space per key, never the stream length; TTLConfig.NONE here, but
    * the same handle takes a TTL for state that must age out. Arrivals
    * are ordered by (ts, event_id) within a micro-batch, so on the
    * single-batch harness file the result is exactly the batch
    * min-per-(user, type) the oracle computes; cross-batch state
    * semantics are pinned in StreamingSpec with a MemoryStream.
    */
  /** transformWithState requires the RocksDB state store provider. The
    * provider class is read from the session conf when a streaming query
    * STARTS, so the swap must surround start-to-drain; this helper
    * restores the prior provider afterwards — other stateful queries in
    * the same session keep the store they were written against instead
    * of silently inheriting RocksDB in execution-order-dependent ways.
    */
  def withRocksDbStateStore[T](spark: org.apache.spark.sql.SparkSession)(body: => T): T = {
    val key = "spark.sql.streaming.stateStore.providerClass"
    val prior = spark.conf.getOption(key)
    spark.conf.set(key,
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try body
    finally prior match {
      case Some(v) => spark.conf.set(key, v)
      case None => spark.conf.unset(key)
    }
  }

  def firstTouchPerType(events: DataFrame): DataFrame = {
    import org.apache.spark.sql.streaming.{OutputMode, TimeMode}
    val spark = events.sparkSession
    import spark.implicits._
    events
      .select(col("user_id"), col("event_id"), col("event_type"),
        unix_micros(col("ts")).as("ts_us"))
      .as[(Long, Long, String, Long)]
      .groupByKey(_._1)
      .transformWithState(
        new FirstTouchProcessor, TimeMode.None(), OutputMode.Append())
      .toDF("user_id", "event_type", "first_ts_us")
  }

  /** Closed-session summaries via event-time TIMERS (see
    * [[SessionTimeoutProcessor]]): emits (user_id, n_events, last_ts_ms)
    * once the watermark passes last event + gap. Requires a watermark on
    * `ts` (applied here) and the RocksDB store (wrap the run in
    * withRocksDbStateStore).
    */
  def sessionTimeout(events: DataFrame, gapMs: Long): DataFrame = {
    import org.apache.spark.sql.streaming.{OutputMode, TimeMode}
    val spark = events.sparkSession
    import spark.implicits._
    events
      .select(col("user_id"), col("ts"))
      .withWatermark("ts", "1 second")
      .as[(Long, java.sql.Timestamp)]
      .groupByKey(_._1)
      .transformWithState(
        new SessionTimeoutProcessor(gapMs), TimeMode.EventTime(), OutputMode.Append())
      .toDF("user_id", "n_events", "last_ts_ms")
  }

  /** Streaming CDC apply with DELETE tombstones (see
    * [[CdcApplyProcessor]]): an ordered change stream of
    * (key, seq, cents, op ∈ insert|update|delete) folds into one
    * ValueState per key; each batch emits the key's post-batch state
    * (key, seq, cents, live). The final materialized table is the
    * per-key max-seq emission with live = 1 — the streamUpsert shape
    * (q129) extended with the tombstone semantics a real CDC feed
    * (Debezium-style) carries. Wrap the run in withRocksDbStateStore.
    */
  def cdcApply(ops: DataFrame): DataFrame = {
    import org.apache.spark.sql.streaming.{OutputMode, TimeMode}
    val spark = ops.sparkSession
    import spark.implicits._
    ops
      .select(col("key"), col("seq"), col("cents"), col("op"))
      .as[(Long, Long, Long, String)]
      .groupByKey(_._1)
      .transformWithState(
        new CdcApplyProcessor, TimeMode.None(), OutputMode.Append())
      .toDF("key", "seq", "cents", "live")
  }

  /** Ordered-pattern matches (view → click → purchase per user) via
    * transformWithState ListState — the bounded last-2-types buffer per
    * user (see [[PatternProcessor]]). Emits (user_id, purchase_ts_us)
    * at each completion. Wrap the run in withRocksDbStateStore.
    */
  def patternMatches(events: DataFrame): DataFrame = {
    import org.apache.spark.sql.streaming.{OutputMode, TimeMode}
    val spark = events.sparkSession
    import spark.implicits._
    events
      .select(col("user_id"), col("event_id"), col("event_type"),
        unix_micros(col("ts")).as("ts_us"))
      .as[(Long, Long, String, Long)]
      .groupByKey(_._1)
      .transformWithState(
        new PatternProcessor, TimeMode.None(), OutputMode.Append())
      .toDF("user_id", "purchase_ts_us")
  }

  /** Stage a sequence of batch frames as mtime-ordered single-file
    * parquet batches under `stageRoot` (wiped first) and open a
    * one-file-per-trigger stream over them — the harness that turns a
    * batch table into a DETERMINISTIC multi-microbatch stream. Used by
    * the queries whose semantics only complete when the watermark
    * advances past the data (outer joins, chained window aggs): the
    * caller appends far-future sentinel batches, and because file
    * order (mtime) and file→batch mapping (maxFilesPerTrigger=1) are
    * pinned, the emitted result SET is a pure function of the data.
    */
  def stagedBatchesStream(stageRoot: String, batches: Seq[DataFrame]): DataFrame = {
    require(batches.nonEmpty, "stagedBatchesStream: no batches")
    val spark = batches.head.sparkSession
    FileUtils.deleteQuietly(new java.io.File(stageRoot))
    val streamDir = java.nio.file.Paths.get(stageRoot, "stream")
    java.nio.file.Files.createDirectories(streamDir)
    val t0 = System.currentTimeMillis()
    batches.zipWithIndex.foreach { case (df, i) =>
      val tmp = s"$stageRoot/tmp_$i"
      df.coalesce(1).write.mode("overwrite").parquet(tmp)
      val part = new java.io.File(tmp).listFiles()
        .find(f => f.getName.startsWith("part-") && f.getName.endsWith(".parquet"))
        .getOrElse(sys.error(s"no part file in $tmp"))
      val dst = streamDir.resolve(f"batch_$i%03d.parquet")
      java.nio.file.Files.move(part.toPath, dst)
      java.nio.file.Files.setLastModifiedTime(dst,
        java.nio.file.attribute.FileTime.fromMillis(t0 + i * 10000L))
      ()
    }
    val schema = spark.read.parquet(streamDir.toString).schema
    spark.readStream.schema(schema).option("maxFilesPerTrigger", "1")
      .parquet(streamDir.toString)
  }

  /** Drive a streaming frame to completion into an in-memory table and
    * return it as a batch DataFrame (used by the declared queries to
    * exercise the streaming engine inside a batch contract).
    */
  def runToMemorySink(streamingDf: DataFrame, outputMode: String = "complete"): DataFrame = {
    val sinkName = s"graft_stream_sink_${java.util.UUID.randomUUID().toString.replace("-", "")}"
    val q = streamingDf.writeStream
      .outputMode(outputMode)
      .format("memory")
      .queryName(sinkName)
      .start()
    try q.processAllAvailable()
    finally q.stop()
    streamingDf.sparkSession.table(sinkName)
  }
}

/** Per-user first-touch tracker for [[EventStreams.firstTouchPerType]].
  * Input rows are (user_id, event_id, event_type, ts_us); output is
  * (user_id, event_type, first_ts_us). The micro-batch's rows are
  * sorted by (ts_us, event_id) before admission so emission order — and
  * therefore the emitted SET — is a pure function of the batch
  * contents, not of partition arrival order.
  */
class FirstTouchProcessor
    extends org.apache.spark.sql.streaming.StatefulProcessor[
      Long, (Long, Long, String, Long), (Long, String, Long)] {
  import org.apache.spark.sql.Encoders
  import org.apache.spark.sql.streaming.{MapState, OutputMode, TTLConfig, TimeMode, TimerValues}

  @transient private var seen: MapState[String, Long] = _

  override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
    seen = getHandle.getMapState[String, Long](
      "firstSeen", Encoders.STRING, Encoders.scalaLong, TTLConfig.NONE)

  override def handleInputRows(
      key: Long,
      rows: Iterator[(Long, Long, String, Long)],
      timerValues: TimerValues): Iterator[(Long, String, Long)] =
    rows.toSeq.sortBy(e => (e._4, e._2)).flatMap { e =>
      if (seen.containsKey(e._3)) None
      else {
        seen.updateValue(e._3, e._4)
        Some((key, e._3, e._4))
      }
    }.iterator
}

/** Session-timeout summaries via transformWithState EVENT-TIME TIMERS —
  * the third tier of the stateful API (state alone: FirstTouchProcessor;
  * state + timers: here). Each user's open session is one ValueState
  * (n_events, last_ts_ms, timer_ms); every arrival slides the
  * registered event-time timer to last_ts + gap, and when the WATERMARK
  * passes that point Spark calls handleExpiredTimer, which emits the
  * closed session (user_id, n_events, last_ts_ms) and clears the state.
  * Nothing is emitted on the data path — output happens only when
  * event time proves the session over, which is exactly what a
  * watermark is for. State per key is one triple; timers are one per
  * key (re-registered, old deleted) — both bounded by the key space.
  */
class SessionTimeoutProcessor(gapMs: Long)
    extends org.apache.spark.sql.streaming.StatefulProcessor[
      Long, (Long, java.sql.Timestamp), (Long, Long, Long)] {
  import org.apache.spark.sql.Encoders
  import org.apache.spark.sql.streaming.{ExpiredTimerInfo, OutputMode, TTLConfig, TimeMode, TimerValues, ValueState}

  @transient private var sess: ValueState[(Long, Long)] = _ // (nEvents, lastTsMs)

  override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
    sess = getHandle.getValueState[(Long, Long)](
      "sess", Encoders.tuple(Encoders.scalaLong, Encoders.scalaLong), TTLConfig.NONE)

  override def handleInputRows(
      key: Long,
      rows: Iterator[(Long, java.sql.Timestamp)],
      timerValues: TimerValues): Iterator[(Long, Long, Long)] = {
    val batch = rows.toSeq
    val (n0, last0) = if (sess.exists()) sess.get() else (0L, Long.MinValue)
    if (last0 != Long.MinValue) getHandle.deleteTimer(last0 + gapMs)
    val n = n0 + batch.size
    val last = math.max(last0, batch.map(_._2.getTime).max)
    sess.update((n, last))
    getHandle.registerTimer(last + gapMs)
    Iterator.empty
  }

  override def handleExpiredTimer(
      key: Long,
      timerValues: TimerValues,
      expiredTimerInfo: ExpiredTimerInfo): Iterator[(Long, Long, Long)] = {
    // trust only the timer this state registered: a stale timer (e.g.
    // restored from a checkpoint written with a different gap) must not
    // close a live session or fire against already-cleared state
    if (!sess.exists()) Iterator.empty
    else {
      val (n, last) = sess.get()
      if (expiredTimerInfo.getExpiryTimeInMs != last + gapMs) Iterator.empty
      else {
        sess.clear()
        Iterator((key, n, last))
      }
    }
  }
}

/** Ordered-pattern detector for [[EventStreams.patternMatches]] — the
  * ListState tier of the transformWithState API (MapState:
  * FirstTouchProcessor; ValueState + timers: SessionTimeoutProcessor).
  * State per user is the last TWO event types as a ListState buffer,
  * rewritten bounded on every arrival — O(1) per key regardless of
  * stream length. A purchase arriving while the buffer reads
  * [view, click] completes the pattern and emits (user_id, ts_us).
  * Micro-batch rows are sorted by (ts_us, event_id) before admission so
  * the emitted set is a pure function of the batch contents.
  */
class PatternProcessor
    extends org.apache.spark.sql.streaming.StatefulProcessor[
      Long, (Long, Long, String, Long), (Long, Long)] {
  import org.apache.spark.sql.Encoders
  import org.apache.spark.sql.streaming.{ListState, OutputMode, TTLConfig, TimeMode, TimerValues}

  @transient private var recent: ListState[String] = _

  override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
    recent = getHandle.getListState[String](
      "recentTypes", Encoders.STRING, TTLConfig.NONE)

  override def handleInputRows(
      key: Long,
      rows: Iterator[(Long, Long, String, Long)],
      timerValues: TimerValues): Iterator[(Long, Long)] = {
    var buf = recent.get().toSeq
    val out = rows.toSeq.sortBy(e => (e._4, e._2)).flatMap { e =>
      val hit = e._3 == "purchase" &&
        buf.length == 2 && buf.head == "view" && buf(1) == "click"
      buf = (buf :+ e._3).takeRight(2)
      if (hit) Some((key, e._4)) else None
    }
    recent.put(buf.toArray)
    out.iterator
  }
}

/** CDC-apply state machine for [[EventStreams.cdcApply]]: one
  * ValueState (seq, cents, live) per key. Batch rows are applied in
  * seq order (so emission is a pure function of batch contents);
  * `delete` writes a tombstone (live = 0) instead of clearing state —
  * a later out-of-order lower-seq change must NOT resurrect the row,
  * which is exactly why CDC consumers keep tombstones. One emission
  * per touched key per batch: the post-batch state.
  */
class CdcApplyProcessor
    extends org.apache.spark.sql.streaming.StatefulProcessor[
      Long, (Long, Long, Long, String), (Long, Long, Long, Long)] {
  import org.apache.spark.sql.Encoders
  import org.apache.spark.sql.streaming.{OutputMode, TTLConfig, TimeMode, TimerValues, ValueState}

  @transient private var st: ValueState[(Long, Long, Long)] = _ // (seq, cents, live)

  override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
    st = getHandle.getValueState[(Long, Long, Long)](
      "cdc",
      Encoders.tuple(Encoders.scalaLong, Encoders.scalaLong, Encoders.scalaLong),
      TTLConfig.NONE)

  override def handleInputRows(
      key: Long,
      rows: Iterator[(Long, Long, Long, String)],
      timerValues: TimerValues): Iterator[(Long, Long, Long, Long)] = {
    var cur: Option[(Long, Long, Long)] =
      if (st.exists()) Some(st.get()) else None
    rows.toSeq.sortBy(_._2).foreach { case (_, seq, cents, op) =>
      val newer = cur.forall(_._1 < seq)
      if (newer) cur = Some(
        if (op == "delete") (seq, 0L, 0L) else (seq, cents, 1L))
    }
    cur match {
      case Some(c) =>
        st.update(c)
        Iterator.single((key, c._1, c._2, c._3))
      case None => Iterator.empty
    }
  }
}

/** Per-day top-k active users via transformWithState MapState counts —
  * the "running leaderboard" state shape: one bounded map (user →
  * count) per day key, updated incrementally per micro-batch, with the
  * CURRENT top-k emitted after each batch's rows for the key are
  * folded in. At 100 TB-scale streams the state per key is bounded by
  * the day's active-user count and the emission by k — nothing buffers
  * raw events. Input rows are (epochDay, user_id); output rows are
  * (epochDay, rank, user_id, n_events) ordered by (count desc, user
  * asc) — a pure function of the counts, so batch-arrival order never
  * shows in the output.
  */
class DailyTopKProcessor(k: Int)
    extends org.apache.spark.sql.streaming.StatefulProcessor[
      Long, (Long, Long), (Long, Long, Long, Long)] {
  import org.apache.spark.sql.Encoders
  import org.apache.spark.sql.streaming.{MapState, OutputMode, TTLConfig, TimeMode, TimerValues}

  @transient private var counts: MapState[Long, Long] = _

  override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
    counts = getHandle.getMapState[Long, Long](
      "counts", Encoders.scalaLong, Encoders.scalaLong, TTLConfig.NONE)

  override def handleInputRows(
      key: Long,
      rows: Iterator[(Long, Long)],
      timerValues: TimerValues): Iterator[(Long, Long, Long, Long)] = {
    rows.foreach { case (_, u) =>
      val c = if (counts.containsKey(u)) counts.getValue(u) else 0L
      counts.updateValue(u, c + 1L)
    }
    counts.iterator().toSeq
      .sortBy { case (u, c) => (-c, u) }
      .take(k)
      .zipWithIndex
      .map { case ((u, c), i) => (key, i + 1L, u, c) }
      .iterator
  }
}
