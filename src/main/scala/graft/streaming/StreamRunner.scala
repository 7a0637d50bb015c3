package graft.streaming

import graft.{Tables => T}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{ExpiredTimerInfo, GroupState, GroupStateTimeout, OutputMode, StatefulProcessor, TTLConfig, TimeMode, TimerValues, Trigger, ValueState}
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Real Structured-Streaming executions of the §2.10 operators, replaying the
  * `events` parquet through the file-stream source.
  *
  * These run an actual incremental query (micro-batches, state store,
  * watermarks) and surface the result as a batch DataFrame, so the driver's
  * rows-only check exercises true streaming execution, not a batch stand-in.
  *
  * Scale notes: the file source is the same interface a production job uses
  * over an arriving-files lake; `maxFilesPerTrigger` bounds per-batch work,
  * watermarks bound state. The memory sink here is harness-only (results are
  * tiny aggregates); a production sink would be `foreachBatch` → parquet
  * upsert, which [[foreachBatchUpsert]] demonstrates.
  */
object StreamRunner {

  private def tmpDir(prefix: String): String = {
    // GC stale same-prefix dirs from dead JVMs first (FsUtil.sweepStaleTmp)
    // — without it every streaming run orphans its staging/checkpoint dirs
    // and a long dev loop monotonically fills java.io.tmpdir.
    graft.FsUtil.sweepStaleTmp(prefix)
    java.nio.file.Files.createTempDirectory(prefix).toString
  }

  /** Write one parquet file per epoch into `root` with STRICTLY INCREASING
    * mtimes. FileStreamSource orders same-batch discoveries by modification
    * time; with `maxFilesPerTrigger=1` two epoch files landing in the same
    * mtime millisecond could replay out of order, and under a 0-second
    * watermark the earlier epoch's rows would then be dropped — the
    * streamed-≡-batch requires would fail loudly but FLAKILY. Stamping each
    * file `base + epoch` seconds makes the replay order explicit. The base
    * is a FIXED 2020 instant, far past FileStreamSource's default 7-day
    * `maxFileAge` — every reader of a stamped directory therefore sets
    * `maxFileAge` explicitly huge, so stamped files can never silently age
    * out (e.g. if a future test mixed current-mtime files into the dir). */
  private def writeEpochFiles(df: DataFrame, root: String,
      epochCol: String, epochs: Seq[Long]): Unit = {
    val seen = scala.collection.mutable.Set[String]()
    val base = 1600000000000L // fixed past instant; only relative order matters
    epochs.foreach { e =>
      df.where(col(epochCol) === e).coalesce(1)
        .write.mode("append").parquet(root)
      new java.io.File(root).listFiles()
        .filter(f => f.getName.endsWith(".parquet") && !seen.contains(f.getName))
        .foreach { f =>
          require(f.setLastModified(base + e * 1000L),
            s"could not stamp mtime on ${f.getName}")
          seen += f.getName
        }
    }
  }

  /** Run `body` with `spark.sql.shuffle.partitions` scoped down to a small
    * value, restoring the session conf afterwards. A streaming aggregation
    * creates one state store per shuffle partition per micro-batch; for the
    * tiny keyed state here (≤ a few hundred windows×types) 32 state stores
    * are pure checkpoint/commit overhead. On a real cluster this would be
    * sized to state volume, not to the batch-side shuffle width. */
  private def withFewStatePartitions[A](s: SparkSession, n: Int)(body: => A): A = {
    val key = "spark.sql.shuffle.partitions"
    val prev = s.conf.get(key)
    s.conf.set(key, n.toString)
    try body finally s.conf.set(key, prev)
  }

  private def eventsStream(s: SparkSession, dir: String): DataFrame = {
    // Raw on-disk schema (ts = LONG nanos under the legacy conf set by
    // Tables.events), converted to a micros timestamp exactly as the batch
    // loader does — batch and stream share the same projection.
    s.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    // The file-stream source requires a DIRECTORY to monitor; stage the
    // single fixture file into a temp dir (the arriving-files replay shape).
    val stage = java.nio.file.Paths.get(tmpDir("graft_stream_src"))
    java.nio.file.Files.copy(
      java.nio.file.Paths.get(s"$dir/events.parquet"),
      stage.resolve("events.parquet"))
    val rawSchema = s.read.parquet(stage.toString).schema
    val st = s.readStream.schema(rawSchema).parquet(stage.toString)
    rawSchema("ts").dataType match {
      case org.apache.spark.sql.types.LongType =>
        st.withColumn("ts", expr("timestamp_micros(ts div 1000)"))
      case org.apache.spark.sql.types.TimestampNTZType =>
        // Same normalization as Tables.events: watermarks/event-time ops
        // require TIMESTAMP, and under the pinned UTC session the cast is a
        // pure reinterpretation of the naive micros.
        st.withColumn("ts",
          col("ts").cast(org.apache.spark.sql.types.TimestampType))
      case _ => st
    }
  }

  /** Tumbling 1-hour count with a 1-hour watermark, append mode: only windows
    * the watermark has closed are emitted (late data beyond 1h is dropped by
    * the state store — the semantics under test in StreamingSpec). */
  def tumblingWithWatermark(s: SparkSession, dir: String): DataFrame =
      withFewStatePartitions(s, 4) {
    val qn = "graft_wm_" + java.util.UUID.randomUUID().toString.replace("-", "")
    val q = eventsStream(s, dir)
      .withWatermark("ts", "1 hour")
      .groupBy(window(col("ts"), "1 hour").as("w"), col("event_type"))
      .agg(count(lit(1)).as("n"))
      .select(col("w.start").as("win_start"), col("event_type"), col("n"))
      .writeStream
      .format("memory")
      .queryName(qn)
      .outputMode("append")
      .option("checkpointLocation", tmpDir("graft_wm_ckpt"))
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    s.table(qn).orderBy("win_start", "event_type")
  }

  /** Per-user running state for [[customStateAgg]]: event count, last-seen
    * epoch second, max inter-event gap (-1 = undefined, single event). */
  final case class UserState(n: Long, lastSec: Long, maxGap: Long)

  /** Custom keyed state via `flatMapGroupsWithState`: per user, the event
    * count, max gap between consecutive events, and last-seen second —
    * state the built-in windowed aggregates cannot express (gap depends on
    * the previous event, kept in [[UserState]] across micro-batches).
    *
    * Within a batch the group's rows are sorted by (sec, event_id) before
    * folding, so the result is the event-time fold regardless of arrival
    * order — which makes this real streaming run equal to the batch oracle
    * query (the strongest check the harness supports). At scale: state is
    * per-user O(1), partitioned by the group key; a production job adds a
    * watermark + state TTL via the timeout argument. */
  def customStateAgg(s: SparkSession, dir: String): DataFrame =
      withFewStatePartitions(s, 4) {
    import s.implicits._
    val qn = "graft_cs_" + java.util.UUID.randomUUID().toString.replace("-", "")
    val fold = (uid: Long, rows: Iterator[(Long, Long, Long)],
        state: GroupState[UserState]) => {
      var st = state.getOption.getOrElse(UserState(0L, Long.MinValue, -1L))
      rows.toSeq.sortBy(r => (r._2, r._3)).foreach { case (_, sec, _) =>
        if (st.n > 0L && sec - st.lastSec > st.maxGap)
          st = st.copy(maxGap = sec - st.lastSec)
        st = st.copy(n = st.n + 1L, lastSec = sec)
      }
      state.update(st)
      Iterator.single(
        (uid, st.n, if (st.maxGap >= 0L) Some(st.maxGap) else None, st.lastSec))
    }
    val q = eventsStream(s, dir)
      .select(col("user_id").cast("long"),
        unix_timestamp(col("ts")).as("sec"), col("event_id").cast("long"))
      .as[(Long, Long, Long)]
      .groupByKey(_._1)
      .flatMapGroupsWithState(OutputMode.Update(), GroupStateTimeout.NoTimeout())(fold)
      .toDF("user_id", "n_events", "max_gap_sec", "last_sec")
      .writeStream
      .format("memory")
      .queryName(qn)
      .outputMode("update")
      .option("checkpointLocation", tmpDir("graft_cs_ckpt"))
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    // Update mode emits one row per touched user per micro-batch; keep each
    // user's final state (n_events is monotonic).
    val w = Window.partitionBy("user_id")
      .orderBy(col("n_events").desc, col("last_sec").desc)
    s.table(qn)
      .withColumn("rn", row_number().over(w)).where(col("rn") === 1).drop("rn")
      .orderBy("user_id")
  }

  /** Streaming read of the custom V2 connector ([[graft.sources
    * .FrameCatalogSource]]'s `MicroBatchStream`): tails the frame catalog
    * with `Trigger.AvailableNow` — admission control (`arrive` ids per
    * batch) paces the drain, offsets are frame-id watermarks, and each
    * batch's partitions reuse the batch scan's slice geometry and reader.
    * The multi-batch execution is `require`d from the query's own progress
    * (ceil(window / arrive) non-empty batches — a single-batch drain would
    * mean admission control never engaged), then the streamed rows
    * re-aggregate batch-side for the declared, oracle-checked output.
    * StreamingSpec additionally pins streamed ≡ batch row-identically over
    * the same window. */
  def frameCatalogStream(s: SparkSession, dir: String): DataFrame =
      withFewStatePartitions(s, 4) {
    val qn = "graft_v2s_" + java.util.UUID.randomUUID().toString.replace("-", "")
    val frames = 40960L
    val arrive = 8192L
    val q = s.readStream.format("graft.sources.FrameCatalogSource")
      .option("frames", frames.toString)
      .option("slice", "4096")
      .option("arrive", arrive.toString)
      .load()
      .writeStream
      .format("memory")
      .queryName(qn)
      .outputMode("append")
      .option("checkpointLocation", tmpDir("graft_v2s_ckpt"))
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    val batches = q.recentProgress.count(_.numInputRows > 0L)
    val expected = (frames + arrive - 1L) / arrive
    require(batches == expected,
      s"admission control must drain $frames ids in $expected batches of " +
        s"$arrive, saw $batches")
    s.table(qn)
      .groupBy("band")
      .agg(count(lit(1)).as("n"),
        sum("exptime").as("total_exp"),
        sum("zp_milli").as("sum_zp"),
        min("frame_id").as("first_frame"),
        max("frame_id").as("last_frame"))
      .orderBy("band")
  }

  /** Streaming write INTO the custom V2 connector's log table
    * ([[graft.sources.FrameStoreSink]]'s `StreamingWrite`): the events
    * replay streams through `df.writeStream.format(...)` straight into
    * the transaction log — per-epoch staging, batchId-keyed versions,
    * txn-stamped idempotent commits, all INSIDE the connector (the
    * `stream_exactly_once` recipe promoted from foreachBatch to the V2
    * surface). The run `require`s one log version per non-empty
    * micro-batch and a txn marker on every commit; the declared output
    * reads the committed table BACK through the V2 read path and
    * re-aggregates for the oracle — a duplicated or dropped epoch commit
    * cannot hash-match. FrameStoreSpec drives the replay path directly
    * (same epoch committed twice no-ops; a foreign writer's version
    * fails loudly). */
  def v2LogStreamingSink(s: SparkSession, dir: String): DataFrame =
      withFewStatePartitions(s, 4) {
    import graft.sources.CommitLog
    val root = tmpDir("graft_v2sink_tbl")
    val q = eventsStream(s, dir)
      .select(col("event_id"), col("event_type"), col("value"))
      .writeStream
      .format("graft.sources.FrameStoreSink")
      .option("table", "graft_v2_stream_sink")
      .option("root", root)
      .option("checkpointLocation", tmpDir("graft_v2sink_ckpt"))
      .outputMode("append")
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    val batches = q.recentProgress.count(_.numInputRows > 0L)
    require(batches >= 1 && CommitLog.latestVersion(root) == batches,
      s"each micro-batch must commit exactly one log version " +
        s"(${CommitLog.latestVersion(root)} versions vs $batches batches)")
    require((1L to batches.toLong).forall(v => CommitLog.txnOf(root, v).nonEmpty),
      "every streaming commit must carry its txn marker")
    s.read.format("graft.sources.FrameStoreSink")
      .option("table", "graft_v2_stream_sink").option("root", root).load()
      .groupBy("event_type")
      .agg(count(lit(1)).as("n"),
        sum(expr("cast(floor(value * 1e2 + 0.5) as bigint)"))
          .cast("long").as("sum_cents"))
      .orderBy("event_type")
  }

  /** [[customStateAggTws]]'s processor — the `transformWithState` port of
    * the `flatMapGroupsWithState` fold: state lives in a named, typed
    * [[org.apache.spark.sql.streaming.ValueState]] slot obtained from the
    * processor handle (the API's composite-state model: a processor can
    * hold many named value/list/map states, each with its own TTL —
    * capabilities the old single-blob `GroupState` lacks). Same fold, same
    * event-time sort, so streamed ≡ batch holds identically. Nested in the
    * object (no outer instance), serializable by construction. */
  private class GapProcessor
      extends StatefulProcessor[Long, (Long, Long, Long),
        (Long, Long, Option[Long], Long)] {
    @transient private var st: ValueState[UserState] = _
    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      st = getHandle.getValueState[UserState]("gap_state",
        org.apache.spark.sql.Encoders.product[UserState], TTLConfig.NONE)
    override def handleInputRows(uid: Long, rows: Iterator[(Long, Long, Long)],
        timerValues: TimerValues): Iterator[(Long, Long, Option[Long], Long)] = {
      var s0 = if (st.exists()) st.get() else UserState(0L, Long.MinValue, -1L)
      rows.toSeq.sortBy(r => (r._2, r._3)).foreach { case (_, sec, _) =>
        if (s0.n > 0L && sec - s0.lastSec > s0.maxGap)
          s0 = s0.copy(maxGap = sec - s0.lastSec)
        s0 = s0.copy(n = s0.n + 1L, lastSec = sec)
      }
      st.update(s0)
      Iterator.single(
        (uid, s0.n, if (s0.maxGap >= 0L) Some(s0.maxGap) else None, s0.lastSec))
    }
  }

  /** Custom keyed state via Spark 4's `transformWithState` — the
    * replacement API for `flatMapGroupsWithState` ([[customStateAgg]] keeps
    * the original for coverage): named typed state slots on a processor
    * handle, per-state TTL, timers, and composite value/list/map state,
    * running on the RocksDB state store provider the API requires (scoped
    * to this query; the HDFS-backed default is restored after). The fold
    * itself is identical, so this real streaming run equals the SAME batch
    * oracle as the old API — and StreamingSpec asserts the two APIs'
    * outputs are row-identical, which is exactly the migration guarantee a
    * production job porting off `flatMapGroupsWithState` needs. At scale:
    * state stays per-user O(1) partitioned by key; RocksDB spills large
    * state maps off-heap, which is the reason the new API mandates it. */
  def customStateAggTws(s: SparkSession, dir: String): DataFrame =
      withFewStatePartitions(s, 4) {
    import s.implicits._
    val qn = "graft_tws_" + java.util.UUID.randomUUID().toString.replace("-", "")
    val provKey = "spark.sql.streaming.stateStore.providerClass"
    val prevProv = s.conf.get(provKey)
    s.conf.set(provKey,
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      val q = eventsStream(s, dir)
        .select(col("user_id").cast("long"),
          unix_timestamp(col("ts")).as("sec"), col("event_id").cast("long"))
        .as[(Long, Long, Long)]
        .groupByKey(_._1)
        .transformWithState(new GapProcessor,
          org.apache.spark.sql.streaming.TimeMode.None(), OutputMode.Update())
        .toDF("user_id", "n_events", "max_gap_sec", "last_sec")
        .writeStream
        .format("memory")
        .queryName(qn)
        .outputMode("update")
        .option("checkpointLocation", tmpDir("graft_tws_ckpt"))
        .trigger(Trigger.AvailableNow())
        .start()
      q.awaitTermination()
    } finally s.conf.set(provKey, prevProv)
    val w = Window.partitionBy("user_id")
      .orderBy(col("n_events").desc, col("last_sec").desc)
    s.table(qn)
      .withColumn("rn", row_number().over(w)).where(col("rn") === 1).drop("rn")
      .orderBy("user_id")
  }

  /** [[sessionTimersTws]]'s processor — sessionization driven by EVENT-TIME
    * TIMERS on `transformWithState`, exercising the API surface the plain
    * value-state port ([[GapProcessor]]) does not: COMPOSITE state (a
    * `ListState` of the open session's event seconds + a `MapState` of its
    * per-type counts) and the timer lifecycle
    * (`listTimers`/`deleteTimer`/`registerTimer` +
    * `handleExpiredTimer`). A session closes two ways: a successor event
    * more than `SessGapSec` later closes it inline ('gap' — final
    * regardless of watermark), or the registered timer at `lastSec + gap`
    * fires once the event-time watermark passes it ('timer' — the no-data
    * batch after the drain). A trailing session whose timer the final
    * watermark never reaches is NEVER emitted — exactly the streaming
    * truth, and the batch oracle reproduces it from `max(sec)`. */
  private val SessGapSec = 1800L
  private class SessionTimerProcessor
      extends StatefulProcessor[Long, (Long, Long, String),
        (Long, Long, Long, Long, Long, String)] {
    @transient private var secs: org.apache.spark.sql.streaming.ListState[Long] = _
    @transient private var types: org.apache.spark.sql.streaming.MapState[String, Long] = _
    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit = {
      secs = getHandle.getListState[Long]("open_secs",
        org.apache.spark.sql.Encoders.scalaLong, TTLConfig.NONE)
      // No TTL here BY API CONTRACT: state TTL is processing-time-only
      // and the handle REJECTS a TTLConfig under TimeMode.EventTime
      // (STATEFUL_PROCESSOR_INCORRECT_TIME_MODE_TO_ASSIGN_TTL) — expiry
      // in an event-time processor is what the timers are for. The TTL
      // surface is exercised in its legal mode by [[ttlStateProbe]]
      // (ProcessingTime) and StreamingSpec.
      types = getHandle.getMapState[String, Long]("open_types",
        org.apache.spark.sql.Encoders.STRING,
        org.apache.spark.sql.Encoders.scalaLong, TTLConfig.NONE)
    }
    private def closeRow(uid: Long, how: String):
        Option[(Long, Long, Long, Long, Long, String)] = {
      val ss = secs.get().toVector
      if (ss.isEmpty) None
      else {
        val nTypes = types.keys().size.toLong
        secs.clear(); types.clear()
        Some((uid, ss.min, ss.max, ss.size.toLong, nTypes, how))
      }
    }
    override def handleInputRows(uid: Long, rows: Iterator[(Long, Long, String)],
        timerValues: TimerValues): Iterator[(Long, Long, Long, Long, Long, String)] = {
      val out = Vector.newBuilder[(Long, Long, Long, Long, Long, String)]
      var last = { val ss = secs.get().toVector; if (ss.isEmpty) Long.MinValue else ss.max }
      rows.toSeq.sortBy(r => (r._2, r._3)).foreach { case (_, sec, t) =>
        if (last != Long.MinValue && sec - last > SessGapSec)
          out ++= closeRow(uid, "gap")
        secs.appendValue(sec)
        types.updateValue(t,
          (if (types.containsKey(t)) types.getValue(t) else 0L) + 1L)
        last = sec
      }
      // One live timer per key: the open session's close deadline.
      getHandle.listTimers().foreach(getHandle.deleteTimer)
      if (last != Long.MinValue)
        getHandle.registerTimer((last + SessGapSec) * 1000L)
      out.result().iterator
    }
    override def handleExpiredTimer(uid: Long, timerValues: TimerValues,
        expiredTimerInfo: ExpiredTimerInfo):
        Iterator[(Long, Long, Long, Long, Long, String)] =
      closeRow(uid, "timer").iterator
  }

  /** [[ttlStateProbe]]'s processor: a per-user running count in a
    * ValueState carrying a REAL `TTLConfig` — legal only under
    * TimeMode.ProcessingTime (the handle rejects TTL in EventTime mode;
    * [[SessionTimerProcessor]] documents the error). The 1h TTL cannot
    * elapse inside the drain, so the output is the plain per-user count:
    * the test asserts exactly that, proving the TTL'd state path wires
    * end-to-end without resting determinism on wall-clock expiry. */
  private class TtlCountProcessor
      extends StatefulProcessor[Long, (Long, Long), (Long, Long)] {
    @transient private var n: ValueState[Long] = _
    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      n = getHandle.getValueState[Long]("ttl_count",
        org.apache.spark.sql.Encoders.scalaLong,
        TTLConfig(java.time.Duration.ofHours(1)))
    override def handleInputRows(uid: Long, rows: Iterator[(Long, Long)],
        timerValues: TimerValues): Iterator[(Long, Long)] = {
      val c = (if (n.exists()) n.get() else 0L) + rows.size.toLong
      n.update(c)
      Iterator.single((uid, c))
    }
  }

  /** TTL'd keyed state in its LEGAL time mode (ProcessingTime) — spec
    * support only (StreamingSpec), not a declared query: wall-clock
    * expiry can never be deterministic, so the declared inventory keeps
    * TTL out of oracle-checked outputs and this run proves the wiring. */
  def ttlStateProbe(s: SparkSession, dir: String): DataFrame =
      withFewStatePartitions(s, 4) {
    import s.implicits._
    val qn = "graft_ttl_" + java.util.UUID.randomUUID().toString.replace("-", "")
    val provKey = "spark.sql.streaming.stateStore.providerClass"
    val prevProv = s.conf.get(provKey)
    s.conf.set(provKey,
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      val q = eventsStream(s, dir)
        .select(col("user_id").cast("long"), col("event_id").cast("long"))
        .as[(Long, Long)]
        .groupByKey(_._1)
        .transformWithState(new TtlCountProcessor,
          org.apache.spark.sql.streaming.TimeMode.ProcessingTime(),
          OutputMode.Update())
        .toDF("user_id", "n_events")
        .writeStream
        .format("memory")
        .queryName(qn)
        .outputMode("update")
        .option("checkpointLocation", tmpDir("graft_ttl_ckpt"))
        // Trigger.Once, deliberately: under TimeMode.ProcessingTime the
        // engine schedules CONTINUOUS no-data batches to advance the TTL
        // clock, so an AvailableNow drain never self-terminates (and
        // processAllAvailable never sees quiescence). One batch processes
        // the whole staged fixture and the query ends — exactly the
        // deterministic probe this is.
        .trigger(Trigger.Once())
        .start()
      q.awaitTermination()
    } finally s.conf.set(provKey, prevProv)
    val w = Window.partitionBy("user_id").orderBy(col("n_events").desc)
    s.table(qn)
      .withColumn("rn", row_number().over(w)).where(col("rn") === 1).drop("rn")
      .orderBy("user_id")
  }

  /** Event-time-timer sessionization on `transformWithState` (see
    * [[SessionTimerProcessor]]): watermark delay 0, RocksDB provider
    * (mandated by the API), update mode into a memory sink — every closed
    * session is emitted exactly once, so the sink table IS the session
    * log. At scale: state per user is O(open session), timers are O(keys)
    * in the store, and the no-data batch that fires them is the engine's
    * own watermark bookkeeping — no driver-side sweep. */
  def sessionTimersTws(s: SparkSession, dir: String): DataFrame =
      withFewStatePartitions(s, 4) {
    import s.implicits._
    val qn = "graft_twst_" + java.util.UUID.randomUUID().toString.replace("-", "")
    val provKey = "spark.sql.streaming.stateStore.providerClass"
    val prevProv = s.conf.get(provKey)
    s.conf.set(provKey,
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      val q = eventsStream(s, dir)
        .withWatermark("ts", "0 seconds")
        .select(col("user_id").cast("long"),
          unix_timestamp(col("ts")).as("sec"), col("event_type"))
        .as[(Long, Long, String)]
        .groupByKey(_._1)
        .transformWithState(new SessionTimerProcessor,
          org.apache.spark.sql.streaming.TimeMode.EventTime(), OutputMode.Update())
        .toDF("user_id", "s_start", "s_end", "n_events", "n_types", "closed_by")
        .writeStream
        .format("memory")
        .queryName(qn)
        .outputMode("update")
        .option("checkpointLocation", tmpDir("graft_twst_ckpt"))
        .trigger(Trigger.AvailableNow())
        .start()
      q.awaitTermination()
    } finally s.conf.set(provKey, prevProv)
    s.table(qn).orderBy("user_id", "s_start")
  }

  /** Streaming EXACTLY-ONCE into the transaction log
    * ([[graft.sources.CommitLog]]): each micro-batch stages its output as a
    * new generation, then commits it under version = batchId + 1 — and the
    * commit is GUARDED on the version file, so when a restarted query
    * re-delivers a batch (Structured Streaming's at-least-once replay
    * after failure), the re-execution stages fresh files but the commit is
    * a no-op: readers never see the batch twice. Because the sink runs in
    * COMPLETE mode (each batch = the full aggregate), every commit is a
    * REPLACE: it adds the new snapshot's files and `remove`s the previous
    * version's, so the latest-version read is the latest snapshot alone —
    * correct for ANY number of micro-batches, not just the single batch
    * the one-file staging happens to yield (a multi-file fixture or a
    * `maxFilesPerTrigger` change would produce several). The replay is
    * simulated for real after the run (same batch, same batchId, new
    * attempt), the invariants are `require`d in-query (log unchanged; the
    * replay staging plus any retention-expired prior snapshots are exactly
    * what VACUUM reclaims), and the committed snapshot must still
    * hash-match the batch oracle. This is the production recipe for
    * streaming into a lakehouse table: txn-log versions keyed by batch id
    * give idempotent commits, replace-commits carry removes, vacuum
    * reclaims lost-race stagings, and at 100 TB each batch's commit is
    * O(files-in-batch) metadata regardless of table size. */
  def exactlyOnceCommitLog(s: SparkSession, dir: String): DataFrame =
      withFewStatePartitions(s, 4) {
    import graft.sources.CommitLog
    val root = tmpDir("graft_eos_tbl")
    val attempts = new java.util.concurrent.atomic.AtomicInteger(0)
    def commitBatch(batch: DataFrame, batchId: Long): Unit = {
      val ver = batchId + 1L
      // Stage FIRST, commit second — the real writer ordering; attempt
      // number in the dir name mirrors re-executions producing distinct
      // physical files for the same logical batch.
      val gen = s"g=${ver}x${attempts.incrementAndGet()}"
      batch.coalesce(1).write.mode("overwrite").parquet(s"$root/$gen")
      if (!CommitLog.commitVersionExists(root, ver))
        CommitLog.commit(root, ver, gen,
          removes = CommitLog.filesAsOf(root, ver - 1L))
      // else: the staged generation is a lost commit race — debris that
      // VACUUM reclaims below, never visible to any reader.
    }
    val q = eventsStream(s, dir)
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"))
      .writeStream
      .outputMode("complete")
      .option("checkpointLocation", tmpDir("graft_eos_ckpt"))
      .trigger(Trigger.AvailableNow())
      .foreachBatch(commitBatch _)
      .start()
    q.awaitTermination()
    val committed = CommitLog.filesAsOf(root, Long.MaxValue)
    require(committed.nonEmpty, "stream committed nothing")
    // Failure-recovery replay: re-deliver batch 0 (same logical content —
    // complete mode makes it the full aggregate) under the same batchId.
    val replayBatch = T.events(s, dir)
      .groupBy(col("event_type")).agg(count(lit(1)).as("n"))
    commitBatch(replayBatch, 0L)
    require(CommitLog.filesAsOf(root, Long.MaxValue) == committed,
      "replayed batch changed the log — exactly-once guard failed")
    // Reclaimable = every staged attempt except the live latest snapshot:
    // the replay's lost-race staging plus (with default retention 0) the
    // tombstoned prior snapshots complete mode replaced.
    val (kept, removed) = CommitLog.vacuum(root)
    require(kept == committed.size.toLong &&
        removed == attempts.get().toLong - committed.size.toLong,
      s"vacuum ($kept kept, $removed removed) != " +
        s"(${committed.size}, ${attempts.get() - committed.size}): " +
        "debris must be exactly the non-live staged attempts")
    CommitLog.readAsOf(s, root, Long.MaxValue)
      .groupBy("event_type")
      .agg(sum("n").cast("long").as("n"))
      .orderBy("event_type")
  }

  /** STREAMING consumer of the transaction-log change feed
    * (`stream_changefeed`): a Structured Streaming query TAILS a
    * [[graft.sources.CommitLog]] table's `_log` directory — each committed
    * version is one new immutable file, exactly the arriving-files
    * contract the file-stream source exists for — and maintains a
    * downstream per-bucket aggregate view INCREMENTALLY: every micro-batch
    * parses its commit files' add/remove actions (O(changed-files)
    * metadata, collected driver-side like the log reads themselves), scans
    * ONLY the changed data files, and folds signed deltas into the view
    * (count/sum are self-maintainable — `table_incr_refresh`'s math, now
    * driven by the stream instead of a batch loop). The Delta CDF
    * streaming-source shape: the view is continuously current against a
    * mutating lake without ever re-reading the table.
    *
    * Run as TWO AvailableNow passes sharing one checkpoint over the same
    * base → append → rewrite history as `table_incr_refresh`: pass 1
    * consumes the base + append commits; the REWRITE commits while the
    * stream is down; the restarted pass 2 consumes EXACTLY the one new
    * commit file (the source's seen-files log — `require`d), proving the
    * consumer picks up where it left off across restarts. The final view
    * is `require`d equal to a full recompute of the latest snapshot, and
    * the declared output hash-matches the batch oracle. */
  def changefeedView(s: SparkSession, dir: String): DataFrame =
      withFewStatePartitions(s, 4) {
    import graft.sources.CommitLog
    val root = tmpDir("graft_cdfs_tbl")
    val ord = T.orders(s, dir)
    def writeGen(df: DataFrame, gen: String): Unit =
      df.coalesce(1).write.mode("overwrite").parquet(s"$root/$gen")
    writeGen(ord.where(col("o_orderkey") % 2L === 1L)
      .select(col("o_orderkey").as("key"), col("o_totalprice").as("val")), "g=1")
    CommitLog.commit(root, 1L, "g=1")
    writeGen(ord.where(col("o_orderkey") % 6L === 2L)
      .select(col("o_orderkey").as("key"), col("o_totalprice").as("val")), "g=2")
    CommitLog.commit(root, 2L, "g=2")

    // The maintained view state (bucket, dn, dcents) and the per-pass
    // commit-file ledger. Driver-side vars: foreachBatch runs on the
    // driver; the folds themselves are distributed jobs.
    var view: DataFrame = null
    val passFiles = scala.collection.mutable.LinkedHashSet.empty[String]
    def delta(fs: Seq[String], sign: Long) =
      s.read.option("basePath", root)
        .parquet(fs.map(f => s"$root/$f"): _*)
        .groupBy((col("key") % 8L).as("bucket"))
        .agg((count(lit(1)) * lit(sign)).as("dn"),
          (sum(expr("cast(floor(val * 1e2 + 0.5) as bigint)")) * lit(sign))
            .cast("long").as("dcents"))
    def fold(batch: DataFrame, batchId: Long): Unit = {
      // Checkpoint files re-state the whole snapshot (compaction, not
      // change) — a CDF consumer must skip them or double-count.
      val acts = batch
        .where(!col("src").endsWith(".checkpoint.json"))
        .select(col("src"),
          get_json_object(col("value"), "$.add.path").as("a"),
          get_json_object(col("value"), "$.remove.path").as("r"))
        .collect()
      acts.foreach(r => passFiles += r.getString(0): Unit)
      val adds = acts.flatMap(r => Option(r.getString(1))).toSeq
      val rms = acts.flatMap(r => Option(r.getString(2))).toSeq
      val parts = Option(view).toSeq ++
        (if (adds.nonEmpty) Seq(delta(adds, 1L)) else Nil) ++
        (if (rms.nonEmpty) Seq(delta(rms, -1L)) else Nil)
      if (parts.nonEmpty)
        view = parts.reduce(_ unionAll _)
          .groupBy("bucket")
          .agg(sum("dn").cast("long").as("dn"),
            sum("dcents").cast("long").as("dcents"))
          .localCheckpoint()
    }
    val ckpt = tmpDir("graft_cdfs_ckpt")
    def runPass(): Unit = {
      val q = s.readStream.text(s"$root/_log")
        .select(col("value"), col("_metadata.file_path").as("src"))
        .writeStream
        .outputMode("append")
        .option("checkpointLocation", ckpt)
        .trigger(Trigger.AvailableNow())
        .foreachBatch(fold _)
        .start()
      q.awaitTermination()
    }
    runPass() // pass 1: base + append
    require(passFiles.size == 2,
      s"pass 1 must consume the 2 committed versions, saw $passFiles")
    // The rewrite lands while the stream is DOWN (repriced g=2 → g=3,
    // adds + removes in one atomic commit — table_incr_refresh's history).
    writeGen(ord.where(col("o_orderkey") % 6L === 2L)
      .select(col("o_orderkey").as("key"),
        graft.Rnd.rnd(col("o_totalprice") * 1.05, 2).as("val")), "g=3")
    CommitLog.commit(root, 3L, "g=3",
      removes = CommitLog.filesAsOf(root, 2L).filter(_.startsWith("g=2/")))
    passFiles.clear()
    runPass() // pass 2: resumes from the checkpoint
    require(passFiles.size == 1 && passFiles.head.endsWith("00000003.json"),
      s"restarted tail must consume exactly the new commit, saw $passFiles")
    // IVM contract: the stream-maintained view equals full recomputation.
    val full = s.read.option("basePath", root)
      .parquet(CommitLog.filesAsOf(root, Long.MaxValue)
        .map(f => s"$root/$f"): _*)
      .groupBy((col("key") % 8L).as("bucket"))
      .agg(count(lit(1)).as("n"),
        sum(expr("cast(floor(val * 1e2 + 0.5) as bigint)"))
          .cast("long").as("cents"))
    val refreshed = view
      .select(col("bucket"), col("dn").as("n"), col("dcents").as("cents"))
    def toMap(df: DataFrame) =
      df.collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    require(toMap(refreshed) == toMap(full),
      "stream-maintained view diverged from full recomputation")
    refreshed.orderBy("bucket")
  }

  /** STREAMING CDC APPLY — table_apply_cdf's replica maintenance run as a
    * Structured Streaming query: the replica TAILS the source's `_log`
    * (file-stream source, each commit one immutable file) and applies
    * every batch's NET row deltas to its own commit-log table with the
    * same stats-pruned copy-on-write merge — across a RESTART, with the
    * retention purge landing while the stream is down. A batch may carry
    * SEVERAL source commits (AvailableNow groups the backlog): files both
    * added and removed within the batch cancel at the file level first,
    * then one signed-count pass derives the net row deltas — a replica
    * trails at any lag and still converges. Replica ≡ source require'd after each pass;
    * the declared output is the final replica's per-bucket rollup, which
    * the DuckDB oracle reconstructs from the v3 snapshot predicate. */
  def cdcApplyReplica(s: SparkSession, dir: String): DataFrame =
      withFewStatePartitions(s, 4) {
    import graft.sources.CommitLog
    val src = tmpDir("graft_cdca_src")
    val dst = tmpDir("graft_cdca_dst")
    val ord = T.orders(s, dir)
      .select(col("o_orderkey").as("key"), col("o_totalprice").as("val"))
    val mx = ord.agg(max("key")).head.getLong(0)
    val k1 = mx / 4L + 1L // retention boundary purged at source v3
    def writeGen(df: DataFrame, gen: String): Unit =
      df.coalesce(1).write.mode("overwrite").parquet(s"$src/$gen")
    writeGen(ord.where(col("key") % 2L === 1L), "g=1")
    CommitLog.commit(src, 1L, "g=1")
    writeGen(ord.where(col("key") % 6L === 2L), "g=2")
    CommitLog.commit(src, 2L, "g=2")
    def rowsOf(root: String, fs: Seq[String]): DataFrame =
      s.read.option("basePath", root)
        .parquet(fs.map(f => s"$root/$f"): _*).select("key", "val")
    def stage(df: DataFrame, gen: String, buckets: Int): Map[String, (Long, Long)] = {
      val w = mx / buckets + 1L
      df.withColumn("b", expr(s"key div ${w}L"))
        .repartition(buckets, col("b"))
        .write.partitionBy("b").mode("overwrite").parquet(s"$dst/g=$gen")
      s.read.option("basePath", s"$dst/g=$gen").parquet(s"$dst/g=$gen")
        .select(col("key"), col("_metadata.file_path").as("fp"))
        .groupBy("fp").agg(min("key").as("mn"), max("key").as("mxk"))
        .collect() // bounded: one row per staged file
        .map(r => CommitLog.relToRoot(dst, r.getString(0)) ->
          (r.getLong(1), r.getLong(2))).toMap
    }
    def applyBatch(batch: DataFrame, batchId: Long): Unit = {
      // foreachBatch is at-least-once: a mid-batch failure replays the
      // whole micro-batch. Every commit below is stamped with a
      // batchId-keyed txn marker; a replayed batch finds its own marker
      // on the replica's head commit and no-ops, so the net deltas are
      // never applied twice (the repo's idempotent-sink pattern).
      val txn = s"cdca/$batchId"
      val head = CommitLog.latestVersion(dst)
      if (head > 0L && CommitLog.txnOf(dst, head) == txn) return
      val acts = batch
        .where(!col("src").endsWith(".checkpoint.json"))
        .select(get_json_object(col("value"), "$.add.path").as("a"),
          get_json_object(col("value"), "$.remove.path").as("r"))
        .collect() // bounded: one row per log LINE in the batch
      val addsAll = acts.flatMap(r => Option(r.getString(0))).toSeq
      val remsAll = acts.flatMap(r => Option(r.getString(1))).toSeq
      val adds = addsAll.filterNot(remsAll.toSet) // in-batch churn cancels
      val rems = remsAll.filterNot(addsAll.toSet)
      if (adds.nonEmpty || rems.nonEmpty) {
        val ins = if (adds.isEmpty) ord.limit(0) else rowsOf(src, adds)
        val del = if (rems.isEmpty) ord.limit(0) else rowsOf(src, rems)
        val (netIns, netDel) = graft.Laws.netDelta(ins, del)
        val v = head + 1L
        val dr = netDel.agg(min("key"), max("key")).head
        if (dr.isNullAt(0)) {
          val st = stage(netIns, s"a$v", if (v == 1L) 5 else 1)
          require(CommitLog.tryCommit(dst, v, s"g=a$v",
            addsKnown = Some(st.keys.toSeq.sorted), txn = txn, stats = st),
            s"replica commit $v raced an unknown writer")
        } else {
          val hit = CommitLog.filesAsOfPruned(dst, v - 1L,
            dr.getLong(0), dr.getLong(1))
          require(hit.size < CommitLog.filesAsOf(dst, v - 1L).size,
            "stats pruning must carry at least one untouched replica file")
          val kept = rowsOf(dst, hit)
            .join(netDel.select("key"), Seq("key"), "left_anti")
            .unionAll(netIns)
          val st = stage(kept, s"m$v", 2)
          require(CommitLog.tryCommit(dst, v, s"g=m$v", removes = hit,
            addsKnown = Some(st.keys.toSeq.sorted), txn = txn, stats = st),
            s"replica commit $v raced an unknown writer")
        }
      }
    }
    val ckpt = tmpDir("graft_cdca_ckpt")
    def runPass(): Unit = {
      val q = s.readStream.text(s"$src/_log")
        .select(col("value"), col("_metadata.file_path").as("src"))
        .writeStream
        .outputMode("append")
        .option("checkpointLocation", ckpt)
        .trigger(Trigger.AvailableNow())
        .foreachBatch(applyBatch _)
        .start()
      q.awaitTermination()
    }
    def requireReplicaEqualsSource(): Unit = {
      val rep = CommitLog.readAsOf(s, dst, CommitLog.latestVersion(dst))
        .select("key", "val")
      val sv = rowsOf(src, CommitLog.filesAsOf(src, Long.MaxValue))
      require(graft.Laws.symDiff(rep, sv).isEmpty,
        "streamed replica diverged from the source snapshot")
    }
    runPass() // pass 1: the backlog (v1 + v2) in one batch
    requireReplicaEqualsSource()
    // The retention purge lands while the replica stream is DOWN: one
    // atomic commit removes both generations and re-adds the survivors.
    writeGen(ord.where((col("key") % 2L === 1L || col("key") % 6L === 2L)
      && col("key") >= k1), "g=3")
    CommitLog.commit(src, 3L, "g=3",
      removes = CommitLog.filesAsOf(src, 2L))
    runPass() // pass 2: resumes from the checkpoint, applies the purge
    requireReplicaEqualsSource()
    CommitLog.readAsOf(s, dst, CommitLog.latestVersion(dst))
      .groupBy((col("key") % 8L).as("bucket"))
      .agg(count(lit(1)).as("n"),
        sum(expr("cast(floor(val * 1e2 + 0.5) as bigint)"))
          .cast("long").as("cents"))
      .orderBy("bucket")
  }

  /** STREAMING NIGHTLY REFRESH — pipeline_nightly's incremental-feature
    * leg (step 4 there) run as a Structured Streaming job over the
    * light-curve table's change feed: the standing per-object moment
    * states (n, Σmag — agg_incremental's exact-IVM state) are maintained
    * by a stream TAILING the table's `_log`, each micro-batch folding
    * ONLY the batch's added files into the state table — history stays
    * unread on disk, which is the entire point at 100 TB where a night
    * is O(night + objects touched), never a corpus re-scan. The IVM law
    * is require'd INSIDE every batch: merged state ≡ full recompute over
    * the source snapshot at the batch's high-water version (compared on
    * the 1e-6 grid as ONE symmetric-difference action). Night 2 lands
    * while the stream is DOWN; the restarted stream resumes from its
    * checkpoint and folds only the new night.
    *
    * MULTI-TABLE ATOMICITY (round 17 — table_txn_multi's catalog pin-set
    * on the STREAMING path): each micro-batch publishes TWO tables — the
    * moment STATE and the derived per-object FEATURES (the table
    * consumers actually read) — and with independent logs a reader could
    * land between the two commits and see features that do not derive
    * from the state (the torn pair). So the batch runs a two-phase
    * publish: both tables PREPARE on their own logs (txn-stamped,
    * invisible to catalog readers), then ONE setTags commit on the
    * catalog flips the pin pair atomically. The crash window is
    * require'd inside every post-backlog batch: with both prepares
    * landed and publish not yet run, catalog readers still resolve the
    * OLD pair, that pair still satisfies features ≡ derived(state), and
    * the TORN pair (new state, old features) provably does not — the
    * load-bearing counter-require. Replay/recovery are txn-driven: a
    * fully published batch no-ops; a batch that crashed between prepare
    * and publish re-drives by SKIPPING already-prepared tables (txn
    * match) and publishing once — a duplicate publish conflicts on the
    * create-if-absent catalog log instead of double-applying. At scale
    * the catalog commit is O(1) metadata however many tables the batch
    * touched. */
  /** STREAMING ANN INDEX MAINTENANCE — the production freshness path for
    * retrieval: a Structured Streaming query TAILS the corpus table's
    * `_log` (the changefeed source shape — each commit one immutable
    * file) and appends every micro-batch's arrivals to the standing ANN
    * index through the frozen-centroid path of `sim_index_maintain`,
    * exactly-once via the batchId txn stamp (a crash-recovery replay of
    * a committed batch is a no-op — the txn check, not the checkpoint,
    * carries idempotence). The index's day-0 build covers the corpus's
    * v1 snapshot, so the tail FILTERS adds at versions ≤ 1 (the backlog
    * batch replays the whole log; re-indexing the base would duplicate
    * it). Laws require'd INSIDE every indexing batch: the streamed index
    * ≡ the batch recompute (assign the corpus snapshot at the batch's
    * high-water version against the SAME frozen centroids — the IVM law)
    * and the day-0 geometry files are still live (the non-consuming read
    * discipline; a landed refit must abort this appender, not mix
    * geometries). Night 2 lands while the stream is DOWN; the resumed
    * tail must consume exactly the one new commit. The declared output
    * probes the final streamed index in sim_index_maintain's two lanes —
    * the streamed and batch forms share one oracle, and StreamingSpec
    * pins them row-identical. Scale: each batch reads ONLY its arrival
    * files (history stays unread), assignment is one broadcast-centroid
    * pass over the delta, the append is O(delta) files + one commit. */
  def indexMaintainStream(s: SparkSession, dir: String): DataFrame =
      withFewStatePartitions(s, 4) {
    import graft.sources.CommitLog
    import graft.operators.Similarity
    val m = graft.GraftConfig.AnnDeltaMod
    val r = graft.GraftConfig.AnnDeltaRem
    val day1 = col("vec_id") % m === r
    val src = tmpDir("graft_sidx_src")
    val idx = tmpDir("graft_sidx_idx")
    val centsPath = tmpDir("graft_sidx_cents")
    val co = Similarity.corpus(s, dir).select("vec_id", "ce")
    def writeGen(df: DataFrame, gen: String): Unit =
      df.coalesce(1).write.mode("overwrite").parquet(s"$src/$gen")
    // The corpus table: base snapshot at v1, night 1 = half the delta
    // cohort at v2 (night 2's half lands later, while the stream is down).
    writeGen(co.where(!day1), "g=1")
    CommitLog.commit(src, 1L, "g=1")
    writeGen(co.where(col("vec_id") % (2L * m) === r), "g=2")
    CommitLog.commit(src, 2L, "g=2")
    // Day-0 index: quantizer fit FROZEN on the base snapshot (persisted,
    // read back — the ingest-job shape), base codes committed as idx v1.
    Similarity.ivfFit(co.where(!day1), Similarity.ivfSeeds(s, dir))
      .write.mode("overwrite").parquet(centsPath)
    val cents = s.read.parquet(centsPath)
    Similarity.assignCell(co.where(!day1), "vec_id", "ce", cents)
      .coalesce(1).write.mode("overwrite").parquet(s"$idx/s1")
    CommitLog.commit(idx, 1L, "s1")
    val idxBase = CommitLog.filesAsOf(idx, 1L).toSet
    val VFile = """.*/(\d{8})\.json$""".r
    val passFiles = scala.collection.mutable.LinkedHashSet.empty[String]
    def applyBatch(batch: DataFrame, batchId: Long): Unit = {
      val txn = s"sidx/$batchId"
      val head = CommitLog.latestVersion(idx)
      // Exactly-once: a replayed batch already committed its append.
      if (head > 1L && CommitLog.txnOf(idx, head) == txn) return
      val acts = batch
        .where(!col("src").endsWith(".checkpoint.json"))
        .select(get_json_object(col("value"), "$.add.path").as("a"),
          col("src"))
        .collect() // bounded: one row per log LINE in the batch
      acts.foreach(a => passFiles += a.getString(1): Unit)
      // Arrivals = adds committed AFTER the index's day-0 base version.
      val arrivals = acts.filter { a =>
        Option(a.getString(0)).isDefined &&
          (a.getString(1) match {
            case VFile(v) => v.toLong > 1L
            case _        => false
          })
      }.map(_.getString(0)).toSeq
      if (arrivals.isEmpty) return
      val vMax = acts.map(_.getString(1))
        .collect { case VFile(x) => x.toLong }.max
      // Non-consuming read discipline: the day-0 geometry these arrivals
      // are assigned against must still be live (a landed refit aborts
      // the appender instead of mixing geometries).
      require(idxBase.subsetOf(CommitLog.filesAsOf(idx, head).toSet),
        "the day-0 code files were retired — a refit landed; aborting " +
          "the frozen-geometry append")
      val v = head + 1L
      Similarity.assignCell(
        s.read.option("basePath", src)
          .parquet(arrivals.map(f => s"$src/$f"): _*)
          .select("vec_id", "ce"),
        "vec_id", "ce", cents)
        .coalesce(1).write.mode("overwrite").parquet(s"$idx/s$v")
      require(CommitLog.tryCommit(idx, v, s"s$v", txn = txn),
        s"index append $v raced an unknown writer")
      // IVM law, inside the batch: the streamed index ≡ assigning the
      // corpus snapshot at the batch's high-water version against the
      // same frozen centroids.
      val streamed = CommitLog.readAsOf(s, idx, v).select("vec_id", "cell")
      val full = Similarity.assignCell(
        CommitLog.readAsOf(s, src, vMax).select("vec_id", "ce"),
        "vec_id", "ce", cents).select("vec_id", "cell")
      require(graft.Laws.symDiff(streamed, full).isEmpty,
        s"streamed index diverged from the v$vMax recompute (IVM law)")
    }
    val ckpt = tmpDir("graft_sidx_ckpt")
    def runPass(): Unit = {
      val q = s.readStream.text(s"$src/_log")
        .select(col("value"), col("_metadata.file_path").as("src"))
        .writeStream
        .outputMode("append")
        .option("checkpointLocation", ckpt)
        .trigger(Trigger.AvailableNow())
        .foreachBatch(applyBatch _)
        .start()
      q.awaitTermination()
    }
    runPass() // pass 1: base (skipped) + night 1 indexed
    // Night 2 lands while the indexer is DOWN…
    writeGen(co.where(col("vec_id") % (2L * m) === m + r), "g=3")
    CommitLog.commit(src, 3L, "g=3")
    passFiles.clear()
    runPass() // pass 2: resumes from the checkpoint
    require(passFiles.size == 1 && passFiles.head.endsWith("00000003.json"),
      s"restarted tail must consume exactly the new commit, saw $passFiles")
    // Declared output: probe the final streamed index in
    // sim_index_maintain's two lanes (shared oracle; StreamingSpec pins
    // streamed ≡ batch row-identically).
    val p = Similarity.assignCell(
      Similarity.probes(s, dir), "probe_id", "pe", cents)
    val scored = CommitLog.readAsOf(s, idx, Long.MaxValue)
      .join(broadcast(p), Seq("cell"))
      .where(col("probe_id") =!= col("vec_id"))
      .select(col("probe_id"), col("cell"), col("vec_id"),
        Similarity.cosine(col("pe"), col("ce")).as("raw"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("probe_id").orderBy(col("raw").desc, col("vec_id").asc)
    val top3 = scored
      .withColumn("rank", row_number().over(w).cast("long"))
      .where(col("rank") <= 3L)
      .withColumn("scope", lit("all"))
    val fresh = scored.where(col("vec_id") % m === r)
      .withColumn("rank", row_number().over(w).cast("long"))
      .where(col("rank") === 1L)
      .withColumn("scope", lit("fresh"))
    top3.unionAll(fresh)
      .select(col("probe_id"), col("scope"), col("cell"), col("vec_id"),
        graft.Rnd.rnd(col("raw"), 6).as("cos"), col("rank"))
      .orderBy("probe_id", "scope", "rank")
  }

  /** STREAMING DEDUP INDEX MAINTENANCE — [[indexMaintainStream]]'s twin on
    * the OTHER standing index family: a Structured Streaming query tails
    * the corpus table's `_log` and appends every micro-batch's arrivals to
    * the standing LSH band index through the FROZEN-VOCABULARY signature
    * path (`Dedup.bandRowsFrozen`), exactly-once via the batchId txn
    * stamp. The frozen geometry here is the token DICTIONARY, with
    * FREQUENCY-RANKED ids (df DESC, tok — the assignment real tokenizers
    * ship): fitted once on the day-0 snapshot and persisted beside the
    * index (ids depend on corpus-wide statistics, so a dictionary
    * re-ranked per batch would re-sign the whole standing index — vocab
    * re-fits belong to the refit, exactly as centroid re-fits do), with
    * arrivals' unseen tokens dropping their shingles — the
    * vector-outside-the-fitted-geometry case. Laws require'd INSIDE every
    * indexing batch: streamed band index ≡ the frozen-dict recompute of
    * the corpus snapshot at the batch's high-water version (the IVM law)
    * and the day-0 band files still live (the non-consuming read
    * discipline — a landed vocab refit aborts this appender). Night 2
    * lands while the stream is DOWN; the resumed tail must consume
    * exactly the one new commit. Declared output = today's crawl (the
    * second delta day) probing the FINAL streamed index in
    * `dedup_index_maintain`'s join shape; StreamingSpec pins streamed ≡
    * the batch frozen-dict construction row-identically. Scale: each
    * batch reads ONLY its arrival files and pays the signature pipeline
    * for its own delta (history unread — the 100 TB point), the append is
    * O(delta) files + one commit, and the probe side meets the index
    * with zero index-side recompute. */
  def dedupMaintainStream(s: SparkSession, dir: String): DataFrame =
      withFewStatePartitions(s, 4) {
    import graft.sources.CommitLog
    import graft.operators.Dedup
    val m = graft.GraftConfig.DedupDeltaMod
    val r1 = graft.GraftConfig.DedupDeltaRem
    val r2 = graft.GraftConfig.DedupDelta2Rem
    val day1 = col("doc_id") % m === r1
    val day2 = col("doc_id") % m === r2
    val src = tmpDir("graft_sdix_src")
    val idx = tmpDir("graft_sdix_idx")
    val dictPath = tmpDir("graft_sdix_dict")
    val docs = T.documents(s, dir).select("doc_id", "text")
    val base = docs.where(!day1 && !day2)
    def writeGen(df: DataFrame, gen: String): Unit =
      df.coalesce(1).write.mode("overwrite").parquet(s"$src/$gen")
    // The corpus table: base snapshot at v1; night 1 = half the day-1
    // cohort at v2 (night 2's half lands later, while the stream is down).
    writeGen(base, "g=1")
    CommitLog.commit(src, 1L, "g=1")
    writeGen(docs.where(col("doc_id") % (2L * m) === r1), "g=2")
    CommitLog.commit(src, 2L, "g=2")
    // Day-0 artifact: the frozen vocabulary persisted (read back — the
    // ingest-job shape), base band rows committed as idx v1.
    Dedup.dictFreqOf(base).write.mode("overwrite").parquet(dictPath)
    val fdict = s.read.parquet(dictPath)
    Dedup.bandRowsFrozen(base, fdict)
      .coalesce(1).write.mode("overwrite").parquet(s"$idx/s1")
    CommitLog.commit(idx, 1L, "s1")
    val idxBase = CommitLog.filesAsOf(idx, 1L).toSet
    val VFile = """.*/(\d{8})\.json$""".r
    val passFiles = scala.collection.mutable.LinkedHashSet.empty[String]
    def applyBatch(batch: DataFrame, batchId: Long): Unit = {
      val txn = s"sdix/$batchId"
      val head = CommitLog.latestVersion(idx)
      // Exactly-once: a replayed batch already committed its append.
      if (head > 1L && CommitLog.txnOf(idx, head) == txn) return
      val acts = batch
        .where(!col("src").endsWith(".checkpoint.json"))
        .select(get_json_object(col("value"), "$.add.path").as("a"),
          col("src"))
        .collect() // bounded: one row per log LINE in the batch
      acts.foreach(a => passFiles += a.getString(1): Unit)
      // Arrivals = adds committed AFTER the index's day-0 base version.
      val arrivals = acts.filter { a =>
        Option(a.getString(0)).isDefined &&
          (a.getString(1) match {
            case VFile(v) => v.toLong > 1L
            case _        => false
          })
      }.map(_.getString(0)).toSeq
      if (arrivals.isEmpty) return
      val vMax = acts.map(_.getString(1))
        .collect { case VFile(x) => x.toLong }.max
      // Non-consuming read discipline: the day-0 band files these
      // arrivals append beside must still be live (a landed vocab refit
      // aborts the appender instead of mixing vocabularies).
      require(idxBase.subsetOf(CommitLog.filesAsOf(idx, head).toSet),
        "the day-0 band files were retired — a refit landed; aborting " +
          "the frozen-vocabulary append")
      val v = head + 1L
      Dedup.bandRowsFrozen(
        s.read.option("basePath", src)
          .parquet(arrivals.map(f => s"$src/$f"): _*)
          .select("doc_id", "text"),
        fdict)
        .coalesce(1).write.mode("overwrite").parquet(s"$idx/s$v")
      require(CommitLog.tryCommit(idx, v, s"s$v", txn = txn),
        s"index append $v raced an unknown writer")
      // IVM law, inside the batch: the streamed index ≡ re-signing the
      // corpus snapshot at the batch's high-water version against the
      // same frozen dictionary.
      val streamed = CommitLog.readAsOf(s, idx, v)
        .select("doc_id", "band", "sig_a", "sig_b")
      val full = Dedup.bandRowsFrozen(
        CommitLog.readAsOf(s, src, vMax).select("doc_id", "text"), fdict)
        .select("doc_id", "band", "sig_a", "sig_b")
      require(graft.Laws.symDiff(streamed, full).isEmpty,
        s"streamed band index diverged from the v$vMax recompute (IVM law)")
    }
    val ckpt = tmpDir("graft_sdix_ckpt")
    def runPass(): Unit = {
      val q = s.readStream.text(s"$src/_log")
        .select(col("value"), col("_metadata.file_path").as("src"))
        .writeStream
        .outputMode("append")
        .option("checkpointLocation", ckpt)
        .trigger(Trigger.AvailableNow())
        .foreachBatch(applyBatch _)
        .start()
      q.awaitTermination()
    }
    runPass() // pass 1: base (skipped) + night 1 signed and appended
    // Night 2 lands while the indexer is DOWN…
    writeGen(docs.where(col("doc_id") % (2L * m) === m + r1), "g=3")
    CommitLog.commit(src, 3L, "g=3")
    passFiles.clear()
    runPass() // pass 2: resumes from the checkpoint
    require(passFiles.size == 1 && passFiles.head.endsWith("00000003.json"),
      s"restarted tail must consume exactly the new commit, saw $passFiles")
    // Declared output: today's crawl (the second delta day, never in the
    // corpus log) probes the final streamed index — dedup_index_maintain's
    // join shape, against the maintained-by-stream index.
    val delta = Dedup.bandRowsFrozen(docs.where(day2), fdict)
      .select(col("doc_id").as("delta_id"),
        col("band"), col("sig_a"), col("sig_b"))
    val index = CommitLog.readAsOf(s, idx, Long.MaxValue)
    val hits = index.join(delta.hint("merge"), Seq("band", "sig_a", "sig_b"))
      .groupBy("delta_id").agg(min(col("doc_id")).as("dup_of"))
    docs.where(day2)
      .select(col("doc_id"))
      .join(broadcast(hits.select(col("delta_id").as("doc_id"), col("dup_of"))),
        Seq("doc_id"), "left")
      .select(col("doc_id"), col("dup_of"),
        when(col("dup_of").isNull, lit("novel"))
          .otherwise(lit("dup_of_base")).as("status"))
      .orderBy("doc_id")
  }

  def nightlyRefreshStream(s: SparkSession, dir: String): DataFrame =
      withFewStatePartitions(s, 4) {
    import graft.sources.CommitLog
    graft.functions.Magnitude.register(s)
    val src = tmpDir("graft_snight_src")
    val st = tmpDir("graft_snight_state")
    val ft = tmpDir("graft_snight_features")
    val cat = tmpDir("graft_snight_catalog")
    val det = T.events(s, dir)
      .where(col("value") > 0.0)
      .select(col("user_id").as("u"),
        expr("unix_timestamp(ts) div 86400").as("day"),
        expr("graft_mag(value)").as("mag"))
    val mxDay = det.agg(max("day")).head.getLong(0)
    def writeGen(df: DataFrame, gen: String): Unit =
      df.coalesce(2).write.mode("overwrite").parquet(s"$src/$gen")
    writeGen(det.where(col("day") < mxDay - 1L), "g=1") // the history
    CommitLog.commit(src, 1L, "g=1")
    writeGen(det.where(col("day") === mxDay - 1L), "g=2") // night 1
    CommitLog.commit(src, 2L, "g=2")
    val VFile = """.*/(\d{8})\.json$""".r
    def featsOf(vs: Long): DataFrame = CommitLog.readAsOf(s, st, vs)
      .select(col("u"), col("n"),
        graft.Rnd.rnd(col("sm") / col("n"), 6).as("mean_mag"))
    def pairConsistent(vs: Long, vf: Long): Boolean = {
      val a = featsOf(vs)
      val b = CommitLog.readAsOf(s, ft, vf).select("u", "n", "mean_mag")
      graft.Laws.symDiff(a, b).isEmpty
    }
    def applyBatch(batch: DataFrame, batchId: Long): Unit = {
      val txn = s"snight/$batchId"
      val pins0 =
        if (CommitLog.latestVersion(cat) == 0L) Map.empty[String, Long]
        else CommitLog.pinnedVersions(cat)
      val head = CommitLog.latestVersion(st)
      val stPrepared = head > 0L && CommitLog.txnOf(st, head) == txn
      // FULL replay: this batch already PUBLISHED through the catalog.
      if (stPrepared && pins0.get("state").contains(head)) return
      val acts = batch
        .where(!col("src").endsWith(".checkpoint.json"))
        .select(get_json_object(col("value"), "$.add.path").as("a"),
          col("src"))
        .collect() // bounded: one row per log LINE in the batch
      val adds = acts.flatMap(r => Option(r.getString(0))).toSeq
      if (adds.isEmpty) return
      val vMax = acts.map(_.getString(1)).collect {
        case VFile(v) => v.toLong
      }.max // the batch's high-water source version
      // PREPARE 1 — the moment state (skipped on a crash-recovery
      // re-drive whose state prepare already landed: txn match).
      val v = if (stPrepared) head else head + 1L
      if (!stPrepared) {
        val delta = s.read.option("basePath", src)
          .parquet(adds.map(f => s"$src/$f"): _*)
          .groupBy("u").agg(count(lit(1)).as("dn"), sum("mag").as("dsum"))
        val prev =
          if (head == 0L) delta.limit(0).select(col("u"),
            col("dn").as("n"), col("dsum").as("sm"))
          else CommitLog.readAsOf(s, st, head).select("u", "n", "sm")
        val merged = prev.join(delta, Seq("u"), "full_outer")
          .na.fill(0L, Seq("n", "dn")).na.fill(0.0, Seq("sm", "dsum"))
          .select(col("u"), (col("n") + col("dn")).as("n"),
            (col("sm") + col("dsum")).as("sm"))
        merged.coalesce(1).write.mode("overwrite").parquet(s"$st/g=$v")
        require(CommitLog.tryCommit(st, v, s"g=$v", txn = txn,
            removes = if (head == 0L) Nil else CommitLog.filesAsOf(st, head)),
          s"state commit $v raced an unknown writer")
      }
      // PREPARE 2 — the derived features table, from the PREPARED state.
      val ftHead = CommitLog.latestVersion(ft)
      if (!(ftHead > 0L && CommitLog.txnOf(ft, ftHead) == txn)) {
        featsOf(v).coalesce(1).write.mode("overwrite").parquet(s"$ft/g=$v")
        require(CommitLog.tryCommit(ft, v, s"g=$v", txn = txn,
            removes = if (ftHead == 0L) Nil
                      else CommitLog.filesAsOf(ft, ftHead)),
          s"features commit $v raced an unknown writer")
      }
      // CRASH WINDOW — both prepares landed, publish not yet run. The
      // catalog still resolves the OLD pair; that pair is consistent;
      // the torn pair provably is not (pinning is correctness, not
      // hygiene). First batch has no published pair to protect yet.
      if (v > 1L) {
        require(CommitLog.pinnedVersions(cat) ==
            Map("state" -> (v - 1L), "features" -> (v - 1L)),
          "a table prepare leaked into the catalog before publish")
        require(pairConsistent(v - 1L, v - 1L),
          "the catalog-resolved pair broke features ≡ derived(state)")
        require(!pairConsistent(v, v - 1L),
          "fixture must demonstrate the torn pair is actually inconsistent")
      }
      // PUBLISH — one atomic catalog commit flips both pins.
      CommitLog.setTags(cat, v, Seq("state" -> v, "features" -> v))
      // The IVM law, inside the batch: published state ≡ full recompute
      // over the source snapshot at the batch's high-water version,
      // on the 1e-6 grid, as ONE symmetric-difference action.
      val stRows = CommitLog.readAsOf(s, st, v)
        .select(col("u"), col("n"), graft.Rnd.rnd(col("sm"), 6).as("smr"))
      val full = CommitLog.readAsOf(s, src, vMax).groupBy("u")
        .agg(count(lit(1)).as("n"), graft.Rnd.rnd(sum("mag"), 6).as("smr"))
        .select("u", "n", "smr")
      require(graft.Laws.symDiff(stRows, full).isEmpty,
        s"streamed state diverged from the v$vMax recompute (IVM law)")
    }
    val ckpt = tmpDir("graft_snight_ckpt")
    def runPass(): Unit = {
      val q = s.readStream.text(s"$src/_log")
        .select(col("value"), col("_metadata.file_path").as("src"))
        .writeStream
        .outputMode("append")
        .option("checkpointLocation", ckpt)
        .trigger(Trigger.AvailableNow())
        .foreachBatch(applyBatch _)
        .start()
      q.awaitTermination()
    }
    runPass() // pass 1: history + night 1 fold in one backlog batch
    // Night 2 lands while the refresh stream is DOWN...
    writeGen(det.where(col("day") === mxDay), "g=3")
    CommitLog.commit(src, 3L, "g=3")
    runPass() // pass 2: resumes from the checkpoint, folds only night 2
    // Consumers resolve BOTH tables through the catalog — the pin pair is
    // the only read path, so a torn observation is impossible by
    // construction.
    val pins = CommitLog.pinnedVersions(cat)
    require(pins("state") == pins("features"),
      "the published pin pair must advance in lockstep")
    val nStateVersions = pins("state")
    CommitLog.readAsOf(s, ft, pins("features"))
      .select(col("u").as("object_id"), col("n").as("n_total"),
        col("mean_mag"),
        lit(nStateVersions).as("n_state_versions"))
      .orderBy("object_id")
  }

  /** foreachBatch sink: each micro-batch's per-type aggregate is upserted
    * (overwritten by batch id) into a parquet target, then read back and
    * re-aggregated — the idempotent-sink pattern for exactly-once output. */
  def foreachBatchUpsert(s: SparkSession, dir: String): DataFrame =
      withFewStatePartitions(s, 4) {
    val target = tmpDir("graft_febatch_out")
    val q = eventsStream(s, dir)
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"))
      .writeStream
      .outputMode("complete")
      .option("checkpointLocation", tmpDir("graft_febatch_ckpt"))
      .trigger(Trigger.AvailableNow())
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        batch.withColumn("batch_id", lit(batchId))
          .coalesce(1)
          .write.mode("overwrite").parquet(target)
      }
      .start()
    q.awaitTermination()
    s.read.parquet(target)
      .groupBy("event_type")
      .agg(sum("n").as("n"))
      .orderBy("event_type")
  }

  /** Streaming leaderboard for [[topkLeaderboard]]: per-(type, user) running
    * event count — O(1) keyed state per pair, the mergeable shape that
    * (unlike a per-type "top list" state) never grows with stream length. */
  final case class PairCount(n: Long)

  /** Streaming top-k: counts accumulate in keyed state per
    * (event_type, user_id) across micro-batches; the final rank runs as a
    * batch pass over the drained state. Count folds are order-independent,
    * so — unlike the gap-tracking state op — this REAL streaming execution
    * is exactly oracle-expressible (batch count + row_number ≤ k). At
    * scale: state partitions on the pair key (no hot per-type key holds a
    * list), and the final top-k uses the rank-pushdown window
    * (WindowGroupLimit) over pair-count-sized data, not events. */
  /** Streaming DDSketch quantile monitor (`stream_pctile`): the
    * per-(window, type, bucket) count IS the streaming aggregation's
    * state — bounded at ≤~540 occupied buckets per group no matter how
    * many events flow through, which is what makes a percentile monitor
    * runnable forever on an unbounded stream. Complete mode + memory sink
    * so the drained sketch equals the batch sketch exactly (strongest
    * parity check, asserted by StreamingSpec); production runs append +
    * watermark and estimates only closed windows. The estimate is the
    * shared relational rank-scan tail (Aggregates.ddEstimate) over the
    * emitted sketch table. */
  def pctileMonitor(s: SparkSession, dir: String): DataFrame =
      withFewStatePartitions(s, 4) {
    val qn = "graft_pct_" + java.util.UUID.randomUUID().toString.replace("-", "")
    val q = eventsStream(s, dir)
      .groupBy(window(col("ts"), "1 hour").as("w"), col("event_type"),
        graft.operators.Aggregates.ddBucket.as("b"))
      .agg(count(lit(1)).as("cnt"))
      .select(col("w.start").as("win_start"), col("event_type"),
        col("b"), col("cnt"))
      .writeStream
      .format("memory")
      .queryName(qn)
      .outputMode("complete")
      .option("checkpointLocation", tmpDir("graft_pct_ckpt"))
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    graft.operators.Aggregates.ddEstimate(s.table(qn),
      Seq("win_start", "event_type"))
  }

  /** Stream-static enrichment (`stream_enrich`): the event stream inner-
    * joins a STATIC dimension frame — stateless in Structured Streaming
    * (the static side broadcasts per micro-batch; no watermark, no join
    * state), which is what makes dimension enrichment free of stream
    * volume. Complete-mode drain must equal the batch join + aggregate
    * exactly (StreamingSpec asserts it). */
  def enrichedCounts(s: SparkSession, dir: String): DataFrame =
      withFewStatePartitions(s, 4) {
    val qn = "graft_enrich_" + java.util.UUID.randomUUID().toString.replace("-", "")
    val dim = graft.Tables.customer(s, dir)
      .select(col("c_custkey"), col("c_mktsegment"))
    val q = eventsStream(s, dir)
      .withColumn("cents",
        graft.Rnd.rnd(col("value") * 100.0, 0).cast("long"))
      .join(broadcast(dim), col("user_id") === col("c_custkey"))
      .groupBy("c_mktsegment", "event_type")
      .agg(count(lit(1)).as("n"), sum("cents").as("sum_cents"))
      .writeStream
      .format("memory")
      .queryName(qn)
      .outputMode("complete")
      .option("checkpointLocation", tmpDir("graft_enrich_ckpt"))
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    s.table(qn).orderBy("c_mktsegment", "event_type")
  }

  def topkLeaderboard(s: SparkSession, dir: String, k: Int): DataFrame =
      withFewStatePartitions(s, 4) {
    import s.implicits._
    val qn = "graft_topk_" + java.util.UUID.randomUUID().toString.replace("-", "")
    val fold = (key: (String, Long), rows: Iterator[(String, Long)],
        state: GroupState[PairCount]) => {
      val st = PairCount(state.getOption.fold(0L)(_.n) + rows.size)
      state.update(st)
      Iterator.single((key._1, key._2, st.n))
    }
    val q = eventsStream(s, dir)
      .select(col("event_type"), col("user_id").cast("long"))
      .as[(String, Long)]
      .groupByKey(identity)
      .flatMapGroupsWithState(OutputMode.Update(), GroupStateTimeout.NoTimeout())(fold)
      .toDF("event_type", "user_id", "n")
      .writeStream
      .format("memory")
      .queryName(qn)
      .outputMode("update")
      .option("checkpointLocation", tmpDir("graft_topk_ckpt"))
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    // Update mode emits one row per touched pair per micro-batch; the final
    // count per pair is the max (n is monotonic). Then rank within type.
    val w = Window.partitionBy("event_type")
      .orderBy(col("n").desc, col("user_id").asc)
    s.table(qn)
      .groupBy("event_type", "user_id").agg(max("n").as("n"))
      .withColumn("rank", row_number().over(w).cast("long"))
      .where(col("rank") <= k)
      .orderBy("event_type", "rank")
  }

  /** Streaming transient association — the alert-broker stage downstream of
    * pipeline_transient's image subtraction: DETECTIONS arrive per epoch
    * (one file per night, maxFilesPerTrigger = 1 forces one micro-batch per
    * epoch), and a flatMapGroupsWithState fold keyed on the POSITION
    * accumulates each candidate's (epoch, flux) list, re-deriving the
    * light-curve census and its rising/fading/single classification on
    * every update. The state is the accumulated epoch list — ORDER-
    * INDEPENDENT (sorted at emit time), so association is correct even if
    * the file source replays epochs out of order; its size is bounded by
    * epochs-per-candidate, the lc-family premise. The streamed-≡-batch law
    * is require'd in here: the final streamed census must equal the batch
    * census computed from the same detection table. */
  def transientAssocStream(s: SparkSession, dir: String): DataFrame =
      withFewStatePartitions(s, 4) {
    import s.implicits._
    // Deterministic detection table: the injected schedule (flux = 5A, the
    // peaked-profile identity pipeline_transient proves from pixels) plus
    // two spurious single-epoch detections.
    val det = Seq(
      (1L, 10L, 10L, 2000L), (3L, 10L, 10L, 2500L), (5L, 10L, 10L, 3000L),
      (3L, 24L, 20L, 3000L), (5L, 24L, 20L, 2600L),
      (5L, 5L, 25L, 2100L),
      (2L, 7L, 30L, 1500L), (4L, 28L, 3L, 1800L))
      .toDF("frame_id", "x", "y", "flux")
    val root = tmpDir("graft_transient_src")
    writeEpochFiles(det, root, "frame_id", 1L to 5L)
    val sch = s.read.parquet(root).schema
    def classify(curve: Seq[(Long, Long)]): (Long, Long, Long, Long, Long, String) = {
      val sorted = curve.sortBy(_._1)
      val deltas = sorted.sliding(2).collect {
        case Seq((_, a), (_, b)) => b - a
      }.toSeq
      val cls =
        if (sorted.size == 1) "single"
        else if (deltas.forall(_ > 0L)) "rising"
        else if (deltas.forall(_ < 0L)) "fading"
        else "mixed"
      (sorted.size.toLong, sorted.head._1, sorted.last._1,
        sorted.map(_._2).max, sorted.map(_._2).sum, cls)
    }
    val fold = (pos: (Long, Long), rows: Iterator[(Long, Long, Long, Long)],
        state: GroupState[Seq[(Long, Long)]]) => {
      val st = state.getOption.getOrElse(Seq.empty) ++
        rows.map(r => (r._1, r._4))
      state.update(st)
      val (n, first, last, peak, total, cls) = classify(st)
      Iterator.single((pos._1, pos._2, n, first, last, peak, total, cls))
    }
    val qn = "graft_trans_" + java.util.UUID.randomUUID().toString.replace("-", "")
    val q = s.readStream.schema(sch)
      .option("maxFilesPerTrigger", "1")
      .option("maxFileAge", "100000d") // stamped 2020-era mtimes must never age out
      .parquet(root)
      .as[(Long, Long, Long, Long)]
      .groupByKey(r => (r._2, r._3))
      .flatMapGroupsWithState(OutputMode.Update(), GroupStateTimeout.NoTimeout())(fold)
      .toDF("x", "y", "n_epochs", "first_frame", "last_frame", "peak_flux",
        "total_flux", "class")
      .writeStream.format("memory").queryName(qn)
      .outputMode("update")
      .option("checkpointLocation", tmpDir("graft_trans_ckpt"))
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    // Update mode emits one census per touched position per micro-batch;
    // the final census per position is the max-epoch row (state strictly
    // grows on every emission today, but last_frame desc is a second sort
    // key so a future timeout-driven emission without state growth still
    // picks deterministically).
    val w = Window.partitionBy("x", "y")
      .orderBy(col("n_epochs").desc, col("last_frame").desc)
    val streamed = s.table(qn)
      .withColumn("rn", row_number().over(w)).where(col("rn") === 1).drop("rn")
      .localCheckpoint()
    // The streamed-≡-batch law: the same census from the batch plan.
    val lagW = Window.partitionBy("x", "y").orderBy("frame_id")
    val batch = det
      .withColumn("dflux", col("flux") - lag("flux", 1).over(lagW))
      .groupBy("x", "y")
      .agg(count(lit(1)).as("n_epochs"),
        min("frame_id").as("first_frame"), max("frame_id").as("last_frame"),
        max("flux").as("peak_flux"), sum("flux").cast("long").as("total_flux"),
        min("dflux").as("min_d"), max("dflux").as("max_d"))
      .withColumn("class",
        when(col("n_epochs") === 1L, "single")
          .when(col("min_d") > 0L, "rising")
          .when(col("max_d") < 0L, "fading")
          .otherwise("mixed"))
      .drop("min_d", "max_d")
    require(graft.Laws.symDiff(streamed, batch).isEmpty,
      "the streamed transient census diverged from the batch association")
    streamed.orderBy("x")
  }

  /** Streaming transient association WITH STATE EVICTION + RESURRECTION —
    * the broker reality at survey scale: the candidate population is
    * unbounded, so live state cannot be. Phase A replays the on-time
    * epochs under an event-time watermark (0 s delay; one epoch per
    * micro-batch); a candidate idle past its ~1-day timeout is EVICTED:
    * its census AND full curve emit to the curve table (the memory sink
    * here; a parquet upsert in production) and its state is removed. The
    * fixture exercises both firing paths — one candidate evicts
    * MID-STREAM (a data batch's timeout sweep), one in the POST-DRAIN
    * no-data batch when the final watermark passes it. Phase B replays
    * LATE detections (event time behind phase A's final watermark): the
    * association restarts with `initialState` re-read FROM the curve
    * table, so an evicted candidate RESURRECTS with its pre-eviction
    * history intact and a live candidate simply continues. Laws
    * require'd in here: (1) the evict set is exactly what the watermark
    * arithmetic predicts (last on-time epoch ≤ horizon — the same
    * integer inequality the oracle evaluates); (2) the COMBINED streamed
    * census (phase B overriding phase A) ≡ the batch census over ALL
    * detections, on-time + late; (3) every resurrected candidate's
    * census counts MORE epochs than its late rows alone — resurrection
    * rebuilt from the table, not from scratch. Scale: live state is
    * bounded by the watermark horizon regardless of how many candidates
    * ever existed; eviction and resurrection both move one census row +
    * one bounded curve per candidate, and the association still shuffles
    * once on the position key. */
  def transientWatermarkStream(s: SparkSession, dir: String): DataFrame =
      withFewStatePartitions(s, 4) {
    import s.implicits._
    val dayMs = 86400L * 1000L
    // Timeout gap just UNDER a day so a candidate whose last epoch is d
    // times out once the watermark reaches day d+1 regardless of the
    // engine's strict-vs-inclusive boundary convention.
    val gapMs = 86300L * 1000L
    val onTime = Seq(
      (1L, 10L, 10L, 2000L), (3L, 10L, 10L, 2500L), (5L, 10L, 10L, 3000L),
      (3L, 24L, 20L, 3000L), (5L, 24L, 20L, 2600L),
      (5L, 5L, 25L, 2100L),
      (2L, 7L, 30L, 1500L), (4L, 28L, 3L, 1800L))
    val lateDet = Seq((3L, 7L, 30L, 1700L), (6L, 10L, 10L, 3500L))
    val rootA = tmpDir("graft_transwm_src")
    val onDf = onTime.toDF("frame_id", "x", "y", "flux")
    writeEpochFiles(onDf, rootA, "frame_id", 1L to 5L)
    val sch = s.read.parquet(rootA).schema
    def classify(curve: Seq[(Long, Long)])
        : (Long, Long, Long, Long, Long, String) = {
      val sorted = curve.sortBy(_._1)
      val deltas = sorted.sliding(2).collect {
        case Seq((_, a), (_, b)) => b - a
      }.toSeq
      val cls =
        if (sorted.size == 1) "single"
        else if (deltas.forall(_ > 0L)) "rising"
        else if (deltas.forall(_ < 0L)) "fading"
        else "mixed"
      (sorted.size.toLong, sorted.head._1, sorted.last._1,
        sorted.map(_._2).max, sorted.map(_._2).sum, cls)
    }
    def emitRow(pos: (Long, Long), st: Seq[(Long, Long)], kind: String,
        wm: Long): (Long, Long, Long, Long, Long, Long, Long, String,
          String, Long, Seq[Long], Seq[Long]) = {
      val (n, first, last, peak, total, cls) = classify(st)
      val sorted = st.sortBy(_._1)
      (pos._1, pos._2, n, first, last, peak, total, cls, kind, wm,
        sorted.map(_._1), sorted.map(_._2))
    }
    val foldA = (pos: (Long, Long),
        rows: Iterator[(Long, Long, Long, Long, java.sql.Timestamp)],
        state: GroupState[Seq[(Long, Long)]]) => {
      if (state.hasTimedOut) {
        val st = state.get
        state.remove()
        Iterator.single(emitRow(pos, st, "evict",
          state.getCurrentWatermarkMs()))
      } else {
        val st = state.getOption.getOrElse(Seq.empty) ++
          rows.map(r => (r._3, r._4))
        state.update(st)
        state.setTimeoutTimestamp(st.map(_._1).max * dayMs + gapMs)
        Iterator.single(emitRow(pos, st, "live",
          state.getCurrentWatermarkMs()))
      }
    }
    val qnA = "graft_transwm_" +
      java.util.UUID.randomUUID().toString.replace("-", "")
    val qa = s.readStream.schema(sch).option("maxFilesPerTrigger", "1")
      .option("maxFileAge", "100000d") // stamped 2020-era mtimes must never age out
      .parquet(rootA)
      .select(col("x"), col("y"), col("frame_id"), col("flux"),
        timestamp_seconds(col("frame_id") * 86400L).as("ts"))
      .withWatermark("ts", "0 seconds")
      .as[(Long, Long, Long, Long, java.sql.Timestamp)]
      .groupByKey(r => (r._1, r._2))
      .flatMapGroupsWithState(OutputMode.Update(),
        GroupStateTimeout.EventTimeTimeout())(foldA)
      .toDF("x", "y", "n_epochs", "first_frame", "last_frame", "peak_flux",
        "total_flux", "class", "kind", "emit_wm", "epochs", "fluxes")
      .writeStream.format("memory").queryName(qnA).outputMode("update")
      .option("checkpointLocation", tmpDir("graft_transwm_ckpt"))
      .trigger(Trigger.AvailableNow())
      .start()
    qa.awaitTermination()
    val tableA = s.table(qnA).localCheckpoint()
    // Latest emission per position: state grows monotonically and emit_wm
    // strictly increases across batches; an evict row outranks its final
    // live row at equal count.
    val wPick = Window.partitionBy("x", "y")
      .orderBy(col("n_epochs").desc, col("emit_wm").desc,
        when(col("kind") === "evict", 1L).otherwise(0L).desc)
    val lastA = tableA.withColumn("rn", row_number().over(wPick))
      .where(col("rn") === 1).drop("rn").localCheckpoint()
    // Law 1: the evict set is exactly the watermark arithmetic's verdict.
    val evict = tableA.where(col("kind") === "evict")
      .select(col("x"), col("y")).distinct().collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val lastEpochHorizon = onTime.map(_._1).max - 1L
    val expectedEvict = onTime.groupBy(d => (d._2, d._3)).collect {
      case (pos, ds) if ds.map(_._1).max <= lastEpochHorizon => pos
    }.toSet
    require(evict == expectedEvict,
      s"evict set $evict diverged from the watermark arithmetic $expectedEvict")
    // Phase B: late detections over initialState REBUILT FROM THE TABLE.
    val rootB = tmpDir("graft_transwm_late")
    lateDet.toDF("frame_id", "x", "y", "flux").coalesce(1)
      .write.mode("append").parquet(rootB)
    val initState = lastA
      .select(col("x"), col("y"), col("epochs"), col("fluxes"))
      .as[(Long, Long, Seq[Long], Seq[Long])]
      .map(r => ((r._1, r._2), r._3.zip(r._4)))
      .groupByKey(_._1).mapValues(_._2)
    val foldB = (pos: (Long, Long),
        rows: Iterator[(Long, Long, Long, Long, java.sql.Timestamp)],
        state: GroupState[Seq[(Long, Long)]]) => {
      // The engine also invokes the function for initial-state keys with
      // no data in the batch — those are NOT touched: emit nothing, so
      // "resumed" means "received a late detection", not "was seeded".
      val newRows = rows.map(r => (r._3, r._4)).toSeq
      if (newRows.isEmpty) Iterator.empty
      else {
        val st = state.getOption.getOrElse(Seq.empty) ++ newRows
        state.update(st)
        Iterator.single(emitRow(pos, st, "resume", Long.MaxValue))
      }
    }
    val qnB = "graft_transwmb_" +
      java.util.UUID.randomUUID().toString.replace("-", "")
    val qb = s.readStream.schema(sch)
      .option("maxFileAge", "100000d") // stamped 2020-era mtimes must never age out
      .parquet(rootB)
      .select(col("x"), col("y"), col("frame_id"), col("flux"),
        timestamp_seconds(col("frame_id") * 86400L).as("ts"))
      .as[(Long, Long, Long, Long, java.sql.Timestamp)]
      .groupByKey(r => (r._1, r._2))
      .flatMapGroupsWithState(OutputMode.Update(),
        GroupStateTimeout.NoTimeout(), initState)(foldB)
      .toDF("x", "y", "n_epochs", "first_frame", "last_frame", "peak_flux",
        "total_flux", "class", "kind", "emit_wm", "epochs", "fluxes")
      .writeStream.format("memory").queryName(qnB).outputMode("update")
      .option("checkpointLocation", tmpDir("graft_transwmb_ckpt"))
      .trigger(Trigger.AvailableNow())
      .start()
    qb.awaitTermination()
    // One checkpoint AFTER the pick window (the raw memory-sink table is
    // cheap to rescan once — a second pre-window checkpoint was a pure
    // fixed-overhead job, round-17 audit).
    val lastB = s.table(qnB)
      .withColumn("rn", row_number().over(wPick))
      .where(col("rn") === 1).drop("rn").localCheckpoint()
    // Law 3: resurrection carried the pre-eviction history — checked for
    // ALL resurrected candidates in ONE join action (the per-candidate
    // count loop was one driver job each).
    val resurrect = evict.intersect(lateDet.map(d => (d._2, d._3)).toSet)
    require(resurrect.nonEmpty,
      "fixture must exercise an eviction + resurrection cycle")
    val expectRes = resurrect.toSeq.map { case (rx, ry) =>
      (rx, ry, lateDet.count(d => (d._2, d._3) == (rx, ry)).toLong)
    }.toDF("rx", "ry", "n_late")
    val okRes = lastB.join(broadcast(expectRes),
      col("x") === col("rx") && col("y") === col("ry") &&
        col("n_epochs") > col("n_late")).count()
    require(okRes == resurrect.size.toLong,
      "a resurrected candidate lost its pre-eviction history")
    // Law 2: combined streamed census ≡ batch census over ALL detections.
    val censusCols =
      Seq("x", "y", "n_epochs", "first_frame", "last_frame", "peak_flux",
        "total_flux", "class").map(col)
    val combined = lastB.select(censusCols: _*)
      .unionAll(lastA.select(censusCols: _*)
        .join(lastB.select(col("x").as("bx"), col("y").as("by")),
          col("x") === col("bx") && col("y") === col("by"), "left_anti"))
      .localCheckpoint()
    val lagW = Window.partitionBy("x", "y").orderBy("frame_id")
    val batch = (onTime ++ lateDet).toDF("frame_id", "x", "y", "flux")
      .withColumn("dflux", col("flux") - lag("flux", 1).over(lagW))
      .groupBy("x", "y")
      .agg(count(lit(1)).as("n_epochs"),
        min("frame_id").as("first_frame"),
        max("frame_id").as("last_frame"),
        max("flux").as("peak_flux"),
        sum("flux").cast("long").as("total_flux"),
        min("dflux").as("min_d"), max("dflux").as("max_d"))
      .withColumn("class",
        when(col("n_epochs") === 1L, "single")
          .when(col("min_d") > 0L, "rising")
          .when(col("max_d") < 0L, "fading")
          .otherwise("mixed"))
      .drop("min_d", "max_d")
    require(graft.Laws.symDiff(combined, batch).isEmpty,
      "the watermarked streamed census diverged from the batch association")
    val evictDf = evict.toSeq.toDF("ex", "ey")
    val touchedB = lastB.select(col("x").as("bx"), col("y").as("by"))
    combined
      .join(broadcast(evictDf),
        col("x") === col("ex") && col("y") === col("ey"), "left")
      .withColumn("evicted", col("ex").isNotNull)
      .drop("ex", "ey")
      .join(broadcast(touchedB),
        col("x") === col("bx") && col("y") === col("by"), "left")
      .withColumn("resurrected", col("evicted") && col("bx").isNotNull)
      .drop("bx", "by")
      .orderBy("x")
  }
}
