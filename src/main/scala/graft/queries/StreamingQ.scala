package graft.queries

import java.sql.Timestamp

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.classic.GraftShim
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode,
  StreamingQuery, Trigger}
import org.apache.spark.sql.types.DecimalType

import graft.Tables
import util._

/** A streaming event row for MemoryStream-driven semantics checks. */
case class Ev(event_id: Long, ts: Timestamp, user_id: Long,
              event_type: String, value: Double)

/** Per-key session accumulator for the stateful op. */
case class KeyCount(user_id: Long, n: Long, total: Double)

/** TTL-fold emission: the key's running (n, total) since its last
  * reset, stamped with the batch's max event time.
  */
case class AnomOut(event_type: String, day: java.sql.Timestamp, n: Long,
                   trailing_mean: Double, z: Option[Double],
                   anomaly: Boolean)

case class TtlOut(user_id: Long, last_ts: java.sql.Timestamp, n: Long,
                  total: Double)

/** CDC snapshot emission: a key's last-writer-wins state at end of
  * replay (absent when the last change was a delete tombstone).
  */
case class CdcOut(user_id: Long, state_type: String, value: Double,
                  updated_at: java.sql.Timestamp)

/** transformWithState processor: running count/total per user with an
  * explicit ValueState handle.
  */
class RunningCountProcessor
    extends org.apache.spark.sql.streaming.StatefulProcessor[Long, Ev, KeyCount] {
  import org.apache.spark.sql.streaming.{TimeMode, TimerValues, TTLConfig}
  import org.apache.spark.sql.streaming.ValueState
  import org.apache.spark.sql.{Encoders, streaming}

  @transient private var state: ValueState[KeyCount] = _

  override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
    state = getHandle.getValueState[KeyCount](
      "running", Encoders.product[KeyCount], TTLConfig.NONE)

  override def handleInputRows(key: Long, rows: Iterator[Ev],
                               timers: TimerValues): Iterator[KeyCount] = {
    val prev = if (state.exists()) state.get() else KeyCount(key, 0L, 0.0)
    val batch = rows.toSeq
    val next = KeyCount(key, prev.n + batch.size,
                        prev.total + batch.map(_.value).sum)
    state.update(next)
    Iterator.single(next)
  }
}

/** transformWithState processor for the ORACLED replay: running
  * (count, exact cents) per user — associative integer accumulation, so
  * the emitted totals are bit-identical to a windowed DECIMAL(18,2)
  * cumulative sum regardless of per-batch addition order.
  */
class RunningCumulProcessor
    extends org.apache.spark.sql.streaming.StatefulProcessor[Long, Ev, KeyCount] {
  import org.apache.spark.sql.streaming.{TimeMode, TimerValues, TTLConfig}
  import org.apache.spark.sql.streaming.ValueState
  import org.apache.spark.sql.Encoders

  @transient private var state: ValueState[(Long, Long)] = _

  override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
    state = getHandle.getValueState[(Long, Long)](
      "runningCumul", Encoders.tuple(Encoders.scalaLong, Encoders.scalaLong),
      TTLConfig.NONE)

  override def handleInputRows(key: Long, rows: Iterator[Ev],
                               timers: TimerValues): Iterator[KeyCount] = {
    val (n0, c0) = if (state.exists()) state.get() else (0L, 0L)
    var n = n0
    var c = c0
    rows.foreach { e => n += 1; c += StreamingQ.cents(e.value) }
    state.update((n, c))
    Iterator.single(KeyCount(key, n, StreamingQ.centsToDouble(c)))
  }
}

/** Structured Streaming surface (SURVEY.md §2.3). The reference's analog
  * is the daily incremental append (E13): each date directory is a
  * micro-batch. Window aggregations are verified two ways:
  *  - tumbling/sliding (and the batch `session_window` form) run as
  *    *batch* queries over `events` with a DuckDB oracle (windowing
  *    semantics are identical in batch); session windows ALSO run as a
  *    true RocksDB-backed stream ([[qStreamSession]]) against the same
  *    oracle;
  *  - watermark/late-data/dedup/stateful semantics run on a real
  *    MemoryStream with hand-placed late rows (deterministic, no oracle).
  *
  * Scale notes: streaming state (watermark windows, dedup keys, session
  * state) is per-key in the state store — at 100 TB/day the keys shard
  * across executors by groupBy hash; watermarks bound state size, and
  * `dropDuplicatesWithinWatermark` exists precisely so the dedup state
  * doesn't grow unboundedly.
  *
  * Every true-stream key sets its confs on its own clone of the caller's
  * session ([[replaySession]]); the caller's conf is never written. The
  * returned DataFrame belongs to that clone: conf the caller sets after
  * the call does not apply to it, and a view made with
  * `createOrReplaceTempView` is registered on the clone, not on the
  * caller's session.
  */
object StreamingQ {

  /** Tumbling 1-hour windows per event type (batch-equivalent). */
  val qStreamTumbling: Q = (s, d) =>
    Tables.events(s, d)
      .groupBy(window(col("ts"), "1 hour").as("w"), col("event_type"))
      .agg(count(lit(1)).as("cnt"),
           sum(col("value").cast(DecimalType(18, 2))).cast("double").as("sum_value"))
      .select(col("w.start").as("wstart"), col("event_type"), col("cnt"),
              col("sum_value"))
      .orderBy("wstart", "event_type")

  val qStreamTumblingSql: String =
    """SELECT CAST(date_trunc('hour', ts) AS TIMESTAMP) AS wstart, event_type,
      |  COUNT(*) AS cnt,
      |  CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
      |FROM events GROUP BY 1, 2 ORDER BY wstart, event_type""".stripMargin

  /** Sliding 1-hour windows every 15 minutes — each event lands in 4
    * windows. Oracle reproduces the window-start arithmetic directly.
    */
  val qStreamSliding: Q = (s, d) =>
    Tables.events(s, d)
      .groupBy(window(col("ts"), "1 hour", "15 minutes").as("w"))
      .agg(count(lit(1)).as("cnt"),
           sum(col("value").cast(DecimalType(18, 2))).cast("double").as("sum_value"))
      .select(col("w.start").as("wstart"), col("cnt"), col("sum_value"))
      .orderBy("wstart")

  val qStreamSlidingSql: String =
    """WITH slid AS (
      |  SELECT CAST(to_timestamp((CAST(floor(epoch(ts) / 900) AS BIGINT) - k.o) * 900)
      |              AS TIMESTAMP) AS wstart,
      |         value
      |  FROM events, (VALUES (0), (1), (2), (3)) k(o)
      |)
      |SELECT wstart, COUNT(*) AS cnt,
      |  CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
      |FROM slid GROUP BY wstart ORDER BY wstart""".stripMargin

  /** Session windows (30-minute gap) per user as a batch query — same
    * `session_window` operator without streaming state, with a
    * lag/running-sum sessionization oracle (identical semantics: a new
    * session starts when the gap exceeds 30 minutes).
    */
  val qSessionWindowBatch: Q = (s, d) =>
    Tables.events(s, d)
      .groupBy(col("user_id"), session_window(col("ts"), "30 minutes").as("w"))
      .agg(count(lit(1)).as("cnt"),
           sum(col("value").cast(DecimalType(18, 2))).cast("double").as("sum_value"))
      .select(col("user_id"), col("w.start").as("session_start"), col("cnt"),
              col("sum_value"))
      .orderBy("user_id", "session_start")

  /** TRUE streaming session windows under the RocksDB state store — at
    * 100 TB session state is the largest keyed state in this suite, so
    * the gate entry exercises the production store, not just batch
    * semantics — fed by a DISTRIBUTED file source ([[eventWeekFiles]]:
    * one parquet file per calendar week, ~3 weekly files per
    * micro-batch), not the driver-resident MemoryStream harness. A
    * far-future sentinel file (user −1, filtered from the result)
    * advances the final watermark so every real session is finalized
    * and emitted. The week files arrive in time order, so no real row
    * is ever below the watermark (same boundary argument as
    * [[qStreamStateful]]) and the emitted sessions hash-match the
    * batch sessionization oracle exactly. Appended sessions are
    * invariant to replay granularity (a session is emitted once, when
    * the final watermark passes its gap — the same argument the
    * coarser [[qStreamStateInspect]]/[[qStreamWindowDistinct]] replays
    * already rely on), so the grouped admission keeps the multi-batch
    * RocksDB merge path live while paying per-commit cost 3× less —
    * the r17 SessProbe matrix measured per-batch fixed cost
    * (walCommit/offsets/planning + store commit) as ~40% of this key.
    */
  val qStreamSession: Q = (s, d) =>
    // fed by the DISTRIBUTED week-file replay (executors read the
    // batches; the driver only admits files) — the far-future sentinel
    // is in the last trigger, so every real session finalizes exactly
    // as in the one-file-per-batch form and the oracle hash is
    // unchanged (verified: identical 95k-row output across 1/3/6
    // files-per-trigger in the r17 probe)
    runFileReplayStream(s, "graft_stream_session", d,
                        filesPerTrigger = 3,
                        rowsPerStatePartition = 12500L,
                        confs = RocksDbConfs) { df =>
      df.withWatermark("ts", "30 minutes")
        .groupBy(col("user_id"),
                 session_window(col("ts"), "30 minutes").as("w"))
        .agg(count(lit(1)).as("cnt"),
             sum(col("value").cast(DecimalType(18, 2))).cast("double")
               .as("sum_value"))
        .select(col("user_id"), col("w.start").as("session_start"),
                col("cnt"), col("sum_value"))
    }.where(col("user_id") =!= -1L)
      .orderBy("user_id", "session_start")

  /** TRUE streaming COUNT(DISTINCT) — two CHAINED stateful windowed
    * aggregations (Spark 4's multiple-stateful-operator support, which
    * older releases rejected outright): stage 1 collapses each
    * (day-window, event_type, user) to one state row — the distinct —
    * and stage 2 re-windows the finalized stage-1 output via
    * `window_time` and counts survivors. Distinct aggregates are
    * illegal on streams (unbounded per-window value sets); this
    * two-phase chain is THE streaming-legal spelling, and its state is
    * bounded: |users| rows live per open day, finalized and freed as
    * the watermark passes. The week-batched replay of `events` plus a
    * far-future sentinel (filtered from the result) drains every
    * window; emitted counts hash-match DuckDB's batch
    * count(DISTINCT) exactly.
    */
  val qStreamWindowDistinct: Q = (s, d) => {
    // DISTRIBUTED replay (the q_stream_session/q_stream_anomaly path):
    // executors read the seeded weekly parquet files — 3 per
    // micro-batch, since each micro-batch commits BOTH stateful
    // operators' stores and fewer batches means fewer commits (same
    // rationale as qStreamJoin's grouped replay). The seeded sentinel
    // file drains every window; the driver only admits files.
    runFileReplayStream(s, "graft_stream_windist", d,
                        filesPerTrigger = 3) { df =>
      df.withWatermark("ts", "1 hour")
        .groupBy(window(col("ts"), "1 day").as("w"), col("event_type"),
                 col("user_id"))
        .agg(count(lit(1)).as("n"))
        .groupBy(window(window_time(col("w")), "1 day").as("w2"),
                 col("event_type"))
        .agg(count(lit(1)).as("n_users"), sum(col("n")).as("n_events"))
        .select(col("w2").getField("start").as("day"), col("event_type"),
                col("n_users"), col("n_events"))
    }.where(col("event_type") =!= "wm_flush")
      .orderBy("day", "event_type")
  }

  val qStreamWindowDistinctSql: String =
    """SELECT CAST(date_trunc('day', ts) AS TIMESTAMP) AS day, event_type,
      |  count(DISTINCT user_id) AS n_users, count(*) AS n_events
      |FROM events GROUP BY 1, 2 ORDER BY day, event_type""".stripMargin

  val qStreamSessionSql: String =
    """WITH e AS (
      |  SELECT user_id, CAST(ts AS TIMESTAMP) AS ts, value FROM events
      |), flagged AS (
      |  SELECT user_id, ts, value,
      |    CASE WHEN lag(ts) OVER w IS NULL
      |           OR ts - lag(ts) OVER w >= INTERVAL 30 MINUTE THEN 1
      |         ELSE 0 END AS new_session
      |  FROM e WINDOW w AS (PARTITION BY user_id ORDER BY ts)
      |), sess AS (
      |  SELECT user_id, ts, value,
      |    SUM(new_session) OVER (PARTITION BY user_id ORDER BY ts
      |                           ROWS UNBOUNDED PRECEDING) AS sid
      |  FROM flagged
      |)
      |SELECT user_id, MIN(ts) AS session_start, COUNT(*) AS cnt,
      |  CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
      |FROM sess GROUP BY user_id, sid
      |ORDER BY user_id, session_start""".stripMargin

  // ------------------------------------------------- true-stream checks

  private def ev(id: Long, t: String, user: Long, typ: String, v: Double) =
    Ev(id, Timestamp.valueOf(t), user, typ, v)

  /** Deterministic hand-placed batches: on-time rows, a late-but-within-
    * watermark row, a too-late row, and a final watermark-advancing row.
    */
  private val batch1 = Seq(
    ev(1, "2024-01-01 10:05:00", 1, "click", 1.0),
    ev(2, "2024-01-01 10:20:00", 1, "click", 2.0),
    ev(3, "2024-01-01 11:10:00", 2, "view", 3.0))
  private val batch2 = Seq(
    ev(4, "2024-01-01 11:08:00", 1, "click", 4.0),  // late, within 10-min wm
    ev(5, "2024-01-01 12:30:00", 2, "view", 5.0))   // advances wm past 11:00
  private val batch3 = Seq(
    ev(6, "2024-01-01 10:30:00", 1, "click", 99.0), // too late — dropped
    ev(7, "2024-01-01 14:30:00", 2, "view", 6.0))   // advances wm past 12:xx

  private def runMemoryStream(s: SparkSession, name: String,
                              confs: Seq[(String, String)] = Nil)
                             (build: DataFrame => DataFrame): DataFrame =
    runReplayStream(s, name, Seq(batch1, batch2, batch3), confs)(build)

  private def runReplayStream(s: SparkSession, name: String,
                              batches: Seq[Seq[Ev]],
                              confs: Seq[(String, String)] = Nil)
                             (build: DataFrame => DataFrame): DataFrame =
    runReplayStreams(s, name, Seq(batches), confs)(dfs => build(dfs.head))

  /** Confs of the replay and fixture checkpoints, per-call scratch that
    * is deleted when its query stops (a durable checkpoint keeps Spark's
    * defaults):
    *  - no checksum companion per checkpoint file (offsets, commits, state
    *    deltas): 2x the metadata file ops for files no restart reads,
    *    ~20% of every streaming key's wall time at sf0.1
    *    (StreamFixedCostProbe, OPTIMIZATION_r18.md), identical rows;
    *  - checkpoint files written through java.nio, not Hadoop's
    *    FileContext, whose local create forks a `chmod` per file without
    *    libhadoop (~89 ms vs 0.3 ms, CkptFsProbe;
    *    [[graft.streaming.NioCheckpointFileManager]]).
    */
  private[graft] val EphemeralCkptConfs: Seq[(String, String)] = Seq(
    "spark.sql.streaming.checkpoint.fileChecksum.enabled" -> "false",
    "spark.sql.streaming.checkpointFileManagerClass" ->
      classOf[graft.streaming.NioCheckpointFileManager].getName)

  /** State-store confs of the keys that run on RocksDB: the provider,
    * and changelog checkpointing, so each commit uploads the batch's
    * delta instead of a full SST snapshot (the per-commit upload was
    * the dominant session-window cost at sf1; the state itself is small,
    * the cadence of full snapshots was not).
    */
  private[graft] val RocksDbConfs: Seq[(String, String)] = Seq(
    "spark.sql.streaming.stateStore.providerClass" ->
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider",
    "spark.sql.streaming.stateStore.rocksdb.changelogCheckpointing.enabled" ->
      "true")

  /** The clone of `s` one replay runs on, with [[EphemeralCkptConfs]]
    * and `confs`. `s` is never written.
    */
  private def replaySession(s: SparkSession,
                            confs: Seq[(String, String)]): SparkSession = {
    val c = GraftShim.cloneSession(s)
    (EphemeralCkptConfs ++ confs).foreach { case (k, v) => c.conf.set(k, v) }
    c
  }

  private val ShufflePartitions = "spark.sql.shuffle.partitions"

  /** Start a stream on replay clone `c` with `parts` shuffle partitions,
    * the state-store count. The query fixes it when it starts, on its own
    * clone of `c`'s conf; `c` then goes back to the count it copied from
    * the caller, so the batch work on the stream's output (sink reads,
    * sorts, the backfill history) plans at the caller's count.
    */
  private def startWithStores(c: SparkSession, parts: Long)
                             (start: => StreamingQuery): StreamingQuery = {
    val callerParts = c.conf.get(ShufflePartitions)
    c.conf.set(ShufflePartitions, parts.toString)
    val q = start
    c.conf.set(ShufflePartitions, callerParts)
    q
  }

  /** Start a replay on `c` with `start(checkpointDir)` on a fresh
    * checkpoint dir ([[startWithStores]] with `parts`), run it with
    * `drive`, then stop it and delete the dir; the results live in the
    * sink. The dir is on tmpfs when there is one: each micro-batch
    * fsyncs its logs, which dominates a short replay, and the replay
    * needs determinism, not durability.
    */
  private def runOnScratchCkpt(c: SparkSession, parts: Long, name: String)
                              (start: String => StreamingQuery)
                              (drive: StreamingQuery => Unit): Unit = {
    val shm = java.nio.file.Paths.get("/dev/shm")
    val base =
      if (java.nio.file.Files.isDirectory(shm)) shm
      else java.nio.file.Paths.get(sys.props("java.io.tmpdir"))
    val ckpt = java.nio.file.Files.createTempDirectory(base, s"graft_ckpt_${name}_")
    try {
      val q = startWithStores(c, parts)(start(ckpt.toString))
      try drive(q) finally q.stop()
    } finally try Scratch.rmTree(ckpt) catch { case _: Exception => }
  }

  /** N-source replay: stream i consumes `perStream(i)`; batch k of every
    * stream is added before one processAllAvailable, so watermarks
    * advance in lockstep across sources (what a shared event-time clock
    * does in production). Runs on a [[replaySession]] with `confs`; the
    * returned memory-sink table belongs to that clone.
    */
  private[graft] def runReplayStreams(s: SparkSession, name: String,
                                      perStream: Seq[Seq[Seq[Ev]]],
                                      confs: Seq[(String, String)] = Nil)
                                     (build: Seq[DataFrame] => DataFrame): DataFrame = {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    // state-store partition count follows shuffle partitions at query
    // start; size it to the REPLAY VOLUME the way production sizes it
    // to key cardinality: 3 hand-placed fixture batches don't need 32
    // state stores (2 suffice and keep the semantics checks fast), the
    // sf1-scale event replays (~1M rows) get one store per ~100k rows
    // capped at 8. Measured honestly: only ~6% at sf1 — the replay's
    // driver-resident MemoryStream feed dominates there, not state
    // parallelism — but the sizing is what a real multi-partition
    // source would want, and it keeps the fixture path at 2. Set on the
    // replay's clone for the query's start only ([[startWithStores]]);
    // results are partition-count-invariant.
    val totalRows = perStream.iterator.flatMap(_.iterator.map(_.length)).sum
    val c = replaySession(s, confs)
    val streams = perStream.map(_ =>
      MemoryStream[Ev](org.apache.spark.sql.Encoders.product[Ev], c.sqlContext))
    runOnScratchCkpt(c, math.max(1, math.min(8, totalRows / 100000)), name) { ckpt =>
      build(streams.map(_.toDF()))
        .writeStream.format("memory").queryName(name)
        .option("checkpointLocation", ckpt)
        .outputMode(OutputMode.Append).start()
    } { q =>
      (0 until perStream.map(_.length).max).foreach { k =>
        streams.zip(perStream).foreach { case (ms, batches) =>
          if (k < batches.length && batches(k).nonEmpty) ms.addData(batches(k))
        }
        q.processAllAvailable()
      }
    }
    c.table(name)
  }

  /** Watermark + tumbling window in append mode: only windows the
    * watermark has passed are emitted; the too-late row (id 6) is
    * dropped, the late-but-in-watermark row (id 4) is counted.
    */
  val qStreamWatermark: Q = (s, _) =>
    runMemoryStream(s, "graft_stream_wm") { df =>
      df.withWatermark("ts", "10 minutes")
        .groupBy(window(col("ts"), "1 hour").as("w"), col("event_type"))
        .agg(count(lit(1)).as("cnt"), sum(col("value")).as("sum_value"))
        .select(col("w.start").as("wstart"), col("event_type"), col("cnt"),
                col("sum_value"))
    }.orderBy("wstart", "event_type")

  /** Streaming dedup by event_id within the watermark. */
  val qStreamDedup: Q = (s, _) =>
    runMemoryStream(s, "graft_stream_dedup") { df =>
      df.withWatermark("ts", "10 minutes")
        .dropDuplicatesWithinWatermark("event_id")
        .select("event_id", "user_id", "event_type", "value")
    }.orderBy("event_id")

  /** Per-key running state via flatMapGroupsWithState — the streaming
    * form of the reference's sequential event fold (E8, scrape.py:355-609):
    * state scoped to a key, updated per batch, emitted on change.
    * Hand-placed 3-batch fixture; incremental semantics asserted in
    * StreamingSpec. The ORACLED gate entry is [[qStreamStateful]].
    */
  private[graft] val qStreamStatefulFixture: Q = (s, _) => {
    import s.implicits._
    val fn: (Long, Iterator[Ev], GroupState[KeyCount]) => Iterator[KeyCount] =
      (user, rows, state) => {
        val prev = state.getOption.getOrElse(KeyCount(user, 0L, 0.0))
        val batch = rows.toSeq
        val next = KeyCount(user, prev.n + batch.size,
                            prev.total + batch.map(_.value).sum)
        state.update(next)
        Iterator(next)
      }
    runMemoryStream(s, "graft_stream_state_fx") { df =>
      df.as[Ev]
        .groupByKey(_.user_id)
        .flatMapGroupsWithState(OutputMode.Append,
                                GroupStateTimeout.NoTimeout)(fn)
        .toDF()
    }.orderBy("user_id", "n")
  }

  /** Week-batched replay through a DISTRIBUTED source: the events table
    * is written ONCE per sf dir as one parquet file per Monday-truncated
    * calendar week (ascending modification times pin the file order),
    * plus a final far-future sentinel file; a `readStream.parquet` with
    * `maxFilesPerTrigger=1` then replays week-by-week under
    * `Trigger.AvailableNow`. Unlike the MemoryStream harness (whose
    * feed is driver-resident by definition), EXECUTORS read the batch
    * rows here — the one shape that survives a 100× scale-up, where
    * each weekly file becomes a directory of part files and the
    * micro-batch admission is unchanged. Seeding is once-per-dir, same
    * rationale as the bucketed layouts: the operator under test is the
    * streaming aggregate, not the writer.
    */
  private[graft] def eventWeekFiles(s: SparkSession, d: String): String = {
    import s.implicits._
    val dir = graft.queries.Relational.scratchDir("stream_weeks", d)
    Seeds.once("stream_weeks", dir) {
      val ev = Tables.events(s, d)
        .select(col("event_id"), col("ts"), col("user_id"),
                col("event_type"), col("value"))
      val weeks = ev.select(date_trunc("week", col("ts")).as("wk"))
        .distinct().orderBy("wk").as[Timestamp].collect() // ≤ |weeks| rows
      val maxTs = ev.agg(max(col("ts"))).as[Timestamp].head()
      val sentinel = Ev(-1L, new Timestamp(maxTs.getTime +
        365L * 24 * 3600 * 1000), -1L, "wm_flush", 0.0)
      val tmp = s"$dir/_tmp"
      val base = 1700000000000L // fixed epoch so reseeds are stable
      def place(df: org.apache.spark.sql.DataFrame, i: Int): Unit = {
        df.coalesce(1).write.mode("overwrite").parquet(tmp)
        val part = java.nio.file.Files.list(java.nio.file.Paths.get(tmp))
          .filter(p => p.getFileName.toString.startsWith("part-"))
          .findFirst().get()
        val dst = java.nio.file.Paths.get(dir, f"w$i%03d.parquet")
        java.nio.file.Files.move(part, dst,
          java.nio.file.StandardCopyOption.REPLACE_EXISTING)
        // strictly ascending mtimes = the replay order the file source
        // admits (one file per trigger, oldest first)
        java.nio.file.Files.setLastModifiedTime(dst,
          java.nio.file.attribute.FileTime.fromMillis(base + i * 60000L))
      }
      weeks.zipWithIndex.foreach { case (wk, i) =>
        place(ev.where(date_trunc("week", col("ts")) === wk), i)
      }
      place(Seq(sentinel).toDS().toDF(), weeks.length)
      Scratch.rmTree(java.nio.file.Paths.get(tmp))
    }
    dir
  }

  /** Run `build` over the week-file replay of `d`'s events as a real
    * file-source stream (one weekly file per micro-batch, AvailableNow),
    * results into a memory sink named `name`. Runs on a
    * [[replaySession]] with `confs`, as [[runReplayStreams]] does.
    */
  private def runFileReplayStream(s: SparkSession, name: String, d: String,
                                  filesPerTrigger: Int = 1,
                                  rowsPerStatePartition: Long = 100000L,
                                  confs: Seq[(String, String)] = Nil)
                                 (build: DataFrame => DataFrame): DataFrame =
    runFileReplayStreamsN(s, name, d, filesPerTrigger, 1,
                          rowsPerStatePartition, confs)(dfs => build(dfs.head))

  /** Row count of `events`, memoized per data dir — it only sizes
    * the replay's state-store partition count, and before memoization
    * every rep of every file-replay key paid a fresh count job for the
    * same answer (~12 keys × 3 reps of pure overhead per bench run).
    */
  private val eventCountMemo =
    new java.util.concurrent.ConcurrentHashMap[String, java.lang.Long]
  private def eventCount(s: SparkSession, d: String): Long =
    // keyed on the data dir alone — the count is a property of the data,
    // not the session (a session-identity key leaked entries for stopped
    // sessions and would serve nothing across them; r17 ADVICE)
    eventCountMemo.computeIfAbsent(d,
      _ => java.lang.Long.valueOf(Tables.events(s, d).count())).longValue()

  /** N independent file-source readers over the same seeded week files
    * — the two-stream (join) form of the distributed replay: each
    * source admits the same files per trigger, so the micro-batches
    * stay aligned the way the MemoryStream harness aligned its batch
    * lists, but EXECUTORS do the reading on every side.
    */
  private def runFileReplayStreamsN(s: SparkSession, name: String, d: String,
                                    filesPerTrigger: Int, n: Int,
                                    rowsPerStatePartition: Long = 100000L,
                                    confs: Seq[(String, String)] = Nil)
                                   (build: Seq[DataFrame] => DataFrame): DataFrame = {
    val dir = eventWeekFiles(s, d)
    val totalRows = eventCount(s, d)
    // one state store per ~rowsPerStatePartition replay rows, floor 1,
    // cap 8 — scale-adaptive, never a constant tuned to one box (sf1
    // still gets 8 stores). The per-batch store commits dominate the
    // fpt=1 fold keys, where MORE stores measured SLOWER (r17 targeted
    // pair) and the r18 floor drop 2→1 measured a further cut across
    // the block (OPTIMIZATION_r18.md); the session-window key opts into
    // denser stores because its per-batch state merge is the one
    // stateful stage heavy enough for 2 stores to serialize a 32-core
    // box (SessProbe matrix: 8 stores ×1.4 at 3 files/trigger).
    // Output invariance to the store count is pinned by the manual
    // SessProbe/oracle verification (1/3/6-fpt identical outputs) plus
    // the per-key oracle hashes — the ShuffleInvarianceSpec sweep
    // varies the CALLER's count, which reaches the batch work on the
    // stream's output but not this store count (r17 ADVICE).
    val c = replaySession(s, confs)
    runOnScratchCkpt(c, math.max(1, math.min(8, totalRows / rowsPerStatePartition)),
                     name) { ckpt =>
      val srcs = Seq.fill(n)(c.readStream
        .schema(org.apache.spark.sql.Encoders.product[Ev].schema)
        .option("maxFilesPerTrigger", filesPerTrigger.toString)
        .parquet(s"$dir/w*.parquet"))
      build(srcs)
        .writeStream.format("memory").queryName(name)
        .option("checkpointLocation", ckpt)
        .outputMode(OutputMode.Append)
        .trigger(Trigger.AvailableNow())
        .start()
    }(_.awaitTermination())
    c.table(name)
  }

  /** Exact cents of a 2-decimal value — the running total accumulates
    * these (associative, order-independent) and converts once at emit.
    */
  private[graft] def cents(v: Double): Long =
    java.math.BigDecimal.valueOf(v)
      .setScale(2, java.math.RoundingMode.HALF_UP)
      .movePointRight(2).longValueExact()

  private[graft] def centsToDouble(c: Long): Double =
    java.math.BigDecimal.valueOf(c, 2).doubleValue()

  /** The per-key running-state fold, DuckDB-oracled: the `events` table
    * is replayed through the DISTRIBUTED week-file source (one
    * Monday-truncated calendar week per micro-batch — executors read
    * the rows; the driver only admits files), and the fold emits its
    * running (count, total) after every batch a key appears in. A
    * per-key running state over time-ordered batches has an exact batch
    * equivalent — a window-ordered cumulative sum per (user, week) —
    * which is precisely what the oracle computes, so the incremental
    * execution path itself gets a hash-compare instead of a rows-only
    * check. The seeded far-future sentinel file arrives as its own
    * final batch under synthetic user −1 (filtered below); with
    * NoTimeout it leaves no other trace in the fold.
    *
    * Exactness: the running total accumulates exact cents (the 2-dp
    * values scaled to Long) and converts once at emit via
    * BigDecimal(cents, 2).toDouble — the same decimal→double step as
    * util.dsum, so the cumulative totals are bit-identical to DuckDB's
    * windowed DECIMAL(18,2) sums regardless of per-batch addition
    * order. Ordering: n is strictly increasing per user, so
    * (user_id, n) is a total order both engines agree on.
    */
  val qStreamStateful: Q = (s, d) => {
    import s.implicits._
    val fn: (Long, Iterator[Ev], GroupState[(Long, Long)]) => Iterator[KeyCount] =
      (user, rows, state) => {
        val (n0, c0) = state.getOption.getOrElse((0L, 0L))
        var n = n0
        var c = c0
        rows.foreach { e => n += 1; c += cents(e.value) }
        state.update((n, c))
        Iterator(KeyCount(user, n, centsToDouble(c)))
      }
    runFileReplayStream(s, "graft_stream_state", d) { df =>
      df.as[Ev]
        .groupByKey(_.user_id)
        .flatMapGroupsWithState(OutputMode.Append,
                                GroupStateTimeout.NoTimeout)(fn)
        .toDF()
    }.where(col("user_id") >= 0).orderBy("user_id", "n")
  }

  val qStreamStatefulSql: String =
    """WITH e AS (
      |  SELECT user_id, date_trunc('week', CAST(ts AS TIMESTAMP)) AS wk, value
      |  FROM events
      |), per AS (
      |  SELECT user_id, wk, COUNT(*) AS cnt,
      |         SUM(CAST(value AS DECIMAL(18,2))) AS tot
      |  FROM e GROUP BY user_id, wk
      |)
      |SELECT user_id,
      |  CAST(SUM(cnt) OVER w AS BIGINT) AS n,
      |  CAST(CAST(SUM(tot) OVER w AS DECIMAL(18,2)) AS DOUBLE) AS total
      |FROM per
      |WINDOW w AS (PARTITION BY user_id ORDER BY wk ROWS UNBOUNDED PRECEDING)
      |ORDER BY user_id, n""".stripMargin

  /** The same per-key running state through Spark 4's transformWithState
    * (the successor API, SURVEY.md §7.4.7): explicit ValueState handle,
    * RocksDB state store (required by the API; the production-scale
    * store anyway). Emits the same rows as the flatMapGroupsWithState
    * form — asserted in StreamingSpec.
    */
  /** Stream-stream interval join — the remaining big streaming shape:
    * clicks ⋈ views of the same user with the view at most 10 minutes
    * before the click, both sides true MemoryStreams fed the week
    * replay in lockstep. Watermarks (30 min) plus the time-range
    * predicate bound BOTH sides' join state: a buffered view is evicted
    * once the watermark passes view_ts + 10 min, because no future
    * click can reach back to it — at 100 TB/day this eviction is the
    * difference between bounded state and an unbounded buffer.
    *
    * Oracled: an append-mode inner interval join, once every source is
    * drained, emits exactly the batch join (the week batches are
    * time-ordered, so no input row is ever below the watermark — the
    * boundary argument is the same as [[qStreamStateful]]'s), which is
    * what DuckDB computes. Late-data *drop* semantics are covered
    * separately by [[qStreamWatermark]]'s fixture.
    */
  val qStreamJoin: Q = (s, d) => {
    // DISTRIBUTED two-source replay ([[qStreamJoinOuter]]'s path): an
    // inner interval join emits the same rows under ANY time-ordered
    // batching (unlike the stateful fold, whose per-batch emissions ARE
    // the result), so all week files admit in one trigger and the
    // state-store commit rounds stay at the minimum — cross-batch
    // buffering and boundary semantics live in StreamingSpec's fixture,
    // where batch placement is the point. Each side filters to its
    // event type in-stream (production would subscribe to separate
    // topics; the seeded replay carries one firehose); inner join
    // semantics drop the unmatched sentinel rows on their own.
    runFileReplayStreamsN(s, "graft_stream_join", d,
                          filesPerTrigger = 32, n = 2) { dfs =>
      val clicks = dfs(0)
        .where(col("event_type").isin("click", "wm_flush"))
        .select(col("event_id").as("click_id"), col("user_id"),
                col("ts").as("click_ts"))
        .withWatermark("click_ts", "30 minutes")
      val views = dfs(1)
        .where(col("event_type").isin("view", "wm_flush"))
        .select(col("event_id").as("view_id"), col("user_id").as("v_user"),
                col("ts").as("view_ts"))
        .withWatermark("view_ts", "30 minutes")
      clicks.join(views,
        col("user_id") === col("v_user") &&
        col("view_ts") >= col("click_ts") - expr("INTERVAL 10 MINUTES") &&
        col("view_ts") <= col("click_ts"))
        .select(col("click_id"), col("view_id"), col("user_id"))
    }.where(col("user_id") >= 0).orderBy("click_id", "view_id")
  }

  val qStreamJoinSql: String =
    """SELECT c.event_id AS click_id, v.event_id AS view_id, c.user_id
      |FROM (SELECT event_id, user_id, CAST(ts AS TIMESTAMP) AS ts
      |      FROM events WHERE event_type = 'click') c
      |JOIN (SELECT event_id, user_id, CAST(ts AS TIMESTAMP) AS ts
      |      FROM events WHERE event_type = 'view') v
      |  ON c.user_id = v.user_id
      | AND v.ts BETWEEN c.ts - INTERVAL 10 MINUTE AND c.ts
      |ORDER BY click_id, view_id""".stripMargin

  /** LEFT-OUTER stream-stream interval join — the other production
    * shape: every click emits, matched or not; an unmatched click's
    * null-padded row may only be emitted once the watermark proves no
    * matching view can still arrive (watermark > click_ts, since a
    * matching view has view_ts ≤ click_ts). That timing is the
    * operator's whole point, and it is what makes the final answer
    * equal to the BATCH left join only if every click's eviction bound
    * is eventually passed — so the replay appends two sentinel rounds
    * (one event per topic, a year past the corpus, tagged user −1 and
    * filtered from the output): the first advances BOTH sides'
    * watermarks past every real event (the engine takes the MIN across
    * inputs, so a single-topic sentinel would stall the clock), the
    * second guarantees a micro-batch in which the newly-evicted state
    * emits. With the flush forced, the stream's answer IS the batch
    * left join, and DuckDB oracles it (NULLS FIRST to match Spark's
    * ascending null order). Late-null *timing* semantics — no null row
    * while a match could still arrive — are pinned by StreamingSpec's
    * fixture, where batch boundaries are hand-placed.
    *
    * State bound at 100 TB/day: views evict at watermark > view_ts +
    * 10 min, clicks at watermark > click_ts — both sides' buffers hold
    * only the watermark-delay window, same as the inner form; the outer
    * semantics add no state, only deferred emission.
    */
  val qStreamJoinOuter: Q = (s, d) => {
    // DISTRIBUTED two-source replay: both sides readStream the seeded
    // week files (executors read; the driver admits) with a large
    // files-per-trigger so the state-store rounds stay near the
    // minimum — with the sentinel flush the emitted SET equals the
    // batch left join under ANY time-ordered batching (only emission
    // timing shifts); cross-batch buffering and null-timing semantics
    // are pinned by StreamingSpec's fixture, where batch boundaries
    // are the point. Each side filters to its event type PLUS the
    // seeded wm_flush sentinel (user_id −1, filtered from the result),
    // which advances BOTH watermark clocks at end of replay.
    runFileReplayStreamsN(s, "graft_stream_join_outer", d,
                          filesPerTrigger = 32, n = 2) { dfs =>
      val clicks = dfs(0)
        .where(col("event_type").isin("click", "wm_flush"))
        .select(col("event_id").as("click_id"), col("user_id"),
                col("ts").as("click_ts"))
        .withWatermark("click_ts", "30 minutes")
      val views = dfs(1)
        .where(col("event_type").isin("view", "wm_flush"))
        .select(col("event_id").as("view_id"), col("user_id").as("v_user"),
                col("ts").as("view_ts"))
        .withWatermark("view_ts", "30 minutes")
      clicks.join(views,
        col("user_id") === col("v_user") &&
        col("view_ts") >= col("click_ts") - expr("INTERVAL 10 MINUTES") &&
        col("view_ts") <= col("click_ts"),
        "leftOuter")
        .select(col("click_id"), col("view_id"), col("user_id"))
      // NOTE: the sentinel filter must NOT live inside this streaming
      // plan — Catalyst pushes a non-event-time predicate below
      // withWatermark to the source, so the sentinel rows would never
      // reach the watermark operator and the clock would never advance.
    }.where(col("user_id") >= 0).orderBy("click_id", "view_id")
  }

  val qStreamJoinOuterSql: String =
    """SELECT c.event_id AS click_id, v.event_id AS view_id, c.user_id
      |FROM (SELECT event_id, user_id, CAST(ts AS TIMESTAMP) AS ts
      |      FROM events WHERE event_type = 'click') c
      |LEFT JOIN (SELECT event_id, user_id, CAST(ts AS TIMESTAMP) AS ts
      |      FROM events WHERE event_type = 'view') v
      |  ON c.user_id = v.user_id
      | AND v.ts BETWEEN c.ts - INTERVAL 10 MINUTE AND c.ts
      |ORDER BY click_id, view_id NULLS FIRST""".stripMargin

  /** Stream–static enrichment join — the third production join shape
    * (after stream-stream inner and left-outer): a live event stream
    * joined against a STATIC dimension. The dim broadcasts into every
    * micro-batch (no state store at all — the join is stateless per
    * row, which is exactly why it's the cheapest enrichment available
    * at 100 TB/day: no watermarks, no eviction, just a map-side hash
    * probe). Replayed through the DISTRIBUTED week-file source (real
    * streaming execution, executor-read rows); the per-row join is
    * batching-invariant, so all week files admit in one trigger (one
    * state-free commit instead of five) and the batch join is an exact
    * oracle. The seeded sentinel row (user −1) matches no customer key,
    * so the inner join drops it on its own. The aggregation happens
    * AFTER the replay, on the result table — the operator under test is
    * the streaming join.
    */
  val qStreamStaticJoin: Q = (s, d) => {
    val dim = Tables.customer(s, d)
      .select(col("c_custkey"), col("c_mktsegment"))
    val enriched = runFileReplayStream(s, "graft_stream_static", d,
                                       filesPerTrigger = 32) { df =>
      df.join(broadcast(dim), df("user_id") === dim("c_custkey"))
        .select(col("user_id"), col("c_mktsegment"), col("value"))
    }
    enriched.groupBy("c_mktsegment")
      .agg(count(lit(1)).as("n_events"),
           sum(col("value").cast(DecimalType(18, 2))).cast("double")
             .as("total_value"))
      .orderBy("c_mktsegment")
  }

  val qStreamStaticJoinSql: String =
    """SELECT c_mktsegment, COUNT(*) AS n_events,
      |  CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value
      |FROM events JOIN customer ON user_id = c_custkey
      |GROUP BY c_mktsegment ORDER BY c_mktsegment""".stripMargin

  /** Incremental materialized-view maintenance — the streaming pattern
    * that keeps a queryable at-rest table continuously equal to a batch
    * aggregate over all data so far: an Update-mode keyed aggregate
    * emits each batch's CHANGED keys (carrying their complete new
    * running values, since the agg state holds the total), and a
    * foreachBatch sink merges them into a versioned parquet snapshot
    * via a keyed full-outer join — the MERGE shape every lakehouse
    * format executes under the hood.
    *
    * Exactly-once without sink transactions: snapshot `v(k+1)` is a
    * pure function of immutable `v(k)` + batch k's updates, so a
    * post-failure replay of batch k rewrites the same `v(k+1)`
    * (idempotent), and readers only ever see complete versions. The
    * snapshot is hash-bucketed on the key ([[MvBuckets]] `bucket=`
    * dirs): each batch joins its updates against only the touched
    * buckets of `v(k)` (partition-pruned), writes only those bucket
    * dirs, and RE-REFERENCES the rest through a per-version manifest —
    * untouched buckets contribute zero bytes written on any FileSystem
    * (no hard links, no copies; S3/GCS included). Per-batch cost ∝
    * changed keys' buckets, never MV size (see [[mvMergeBatch]]).
    *
    * Exactness: cents-long totals in state and snapshots (associative,
    * order-independent); one decimal→double conversion at read time.
    * Oracle: the final MV must equal DuckDB's plain GROUP BY over all
    * events — the definition of a materialized view, hash-compared.
    */
  /** Running (count, cents) aggregate keyed by user — the MV's stream
    * side; Update-mode emission makes each batch carry the changed
    * keys' COMPLETE new values.
    */
  private[graft] def mvAggregate(df: DataFrame): DataFrame =
    df.select(col("user_id"),
              (col("value").cast(DecimalType(18, 2)) * 100)
                .cast("long").as("c"))
      .groupBy("user_id")
      .agg(count(lit(1)).as("n_events"), sum(col("c")).as("c"))

  /** Number of hash buckets the MV snapshot is laid out in
    * (`bucket=pmod(hash(user_id), MvBuckets)` partition dirs), constant
    * across versions so every key lives in the same bucket forever. 16
    * keeps test dirs small; at 100 TB this is thousands — the per-batch
    * cost below scales with the number of TOUCHED buckets, not with it.
    */
  private[graft] val MvBuckets = 16

  /** Ceiling on manifest fan-out: when the previous snapshot's manifest
    * already references this many DISTINCT owner versions, the next
    * merge is a COMPACTION — all live buckets are rewritten into the new
    * version and the manifest collapses to a single owner. The trigger
    * is the measured width, not a version counter, so workloads whose
    * batches touch most buckets (manifest stays ~1 owner wide) never pay
    * a compaction, while skewed histories that accumulate width compact
    * exactly when they hit the bound — every read unions at most this
    * many versioned scans either way. The decision depends only on the
    * immutable predecessor manifest, so replaying a batch makes the same
    * choice (idempotency untouched). Old version dirs become
    * unreferenced after a compaction and are a retention/GC concern, not
    * a read-path one.
    */
  private[graft] val MvMaxManifestWidth = 8

  private[graft] def mvBucket(c: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    pmod(hash(c), lit(MvBuckets))

  /** Snapshot v's manifest: bucket → version whose `v<version>` dir
    * holds that bucket's current data files. Written atomically-enough
    * as the version's last file; `_`-prefixed so Spark's file index
    * treats it as hidden and `read.parquet(vDir)` never sees it.
    */
  private[graft] def mvManifest(base: java.nio.file.Path,
                                v: Long): Map[Int, Long] = {
    import scala.jdk.CollectionConverters._
    java.nio.file.Files
      .readAllLines(base.resolve(s"v$v").resolve("_manifest.csv")).asScala
      .filter(_.nonEmpty)
      .map { l => val Array(b, ver) = l.split(","); b.toInt -> ver.toLong }
      .toMap
  }

  private def mvWriteManifest(dst: java.nio.file.Path,
                              m: Map[Int, Long]): Unit =
    java.nio.file.Files.writeString(
      dst.resolve("_manifest.csv"),
      m.toSeq.sorted.map { case (b, v) => s"$b,$v" }.mkString("\n"))

  /** The current rows of `buckets`, resolved THROUGH the manifest: each
    * bucket reads from the version dir that last rewrote it, with the
    * `bucket` partition-dir filter pruning every other bucket at listing
    * time — their files are never opened (StreamingSpec asserts via
    * `input_file_name()`). None when no requested bucket exists yet.
    * The union is bounded by the number of distinct owner versions (≤
    * buckets touched); a production deployment bounds manifest fan-out
    * by periodically compacting all buckets into one version.
    */
  private[graft] def mvBucketRows(s: SparkSession, base: java.nio.file.Path,
                                  manifest: Map[Int, Long],
                                  buckets: Set[Int]): Option[DataFrame] =
    buckets.filter(manifest.contains).groupBy(manifest).toSeq.sortBy(_._1)
      .map { case (ver, bs) =>
        Tables.parquet(s, base.resolve(s"v$ver").toString)
          .where(col("bucket").isin(bs.toSeq.sorted: _*))
      }
      .reduceOption(_.union(_))

  /** Merge one batch of changed keys into the versioned MV: snapshot
    * v(batchId+1) = v(batchId) keyed-merged with the batch's updates,
    * taking the update when present. Pure function of immutable inputs →
    * a replayed batch rewrites the same snapshot (idempotent), which is
    * the spec-tested exactly-once argument.
    *
    * Scale shape (the lakehouse-MERGE cost model, on plain parquet):
    * the MV is hash-bucketed into `bucket=` partition dirs; a batch
    *  (1) computes its touched buckets (bounded by [[MvBuckets]] — a
    *      constant-size collect),
    *  (2) full-outer-joins the updates against ONLY those buckets,
    *      resolved through v(k)'s manifest (partition pruning; the
    *      exchange moves touched-bucket rows, never the full MV),
    *  (3) writes ONLY those bucket dirs into v(k+1), and
    *  (4) re-references every untouched bucket by carrying its manifest
    *      entry forward — metadata-only on ANY FileSystem (the
    *      hard-link trick this replaces degraded to a full copy on
    *      object stores, i.e. rewriting unchanged data per version).
    * Per-batch cost is therefore ∝ changed keys' buckets, not MV size.
    */
  private[graft] def mvMergeBatch(base: java.nio.file.Path)
                                 (updates0: DataFrame, batchId: Long): Unit = {
    val ss = updates0.sparkSession
    val dst = base.resolve(s"v${batchId + 1}")
    Scratch.rmTree(dst) // a crashed attempt's partial output must not survive
    val updates = updates0.withColumn("bucket", mvBucket(col("user_id"))).persist()
    try {
      val changed = updates.select("bucket").distinct()
        .collect().map(_.getInt(0)).toSet // bounded by MvBuckets
      val prevManifest =
        if (batchId == 0) Map.empty[Int, Long] else mvManifest(base, batchId)
      // when the inherited manifest is already MvMaxManifestWidth owner
      // versions wide, this merge rewrites ALL live buckets, collapsing
      // the manifest to one owner (fan-out bound)
      val compacting = prevManifest.values.toSet.size >= MvMaxManifestWidth
      val targets = if (compacting) prevManifest.keySet ++ changed else changed
      val merged = mvBucketRows(ss, base, prevManifest, targets) match {
        case None => updates.drop("bucket")
        case Some(prevRows) =>
          prevRows
            .select(col("user_id").as("p_user"),
                    col("n_events").as("p_n"), col("c").as("p_c"))
            .join(updates.drop("bucket"), col("p_user") === col("user_id"),
                  "full_outer")
            .select(
              coalesce(col("user_id"), col("p_user")).as("user_id"),
              coalesce(col("n_events"), col("p_n")).as("n_events"),
              coalesce(col("c"), col("p_c")).as("c"))
      }
      merged.withColumn("bucket", mvBucket(col("user_id")))
        .write.partitionBy("bucket").mode("overwrite").parquet(dst.toString)
      mvWriteManifest(dst,
        if (compacting) targets.map(_ -> (batchId + 1)).toMap
        else prevManifest ++ changed.map(_ -> (batchId + 1)))
    } finally { updates.unpersist(); () }
  }

  /** Read MV snapshot `v` in its query-facing shape, resolving each
    * bucket to its owning version through v's manifest.
    */
  private[graft] def mvRead(s: SparkSession, base: java.nio.file.Path,
                            v: Long): DataFrame = {
    val manifest = mvManifest(base, v)
    mvBucketRows(s, base, manifest, manifest.keySet)
      .getOrElse(sys.error(s"MV snapshot v$v has an empty manifest"))
      .select(col("user_id"), col("n_events"),
              (col("c").cast("double") / lit(100.0)).as("total"))
      .orderBy("user_id")
  }

  val qStreamMv: Q = (s, d) => {
    // DISTRIBUTED week-file replay: executors read the weekly parquet
    // files — two per micro-batch; the driver only admits files and
    // runs the per-batch manifest merge (metadata-sized). The final MV
    // is invariant to replay granularity (each merge is a keyed
    // last-write fold, so ANY batching converges to the plain GROUP BY
    // oracle — the q_stream_state_inspect invariance argument), and
    // the grouped admission still runs 3 real merge cycles (manifest
    // carry-forward included) while paying half the per-version parquet
    // write + manifest cost — the r17 probe measured the per-batch
    // merge write as this key's dominant fixed cost. The seeded
    // sentinel row flows into the MV under synthetic user −1 (keeping
    // every foreachBatch non-empty) and is filtered at read — it is not
    // in the oracle's events table.
    val dir = eventWeekFiles(s, d)
    val base = java.nio.file.Paths.get(Relational.scratchDir("mv", d))
    Scratch.rmTree(base) // stale versions from a previous suite shape
    java.nio.file.Files.createDirectories(base)
    val c = replaySession(s, Nil)
    @volatile var lastV = 0L
    runOnScratchCkpt(c, 2, "mv") { ckpt =>
      val src = c.readStream
        .schema(org.apache.spark.sql.Encoders.product[Ev].schema)
        .option("maxFilesPerTrigger", "2")
        .parquet(s"$dir/w*.parquet")
      mvAggregate(src)
        .writeStream
        .foreachBatch { (updates: DataFrame, batchId: Long) =>
          mvMergeBatch(base)(updates, batchId)
          lastV = batchId + 1
          ()
        }
        .option("checkpointLocation", ckpt)
        .outputMode(OutputMode.Update)
        .trigger(Trigger.AvailableNow())
        .start()
    }(_.awaitTermination())
    mvRead(c, base, lastV).where(col("user_id") >= 0).orderBy("user_id")
  }

  val qStreamMvSql: String =
    """SELECT user_id, COUNT(*) AS n_events,
      |  CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total
      |FROM events GROUP BY user_id ORDER BY user_id""".stripMargin

  /** Offline state-store inspection — Spark 4's state data source
    * (`spark.read.format("statestore")`) read back against batch truth.
    * The replay runs the running per-user aggregate through a durable
    * checkpoint, then the query result is NOT the stream's output but
    * the keyed state the engine left behind, decoded from the store's
    * files (key.user_id, value.count, value.sum). The DuckDB oracle is
    * the plain GROUP BY over all events: a hash match proves the state
    * the stream would resume from IS the batch answer — the
    * state-integrity check an operator of a 100 TB/day pipeline runs
    * after an incident, without touching the live query. Weekly batches
    * are grouped 2 per trigger: state at the final commit is invariant
    * to replay granularity, so the coarser replay buys wall time
    * without weakening what is asserted about the store.
    */
  val qStreamStateInspect: Q = (s, d) => {
    // DISTRIBUTED week-file replay (executor-read rows; the driver only
    // admits files), two weekly files per trigger — coarser than
    // week-by-week because the state at the final commit is invariant
    // to replay granularity, so the coarser replay buys wall time
    // without weakening what is asserted about the store. The seeded
    // sentinel lands in the store under synthetic user −1 and is
    // filtered from the decoded state below (it is not in the oracle's
    // events table).
    val dir = eventWeekFiles(s, d)
    // deterministic per-dataset checkpoint, recreated per run: the state
    // files must OUTLIVE this function (the returned frame reads them
    // lazily), so cleanup is rewrite-on-next-run, not a finally block
    val ckpt = java.nio.file.Paths.get(Relational.scratchDir("stinsp", d))
    Scratch.rmTree(ckpt)
    java.nio.file.Files.createDirectories(ckpt)
    val c = replaySession(s, Nil)
    val q = startWithStores(c, 2) {
      mvAggregate(c.readStream
          .schema(org.apache.spark.sql.Encoders.product[Ev].schema)
          .option("maxFilesPerTrigger", "2")
          .parquet(s"$dir/w*.parquet"))
        .writeStream.format("noop")
        .option("checkpointLocation", ckpt.toString)
        .outputMode(OutputMode.Update)
        .trigger(Trigger.AvailableNow())
        .start()
    }
    try q.awaitTermination()
    finally q.stop()
    c.read.format("statestore").option("path", ckpt.toString).load()
      .select(col("key.user_id").as("user_id"),
              col("value.count").as("n_events"),
              (col("value.sum").cast("double") / lit(100.0)).as("total"))
      .where(col("user_id") >= 0)
      .orderBy("user_id")
  }

  val qStreamStateInspectSql: String = qStreamMvSql

  /** Hand-placed 3-batch fixture form (StreamingSpec asserts it emits
    * the same rows as [[qStreamStatefulFixture]]); the ORACLED gate
    * entry is [[qStreamStatefulTws]].
    */
  private[graft] val qStreamStatefulTwsFixture: Q = (s, _) => {
    import s.implicits._
    runMemoryStream(s, "graft_stream_tws_fx", RocksDbConfs) { df =>
      df.as[Ev]
        .groupByKey(_.user_id)
        .transformWithState(new RunningCountProcessor(),
          org.apache.spark.sql.streaming.TimeMode.None(),
          OutputMode.Append)
        .toDF()
    }.orderBy("user_id", "n")
  }

  /** transformWithState on the SAME week-batched replay of `events` as
    * [[qStreamStateful]], with the same cents-exact running state (the
    * RocksDB store the API requires is also the production-scale one) —
    * so the successor stateful API is hash-compared against the same
    * cumulative-window oracle instead of rows-only.
    */
  val qStreamStatefulTws: Q = (s, d) => {
    import s.implicits._
    // DISTRIBUTED week-file replay, one weekly file per micro-batch —
    // same batching (and so the same emission set) as the oracle's
    // cumulative-window SQL expects; the sentinel's synthetic user −1
    // emission is filtered below
    runFileReplayStream(s, "graft_stream_tws", d, confs = RocksDbConfs) { df =>
      df.as[Ev]
        .groupByKey(_.user_id)
        .transformWithState(new RunningCumulProcessor(),
          org.apache.spark.sql.streaming.TimeMode.None(),
          OutputMode.Append)
        .toDF()
    }.where(col("user_id") >= 0).orderBy("user_id", "n")
  }

  /** Event-time micros of a timestamp (getTime is millis — the events
    * table carries microsecond precision, and a gap compare that
    * truncates to millis can disagree with the oracle at the boundary).
    */
  private def micros(t: Timestamp): Long =
    t.getTime * 1000L + (t.getNanos % 1000000L) / 1000L

  private val TtlMicros: Long = 2L * 86400L * 1000000L // 2 days

  /** Shared TTL-fold kernel: per-key running (count, exact cents) that
    * RESTARTS from zero when the key's event-time gap exceeds the TTL,
    * with state REMOVED via [[GroupStateTimeout.EventTimeTimeout]] once
    * the watermark passes last_ts + TTL. `onTimeout` is what the
    * timed-out call emits (the oracled form emits nothing; the fixture
    * form emits a tombstone so the spec can witness the eviction).
    */
  private def ttlFoldFn(onTimeout: Long => Iterator[TtlOut])
      : (Long, Iterator[Ev], GroupState[(Long, Long, Long)]) => Iterator[TtlOut] =
    (user, rows, state) => {
      if (state.hasTimedOut) {
        state.remove()
        onTimeout(user)
      } else {
        // iterator order is not defined — sort by event time so the
        // gap scan is deterministic (ties: gap 0, order irrelevant)
        val evs = rows.toSeq.sortBy(e => micros(e.ts))
        var (last, n, c) = state.getOption.getOrElse((Long.MinValue, 0L, 0L))
        evs.foreach { e =>
          val t = micros(e.ts)
          if (last != Long.MinValue && t - last > TtlMicros) { n = 0L; c = 0L }
          n += 1
          c += cents(e.value)
          // max, not assignment: a late event arriving in a LATER batch
          // (t < last) must not move last_ts backwards — that would
          // shrink the eviction bound and mis-stamp the emitted week
          last = math.max(last, t)
        }
        state.update((last, n, c))
        // eviction bound: wm > last + TTL ⇒ any future event of this key
        // in a time-ordered stream has gap > TTL and would restart anyway
        // (eviction is output-neutral; it exists to bound the store)
        state.setTimeoutTimestamp(last / 1000L + TtlMicros / 1000L)
        Iterator.single(TtlOut(user, new Timestamp(last / 1000L), n,
                               centsToDouble(c)))
      }
    }

  /** Streaming anomaly alerting — the trailing-window z-score of
    * [[graft.queries.Insights.qDqAnomaly]] computed INCREMENTALLY as the
    * stream arrives: one stateful fold keyed by event_type whose state
    * is (open per-day counts, ring of the last 7 FINALIZED days). A day
    * finalizes when the watermark passes its end — scored against the
    * ring in strictly ascending day order (so an anomalous day never
    * contaminates its own baseline), emitted, and pushed into the ring;
    * an event-time timer drains the tail when a key goes quiet (the
    * far-future sentinel fires it for every key at end of replay).
    *
    * Exactness: the ring carries integer counts; the handler replays
    * the batch query's EXACT double expression tree (cast order and
    * all) over those integers, so the streaming emission hash-matches
    * the one SQL oracle both forms share. State is bounded: ≤ 7
    * finalized + open-days-per-watermark-lag rows per key.
    */
  private val DayMs = 86400000L

  private def anomalyScore(ring: Seq[(Long, Long)], dayMs: Long, n: Long)
      : Option[AnomOut] = {
    val k = ring.length
    if (k == 0) None // per-type first day: no baseline yet (batch WHERE)
    else {
      val sN = ring.map(_._2).sum.toDouble
      val ssN = ring.map(t => t._2 * t._2).sum.toDouble
      val kd = k.toDouble
      val mean = sN / kd
      val vr = (ssN - sN * sN / kd) / (kd - 1.0)
      val z =
        if (k >= 3 && vr > 0)
          Some(round4((n.toDouble - sN / kd) / math.sqrt(vr)))
        else None
      Some(AnomOut("", new Timestamp(dayMs), n, round4(mean), z,
        z.exists(v => math.abs(v) > 2.5)))
    }
  }

  /** The incremental anomaly fold — object-level so StreamingSpec can
    * drive it through a hand-placed fixture (late-data drop, duplicate
    * finalization guard) that the time-ordered replay never exercises.
    */
  private[graft] val anomalyFoldFn: (String, Iterator[Ev],
      GroupState[(Map[Long, Long], Seq[(Long, Long)], Long)]) =>
      Iterator[AnomOut] = (etype, rows, state) => {
    var (open, ring, lastFin) = state.getOption
      .getOrElse((Map.empty[Long, Long], Seq.empty[(Long, Long)],
        Long.MinValue))
    // late-data contract (same as Spark's windowed aggregates): a row
    // whose day already finalized is DROPPED — without this guard a
    // below-watermark straggler would re-open the day and emit it a
    // second time with only the late count (fMGWS does not drop late
    // rows for you; the fixture spec witnesses this path)
    rows.foreach { e =>
      val dayMs = micros(e.ts) / 1000L / DayMs * DayMs
      if (dayMs > lastFin)
        open = open.updated(dayMs, open.getOrElse(dayMs, 0L) + 1L)
    }
    val wm = state.getCurrentWatermarkMs()
    val (done, still) = open.partition { case (dayMs, _) =>
      dayMs + DayMs <= wm }
    val out = done.toSeq.sortBy(_._1).flatMap { case (dayMs, n) =>
      val r = anomalyScore(ring, dayMs, n).map(_.copy(event_type = etype))
      ring = (ring :+ (dayMs, n)).takeRight(7)
      lastFin = dayMs
      r
    }
    // on a timer-drained quiet key, KEEP the (bounded: ≤ 7 ring entries
    // + lastFin) state rather than remove() it: a key that resumes later
    // in the replay must score against its trailing-7 baseline and keep
    // the late-row guard, matching the batch oracle's window — dropping
    // the row was a latent divergence under sparse keys. No timer is
    // re-armed while the key is quiet; the next event re-arms it.
    state.update((still, ring, lastFin))
    if (still.nonEmpty)
      state.setTimeoutTimestamp(still.keys.min + DayMs)
    out.iterator
  }

  val qStreamAnomaly: Q = (s, d) => {
    import s.implicits._
    // DISTRIBUTED replay (the q_stream_session path): executors read the
    // weekly parquet files — 3 weeks per micro-batch to mirror the old
    // MemoryStream grouping — and the seeded far-future sentinel file
    // drains the final watermark, firing every key's tail timer. The
    // driver only admits files; nothing corpus-sized is collected.
    runFileReplayStream(s, "graft_stream_anomaly", d,
                        filesPerTrigger = 3) { df =>
      df.withWatermark("ts", "1 hour")
        .as[Ev]
        .groupByKey(_.event_type)
        .flatMapGroupsWithState(OutputMode.Append,
                                GroupStateTimeout.EventTimeTimeout)(
          anomalyFoldFn)
        .toDF()
    }.where(col("event_type") =!= "wm_flush")
      .select(col("event_type"), col("day"), col("n"),
        col("trailing_mean"), col("z"), col("anomaly"))
      .orderBy("event_type", "day")
  }

  private def round4(v: Double): Double =
    BigDecimal(v).setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble

  /** Per-key running state WITH A TTL — the 100 TB answer to "keyed
    * state grows forever": a key inactive past the TTL has its state
    * dropped by an event-time timeout (bounding the state store to keys
    * active within the TTL window), and its next event starts from
    * zero. Restart is decided by the EVENT-TIME GAP (scanned per event,
    * so a mid-batch gap also resets), which makes the output a pure
    * sessionized cumulative sum — independently replayable by DuckDB —
    * while the timeout handles the operational half (state removal).
    * The two halves agree by construction on a time-ordered stream: if
    * the watermark passed last_ts + TTL (eviction), every later event
    * of that key sits above the watermark, so its gap exceeds the TTL
    * and the gap-reset fires regardless of whether the state row was
    * still there. [[qStreamStatefulTtlFixture]] + StreamingSpec witness
    * the eviction path itself (tombstone on `hasTimedOut`).
    *
    * Emission per active key per batch: (user, week, running n, running
    * total since last reset), cents-exact like [[qStreamStateful]].
    * (user_id, wk) is a total order both engines agree on — n is NOT
    * one here, since it restarts at 1 after each reset.
    */
  val qStreamStatefulTtl: Q = (s, d) => {
    import s.implicits._
    // DISTRIBUTED week-file replay, one weekly file per micro-batch
    // (same batching ⇒ same emission set as the oracle's sessionized
    // cumulative SQL). The seeded far-future sentinel advances the
    // watermark past every real key's last_ts + TTL at end of replay,
    // so the gate key now EXERCISES the eviction path too: every real
    // key's timer fires in the final no-data batch and its state is
    // removed — output-neutral by the gap-reset argument above (the
    // oracled onTimeout emits nothing; the fixture witnesses the
    // tombstone). The sentinel's own user −1 emission is filtered.
    runFileReplayStream(s, "graft_stream_ttl", d) { df =>
      df.withWatermark("ts", "1 minute")
        .as[Ev]
        .groupByKey(_.user_id)
        .flatMapGroupsWithState(OutputMode.Append,
                                GroupStateTimeout.EventTimeTimeout)(
          ttlFoldFn(_ => Iterator.empty))
        .toDF()
        .select(col("user_id"), date_trunc("week", col("last_ts")).as("wk"),
                col("n"), col("total"))
    }.where(col("user_id") >= 0).orderBy("user_id", "wk")
  }

  /** Sessionized cumulative sum: a session break where the per-user
    * event gap exceeds the TTL, then a weekly cumulative (count, exact
    * decimal total) within (user, session); each (user, week) reports
    * the session its last event belongs to — exactly what the TTL fold
    * emits at each batch end.
    */
  val qStreamStatefulTtlSql: String =
    """WITH e AS (
      |  SELECT user_id, CAST(ts AS TIMESTAMP) AS ts,
      |         date_trunc('week', CAST(ts AS TIMESTAMP)) AS wk, value
      |  FROM events
      |), flagged AS (
      |  SELECT user_id, ts, wk, value,
      |    CASE WHEN lag(ts) OVER w IS NULL
      |           OR ts - lag(ts) OVER w > INTERVAL 2 DAY THEN 1
      |         ELSE 0 END AS brk
      |  FROM e WINDOW w AS (PARTITION BY user_id ORDER BY ts)
      |), sess AS (
      |  SELECT user_id, ts, wk, value,
      |    SUM(brk) OVER (PARTITION BY user_id ORDER BY ts
      |                   ROWS UNBOUNDED PRECEDING) AS sid
      |  FROM flagged
      |), per AS (
      |  SELECT user_id, sid, wk, COUNT(*) AS cnt,
      |         SUM(CAST(value AS DECIMAL(18,2))) AS tot
      |  FROM sess GROUP BY user_id, sid, wk
      |), cum AS (
      |  SELECT user_id, sid, wk,
      |    CAST(SUM(cnt) OVER pw AS BIGINT) AS n,
      |    CAST(CAST(SUM(tot) OVER pw AS DECIMAL(18,2)) AS DOUBLE) AS total
      |  FROM per
      |  WINDOW pw AS (PARTITION BY user_id, sid ORDER BY wk
      |                ROWS UNBOUNDED PRECEDING)
      |)
      |SELECT user_id, wk, n, total FROM (
      |  SELECT user_id, wk, n, total,
      |    row_number() OVER (PARTITION BY user_id, wk ORDER BY sid DESC) AS rn
      |  FROM cum) WHERE rn = 1
      |ORDER BY user_id, wk""".stripMargin

  /** Fixture form for StreamingSpec: same kernel, but the timed-out
    * call emits a (user, −1, −1) tombstone so the spec can observe the
    * eviction itself, not just the restart.
    */
  private[graft] def runStatefulTtlFixture(s: SparkSession,
                                           batches: Seq[Seq[Ev]]): DataFrame = {
    import s.implicits._
    runReplayStream(s, "graft_stream_ttl_fx", batches) { df =>
      df.withWatermark("ts", "1 minute")
        .as[Ev]
        .groupByKey(_.user_id)
        .flatMapGroupsWithState(OutputMode.Append,
                                GroupStateTimeout.EventTimeTimeout)(
          ttlFoldFn(u => Iterator.single(
            TtlOut(u, new Timestamp(0L), -1L, -1.0))))
        .toDF()
    }
  }

  /** The CDC-apply fold: last-writer-wins per key, ordered by
    * (event time, event_id); an 'error' row is the DELETE tombstone.
    * State is one row per key — the current version — replaced only
    * when a strictly later (ts, event_id) arrives, so replay order
    * within a micro-batch is irrelevant. Each arrival re-arms an
    * event-time timer 180 days past the key's own last change: the
    * watermark never travels that far during replay, so the timer
    * fires exactly once — when the far-future sentinel drains the
    * stream — and the key emits its final snapshot (or nothing, if the
    * last change was the tombstone). Object-level so StreamingSpec can
    * drive the tombstone and out-of-order paths through a fixture.
    */
  private[graft] val cdcFoldFn: (Long, Iterator[Ev],
      GroupState[(Long, Long, String, Double)]) => Iterator[CdcOut] =
    (user, rows, state) => {
      if (state.hasTimedOut) {
        val (ts, _, etype, v) = state.get
        state.remove()
        if (etype != "error") {
          // reconstruct the EXACT microsecond timestamp (Timestamp(ms)
          // alone would truncate the sub-millisecond digits the oracle
          // reads from parquet)
          val t = new Timestamp(ts / 1000000L * 1000L)
          t.setNanos((ts % 1000000L).toInt * 1000)
          Iterator.single(CdcOut(user, etype, v, t))
        } else Iterator.empty
      } else {
        var cur = state.getOption.getOrElse(
          (Long.MinValue, Long.MinValue, "", 0.0))
        rows.foreach { e =>
          val m = micros(e.ts)
          if (m > cur._1 || (m == cur._1 && e.event_id > cur._2))
            cur = (m, e.event_id, e.event_type, e.value)
        }
        state.update(cur)
        state.setTimeoutTimestamp(cur._1 / 1000L + 180L * DayMs)
        Iterator.empty
      }
    }

  /** Streaming CDC apply — the change-data-capture half of
    * [[graft.queries.Relational]]'s batch merge/upsert: a keyed stream
    * of upserts and delete tombstones folded into a one-row-per-key
    * materialized state, snapshot emitted when the replay drains. Rides
    * the DISTRIBUTED week-file replay (executors read the batches); the
    * oracle is the batch last-writer-wins query over the same events,
    * so the gate proves the incremental fold converges to the batch
    * answer including tombstone suppression.
    *
    * At 100 TB: state is |live keys| rows (one version each — this is
    * the table-maintenance state shape, same as a compacted changelog
    * topic), per-batch work ∝ changed keys, and the emitted snapshot is
    * the only full-state scan. Timestamps pass through in exact micros;
    * the value double is never arithmetic'd — both engines compare the
    * same bits.
    */
  val qStreamCdc: Q = (s, d) => {
    import s.implicits._
    runFileReplayStream(s, "graft_stream_cdc", d, filesPerTrigger = 3) { df =>
      df.withWatermark("ts", "1 hour")
        .as[Ev]
        .groupByKey(_.user_id)
        .flatMapGroupsWithState(OutputMode.Append,
                                GroupStateTimeout.EventTimeTimeout)(
          cdcFoldFn)
        .toDF()
    }.where(col("user_id") >= 0) // the sentinel key never materializes
      .select(col("user_id"), col("state_type"), col("value"),
        col("updated_at"))
      .orderBy("user_id")
  }

  val qStreamCdcSql: String =
    """WITH ranked AS (
      |  SELECT user_id, event_type, value, CAST(ts AS TIMESTAMP) AS ts,
      |    row_number() OVER (PARTITION BY user_id
      |      ORDER BY ts DESC, event_id DESC) AS rk
      |  FROM events)
      |SELECT user_id, event_type AS state_type, value,
      |  ts AS updated_at
      |FROM ranked WHERE rk = 1 AND event_type <> 'error'
      |ORDER BY user_id""".stripMargin

  /** Fixture form of the CDC fold (hand-placed batches through the
    * MemoryStream replay) so StreamingSpec can witness the tombstone
    * suppression and within-batch out-of-order paths directly.
    */
  private[graft] def runCdcFixture(s: SparkSession,
                                   batches: Seq[Seq[Ev]]): DataFrame = {
    import s.implicits._
    runReplayStream(s, "graft_stream_cdc_fx", batches) { df =>
      df.withWatermark("ts", "1 minute")
        .as[Ev]
        .groupByKey(_.user_id)
        .flatMapGroupsWithState(OutputMode.Append,
                                GroupStateTimeout.EventTimeTimeout)(
          cdcFoldFn)
        .toDF()
    }
  }

  private val BackfillCutoff = "2024-01-25"

  /** Lambda-architecture cutover: the serving view is batch history
    * (all days before the cutoff, aggregated at rest) UNIONed with a
    * REAL streaming tail — the distributed week-file replay, filtered
    * to the cutoff, watermarked, and aggregated into daily windows —
    * then seam-merged on (event_type, day). The oracle is ONE batch
    * aggregate over every event, so the gate proves the batch/stream
    * seam neither loses, duplicates, nor double-counts a single row —
    * the property every backfill-then-stream migration must establish
    * before cutover.
    *
    * At 100 TB: history is a parquet-at-rest aggregate (combining,
    * pruned to pre-cutoff partitions); the streaming side's state is
    * |open windows × types|; the seam merge touches only the two
    * aggregates' rows. Counts and decimal sums merge exactly, so a
    * boundary day split across both sides would still sum right —
    * the merge is correct by algebra, not by careful file placement.
    */
  val qStreamBackfill: Q = (s, d) => {
    val cutoff = lit(BackfillCutoff).cast("timestamp")
    val tail = runFileReplayStream(s, "graft_stream_backfill", d,
                                   filesPerTrigger = 3) { df =>
      df.where(col("ts") >= cutoff)
        .withWatermark("ts", "1 hour")
        .groupBy(window(col("ts"), "1 day").as("w"), col("event_type"))
        .agg(count(lit(1)).as("n"),
          sum(col("value").cast(DecimalType(18, 2))).as("sv"))
        .select(col("event_type"), col("w.start").as("wstart"),
          col("n"), col("sv"))
    }.where(col("event_type") =!= "wm_flush")
      .select(col("event_type"), to_date(col("wstart")).as("day"),
        col("n"), col("sv"))
    // history read on the replay's clone, so the result belongs to it
    val hist = Tables.events(tail.sparkSession, d)
      .where(col("ts") < cutoff)
      .groupBy(col("event_type"), to_date(col("ts")).as("day"))
      .agg(count(lit(1)).as("n"),
        sum(col("value").cast(DecimalType(18, 2))).as("sv"))
    hist.unionByName(tail)
      .groupBy("event_type", "day")
      .agg(sum(col("n")).as("n"),
        sum(col("sv")).cast("double").as("sum_value"))
      .select(col("event_type"), col("day").cast("timestamp").as("day"),
        col("n"), col("sum_value"))
      .orderBy("event_type", "day")
  }

  val qStreamBackfillSql: String =
    """SELECT event_type,
      |  CAST(CAST(ts AS DATE) AS TIMESTAMP) AS day,
      |  count(*) AS n,
      |  CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
      |FROM events GROUP BY 1, 2 ORDER BY event_type, day""".stripMargin

  val entries: Map[String, Q] = Map(
    "q_stream_backfill" -> qStreamBackfill,
    "q_stream_cdc" -> qStreamCdc,
    "q_stream_stateful_tws" -> qStreamStatefulTws,
    "q_stream_stateful_ttl" -> qStreamStatefulTtl,
    "q_stream_tumbling"  -> qStreamTumbling,
    "q_stream_sliding"   -> qStreamSliding,
    "q_stream_session"   -> qStreamSession,
    "q_session_window"   -> qSessionWindowBatch,
    "q_stream_watermark" -> qStreamWatermark,
    "q_stream_dedup"     -> qStreamDedup,
    "q_stream_stateful"  -> qStreamStateful,
    "q_stream_join"      -> qStreamJoin,
    "q_stream_join_outer" -> qStreamJoinOuter,
    "q_stream_static_join" -> qStreamStaticJoin,
    "q_stream_mv"        -> qStreamMv,
    "q_stream_state_inspect" -> qStreamStateInspect,
    "q_stream_window_distinct" -> qStreamWindowDistinct,
    "q_stream_anomaly" -> qStreamAnomaly
  )

  val oracles: Map[String, String] = Map(
    "q_stream_backfill" -> qStreamBackfillSql,
    "q_stream_cdc"      -> qStreamCdcSql,
    "q_stream_tumbling" -> qStreamTumblingSql,
    "q_stream_sliding"  -> qStreamSlidingSql,
    "q_stream_session"  -> qStreamSessionSql,
    // batch session_window form — identical sessionization semantics,
    // held to the identical oracle
    "q_session_window"  -> qStreamSessionSql,
    "q_stream_stateful" -> qStreamStatefulSql,
    // same replay, same cumulative-window equivalent — the successor
    // API is held to the identical oracle
    "q_stream_stateful_tws" -> qStreamStatefulSql,
    "q_stream_join" -> qStreamJoinSql,
    "q_stream_join_outer" -> qStreamJoinOuterSql,
    "q_stream_static_join" -> qStreamStaticJoinSql,
    "q_stream_stateful_ttl" -> qStreamStatefulTtlSql,
    "q_stream_mv" -> qStreamMvSql,
    // the state the stream left behind must BE the batch answer
    "q_stream_state_inspect" -> qStreamStateInspectSql,
    // chained stateful aggs drain to exactly the batch distinct
    "q_stream_window_distinct" -> qStreamWindowDistinctSql,
    // the incremental fold replays the batch z-score expression tree
    // bit-for-bit, so both forms share one oracle
    "q_stream_anomaly" -> Insights.qDqAnomalySql
  )
}
