package graft

import org.scalatest.funsuite.AnyFunSuite

import org.apache.spark.sql.classic.GraftShim

import graft.queries.{Scratch, StreamingQ}

/** Golden assertions for the true-stream semantics (watermark, dedup,
  * stateful) driven by the deterministic MemoryStream batches in
  * StreamingQ (SURVEY.md §5.2.4).
  */
class StreamingSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark

  /** The sf1 session-window wall cost is all state-store commit cadence,
    * so the spec pins it to NAMED RocksDB metrics: the query must run on
    * RocksDB with changelog checkpointing enabled (commits upload the
    * batch delta, not a full SST snapshot) and report commit-latency
    * custom metrics in StreamingQueryProgress — the observability an
    * operator needs to see where a slow session stream spends its time.
    */
  test("RocksDB session stream: changelog checkpointing on, commit " +
       "metrics exposed") {
    import graft.queries.Ev
    import java.sql.Timestamp
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import org.apache.spark.sql.functions.{col, count, lit, session_window}
    import org.apache.spark.sql.streaming.OutputMode
    // the query runs on a clone with the confs the RocksDB keys pass to
    // their replay, as those keys do
    val c = GraftShim.cloneSession(spark)
    StreamingQ.RocksDbConfs.foreach { case (k, v) => c.conf.set(k, v) }
    import c.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = c.sqlContext
    assert(c.conf.get(
      "spark.sql.streaming.stateStore.rocksdb.changelogCheckpointing.enabled")
      == "true")
    val ms = MemoryStream[Ev]
    val ckpt = java.nio.file.Files.createTempDirectory("graft_rocks_metrics_")
    val q = ms.toDF()
      .withWatermark("ts", "30 minutes")
      .groupBy(col("user_id"), session_window(col("ts"), "30 minutes"))
      .agg(count(lit(1)).as("cnt"))
      .writeStream.format("memory").queryName("graft_rocks_metrics")
      .option("checkpointLocation", ckpt.toString)
      .outputMode(OutputMode.Append).start()
    try {
      def ev(id: Long, t: String) =
        Ev(id, Timestamp.valueOf(t), 1L, "click", 1.0)
      ms.addData(Seq(ev(1, "2024-01-01 10:00:00"), ev(2, "2024-01-01 10:10:00")))
      q.processAllAvailable()
      ms.addData(Seq(ev(3, "2024-01-01 13:00:00")))
      q.processAllAvailable()
      val withState = q.recentProgress
        .flatMap(_.stateOperators).filter(_.numRowsTotal > 0)
      assert(withState.nonEmpty, "no state-operator progress reported")
      import scala.jdk.CollectionConverters._
      val metrics = withState.flatMap(_.customMetrics.asScala).toMap
      val commitMetrics = metrics.keys
        .filter(k => k.startsWith("rocksdb") && k.toLowerCase.contains("commit"))
      assert(commitMetrics.nonEmpty,
        s"expected named rocksdb commit metrics, got ${metrics.keys.toSeq.sorted}")
    } finally { q.stop(); Scratch.rmTree(ckpt) }
  }

  test("watermark append: closed windows emitted, too-late row dropped") {
    val rows = StreamingQ.qStreamWatermark(spark, "").collect()
      .map(r => (r.getTimestamp(0).toString, r.getString(1), r.getLong(2),
                 r.getDouble(3)))
    assert(rows.toSeq == Seq(
      ("2024-01-01 10:00:00.0", "click", 2L, 3.0),   // ids 1+2
      ("2024-01-01 11:00:00.0", "click", 1L, 4.0),   // late-but-ok id 4
      ("2024-01-01 11:00:00.0", "view", 1L, 3.0),    // id 3
      // id 5's window closes when id 7 advances the watermark to 14:20
      // and Spark runs a final eviction batch after the last addData
      ("2024-01-01 12:00:00.0", "view", 1L, 5.0)))
    // the 99.0-valued too-late row (id 6) must never appear
    assert(!rows.exists(_._4 == 99.0))
  }

  test("dropDuplicatesWithinWatermark keeps on-time uniques, drops late") {
    val ids = StreamingQ.qStreamDedup(spark, "").collect()
      .map(_.getAs[Long]("event_id")).toSeq
    assert(ids == Seq(1L, 2L, 3L, 4L, 5L, 7L)) // id 6 below watermark
  }

  test("stream-stream interval join matches across micro-batch boundaries") {
    import graft.queries.Ev
    import java.sql.Timestamp
    import org.apache.spark.sql.functions.{col, expr}
    def ev(id: Long, t: String, u: Long, typ: String) =
      Ev(id, Timestamp.valueOf(t), u, typ, 1.0)
    // the view arrives one micro-batch BEFORE its matching click — the
    // join must buffer it in state across the boundary; user 2's click
    // has no view within 10 minutes and must not emit
    val views = Seq(
      Seq(ev(10, "2024-01-01 10:00:00", 1, "view")),
      Seq(ev(12, "2024-01-01 13:00:00", 1, "view")),
      Seq.empty)
    val clicks = Seq(
      Seq.empty,
      Seq(ev(11, "2024-01-01 10:05:00", 1, "click")),
      Seq(ev(13, "2024-01-01 13:05:00", 1, "click"),
          ev(14, "2024-01-01 13:00:00", 2, "click")))
    val out = StreamingQ.runReplayStreams(
        spark, "graft_stream_join_fx", Seq(clicks, views)) { dfs =>
      val c = dfs(0).select(col("event_id").as("click_id"), col("user_id"),
                            col("ts").as("click_ts"))
        .withWatermark("click_ts", "30 minutes")
      val v = dfs(1).select(col("event_id").as("view_id"),
                            col("user_id").as("v_user"),
                            col("ts").as("view_ts"))
        .withWatermark("view_ts", "30 minutes")
      c.join(v, col("user_id") === col("v_user") &&
                col("view_ts") >= col("click_ts") - expr("INTERVAL 10 MINUTES") &&
                col("view_ts") <= col("click_ts"))
        .select(col("click_id"), col("view_id"))
    }.orderBy("click_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(out == Seq((11L, 10L), (13L, 12L)))
  }

  test("left-outer stream join emits nulls only after watermark eviction") {
    import graft.queries.Ev
    import java.sql.Timestamp
    import org.apache.spark.sql.functions.{col, expr}
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import org.apache.spark.sql.streaming.OutputMode
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    def ev(id: Long, t: String, u: Long) =
      Ev(id, Timestamp.valueOf(t), u, "e", 1.0)
    val prev = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "2")
    try {
      val clicks = MemoryStream[Ev]
      val views = MemoryStream[Ev]
      val ckpt = java.nio.file.Files.createTempDirectory("graft_ckpt_ojfx_")
      val q = {
        val c = clicks.toDF()
          .select(col("event_id").as("click_id"), col("user_id"),
                  col("ts").as("click_ts"))
          .withWatermark("click_ts", "30 minutes")
        val v = views.toDF()
          .select(col("event_id").as("view_id"), col("user_id").as("v_user"),
                  col("ts").as("view_ts"))
          .withWatermark("view_ts", "30 minutes")
        c.join(v, col("user_id") === col("v_user") &&
                  col("view_ts") >= col("click_ts") - expr("INTERVAL 10 MINUTES") &&
                  col("view_ts") <= col("click_ts"), "leftOuter")
          .select(col("click_id"), col("view_id"))
          .writeStream.format("memory").queryName("graft_oj_fx")
          .option("checkpointLocation", ckpt.toString)
          .outputMode(OutputMode.Append).start()
      }
      def rows() = spark.table("graft_oj_fx").collect()
        .map(r => (r.getLong(0), Option(r.get(1)))).toSet
      try {
        // batch 0: matched pair + a click with no view — matched row
        // emits now; the unmatched click must NOT (a view for it could
        // still arrive inside the watermark delay)
        clicks.addData(Seq(ev(1, "2024-01-01 10:00:00", 1),
                           ev(2, "2024-01-01 10:05:00", 2)))
        views.addData(Seq(ev(100, "2024-01-01 09:58:00", 1)))
        q.processAllAvailable()
        assert(rows() == Set((1L, Some(100L))),
               "null row emitted while a match could still arrive")
        // batch 1: both topics advance the event-time clock past click
        // 2's eviction bound — now, and only now, its null row appears
        clicks.addData(Seq(ev(3, "2024-01-01 12:00:00", 9)))
        views.addData(Seq(ev(101, "2024-01-01 12:00:00", 8)))
        q.processAllAvailable()
        assert(rows() == Set((1L, Some(100L)), (2L, None)),
               "evicted unmatched click did not emit its null row")
      } finally q.stop()
    } finally spark.conf.set("spark.sql.shuffle.partitions", prev)
  }

  test("TTL fold: timed-out key is evicted and restarts; active key accumulates") {
    import graft.queries.Ev
    import java.sql.Timestamp
    def ev(id: Long, t: String, u: Long, v: Double) =
      Ev(id, Timestamp.valueOf(t), u, "e", v)
    // TTL = 2 days. A appears once, goes silent while B keeps the
    // event-time clock moving, gets EVICTED (watermark passes
    // last_ts + TTL in a batch where A has no data), then returns and
    // must restart from zero. C's gap (3 d) exceeds the TTL but the
    // watermark never passes C's eviction bound before C returns — so
    // C exercises the gap-reset path WITHOUT eviction. B accumulates
    // through every batch.
    val batches = Seq(
      Seq(ev(1, "2024-01-01 10:00:00", 1, 1.0),   // A
          ev(2, "2024-01-01 10:00:00", 2, 1.0),   // B
          ev(3, "2024-01-01 10:00:00", 3, 5.0)),  // C
      Seq(ev(4, "2024-01-02 10:00:00", 2, 1.0)),  // B; wm → Jan 1 09:59
      Seq(ev(5, "2024-01-04 10:00:00", 2, 1.0),   // wm → Jan 2 09:59
          ev(6, "2024-01-04 10:00:00", 3, 7.0)),  // C: gap 3 d > TTL → reset
      Seq(ev(7, "2024-01-05 10:00:00", 2, 1.0)),  // wm → Jan 4 09:59 > A's
                                                  // Jan 3 10:00 bound → evict A
      Seq(ev(8, "2024-01-06 10:00:00", 1, 9.0),   // A returns: fresh state
          ev(9, "2024-01-06 10:00:00", 2, 1.0)))
    val out = StreamingQ.runStatefulTtlFixture(spark, batches).collect()
      .map(r => (r.getAs[Long]("user_id"), r.getAs[Long]("n"),
                 r.getAs[Double]("total")))
    val a = out.filter(_._1 == 1L).toList
    val b = out.filter(_._1 == 2L).map(t => (t._2, t._3)).sorted.toList
    val c = out.filter(_._1 == 3L).map(t => (t._2, t._3)).toSet
    // A: first fold, then the eviction tombstone, then a restart at 1
    assert(a == List((1L, 1L, 1.0), (1L, -1L, -1.0), (1L, 1L, 9.0)),
           s"eviction/restart sequence wrong: $a")
    // B: plain accumulation, never reset, never evicted
    assert(b == List((1L, 1.0), (2L, 2.0), (3L, 3.0), (4L, 4.0), (5L, 5.0)))
    // C: gap-reset without eviction — second emission restarts, no tombstone
    assert(c == Set((1L, 5.0), (1L, 7.0)), s"gap reset wrong: $c")
  }

  test("TTL fold: a late cross-batch event cannot move last_ts backwards") {
    import graft.queries.Ev
    import java.sql.Timestamp
    def ev(id: Long, t: String, u: Long, v: Double) =
      Ev(id, Timestamp.valueOf(t), u, "e", v)
    // batch 2's event is 30 s OLDER than batch 1's (still above the
    // 1-minute watermark, so it reaches the fold). last_ts must stay at
    // the max — assignment instead of max would shrink the eviction
    // bound and stamp the second emission with the earlier time.
    val batches = Seq(
      Seq(ev(1, "2024-01-05 10:00:00", 1, 1.0)),
      Seq(ev(2, "2024-01-05 09:59:30", 1, 2.0)))
    val out = StreamingQ.runStatefulTtlFixture(spark, batches).collect()
      .map(r => (r.getAs[java.sql.Timestamp]("last_ts").toString,
                 r.getAs[Long]("n"), r.getAs[Double]("total"))).toList
    assert(out == List(
      ("2024-01-05 10:00:00.0", 1L, 1.0),
      ("2024-01-05 10:00:00.0", 2L, 3.0)), s"got $out")
  }

  test("transformWithState matches flatMapGroupsWithState semantics") {
    val fmgws = StreamingQ.qStreamStatefulFixture(spark, "").collect()
      .map(r => (r.getAs[Long]("user_id"), r.getAs[Long]("n"),
                 r.getAs[Double]("total"))).toSeq
    val tws = StreamingQ.qStreamStatefulTwsFixture(spark, "").collect()
      .map(r => (r.getAs[Long]("user_id"), r.getAs[Long]("n"),
                 r.getAs[Double]("total"))).toSeq
    assert(tws == fmgws)
  }

  test("flatMapGroupsWithState accumulates per-key state across batches") {
    val rows = StreamingQ.qStreamStatefulFixture(spark, "").collect()
      .map(r => (r.getAs[Long]("user_id"), r.getAs[Long]("n"),
                 r.getAs[Double]("total")))
    assert(rows.toSeq == Seq(
      (1L, 2L, 3.0), (1L, 3L, 7.0), (1L, 4L, 106.0),
      (2L, 1L, 3.0), (2L, 2L, 8.0), (2L, 3L, 14.0)))
  }

  /** MV maintenance under restart + batch replay: the two failure modes
    * a production incremental MV must survive. (a) a NEW query
    * incarnation on the same checkpoint continues the snapshot chain
    * from restored aggregate state; (b) re-running a batch's merge
    * (what a post-failure replay does) rewrites an IDENTICAL snapshot —
    * exactly-once by idempotent re-derivation, not sink transactions.
    */
  test("incremental MV survives restart and batch replay is idempotent") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import org.apache.spark.sql.streaming.OutputMode
    import graft.queries.Ev
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    def ev(id: Long, u: Long, v: Double) =
      Ev(id, java.sql.Timestamp.valueOf("2024-01-01 10:0" + id + ":00"),
         u, "click", v)
    val base = java.nio.file.Files.createTempDirectory("graft_mv_spec_")
    val ckpt = java.nio.file.Files.createTempDirectory("graft_mv_ckpt_")
    val prev = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "2")
    try {
      val ms = MemoryStream[Ev]
      @volatile var lastV = 0L
      def start() = StreamingQ.mvAggregate(ms.toDF())
        .writeStream
        .foreachBatch { (u: org.apache.spark.sql.DataFrame, id: Long) =>
          StreamingQ.mvMergeBatch(base)(u, id); lastV = id + 1; ()
        }
        .option("checkpointLocation", ckpt.toString)
        .outputMode(OutputMode.Update).start()

      val q1 = start()
      ms.addData(Seq(ev(1, 1L, 2.00), ev(2, 1L, 3.00), ev(3, 2L, 10.00)))
      q1.processAllAvailable(); q1.stop()

      val q2 = start() // restart on the same checkpoint
      ms.addData(Seq(ev(4, 1L, 5.00), ev(5, 3L, 1.00)))
      q2.processAllAvailable(); q2.stop()

      val mv = StreamingQ.mvRead(spark, base, lastV).collect()
        .map(r => (r.getAs[Long]("user_id"), r.getAs[Long]("n_events"),
                   r.getAs[Double]("total")))
      // user 1 spans the restart: 3 events / 10.00 only if the agg state
      // was restored AND the merge chained across incarnations
      assert(mv.toSeq == Seq((1L, 3L, 10.0), (2L, 1L, 10.0), (3L, 1L, 1.0)))

      // replay idempotence: re-derive the last snapshot from the same
      // immutable predecessor + the same updates — byte-identical rows
      val updates = Seq((1L, 3L, 1000L), (3L, 1L, 100L))
        .toDF("user_id", "n_events", "c")
      StreamingQ.mvMergeBatch(base)(updates, lastV - 1)
      val once = StreamingQ.mvRead(spark, base, lastV).collect().toSeq
      StreamingQ.mvMergeBatch(base)(updates, lastV - 1)
      val twice = StreamingQ.mvRead(spark, base, lastV).collect().toSeq
      assert(once == twice)
      assert(once.map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
        == Seq((1L, 3L, 10.0), (2L, 1L, 10.0), (3L, 1L, 1.0)))
    } finally {
      spark.conf.set("spark.sql.shuffle.partitions", prev)
      Scratch.rmTree(base); Scratch.rmTree(ckpt)
    }
  }

  /** Scale shape of the MV merge: a batch touching one key must (a) read
    * only that key's bucket from the previous snapshot (partition
    * pruning through the manifest), and (b) write ONLY that bucket into
    * the new version — every untouched bucket is re-referenced by its
    * manifest entry, contributing ZERO bytes written on any FileSystem
    * (the object-store-safe replacement for the hard-link trick, which
    * degraded to full copies where links are unsupported — S3/GCS).
    */
  test("MV merge prunes to touched buckets; untouched buckets are " +
       "manifest-only re-references") {
    import spark.implicits._
    val base = java.nio.file.Files.createTempDirectory("graft_mv_cow_")
    try {
      // v1: 64 keys spread across (nearly all of) the 16 buckets
      val v0 = (1L to 64L).map(u => (u, 1L, u * 100L))
        .toDF("user_id", "n_events", "c")
      StreamingQ.mvMergeBatch(base)(v0, 0L)
      // batch 1 touches a single key → a single bucket
      val upd = Seq((7L, 2L, 1400L)).toDF("user_id", "n_events", "c")
      val touched = upd.select(StreamingQ.mvBucket(
          org.apache.spark.sql.functions.col("user_id")))
        .first().getInt(0)
      // (a) the manifest-resolved prev scan opens only the touched bucket
      // (input_file_name() reflects the files actually read post-pruning,
      // unlike DataFrame.inputFiles which lists the whole relation)
      val readFiles = StreamingQ.mvBucketRows(
          spark, base, StreamingQ.mvManifest(base, 1L), Set(touched))
        .get
        .select(org.apache.spark.sql.functions.input_file_name())
        .distinct().collect().map(_.getString(0)).toSeq
      assert(readFiles.nonEmpty &&
             readFiles.forall(_.contains(s"bucket=$touched")),
        s"prev scan must read only bucket=$touched, got " +
          readFiles.mkString(", "))
      StreamingQ.mvMergeBatch(base)(upd, 1L)
      // result is still the full correct MV
      val mv = StreamingQ.mvRead(spark, base, 2L).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq
      assert(mv.size == 64 && mv.contains((7L, 2L, 14.0)) &&
             mv.contains((8L, 1L, 8.0)))
      // (b) v2 holds data files for the touched bucket ONLY — zero bytes
      // written for any untouched bucket, on any FileSystem
      import scala.jdk.CollectionConverters._
      val v2Buckets = java.nio.file.Files.list(base.resolve("v2"))
        .iterator().asScala.map(_.getFileName.toString)
        .filter(_.startsWith("bucket=")).toSeq
      assert(v2Buckets == Seq(s"bucket=$touched"),
        s"v2 must materialize only the touched bucket, got $v2Buckets")
      // the manifest re-references untouched buckets to v1, touched to v2
      val m2 = StreamingQ.mvManifest(base, 2L)
      assert(m2(touched) == 2L)
      assert(m2.removed(touched).values.toSet == Set(1L),
        s"untouched buckets must still resolve to v1, got $m2")
      assert(m2.keySet == StreamingQ.mvManifest(base, 1L).keySet)
    } finally Scratch.rmTree(base)
  }

  /** Manifest fan-out bound: without compaction, a skewed update history
    * (each batch touching few buckets) accumulates one owner version per
    * touched-bucket epoch and every read unions that many scans. When the
    * inherited manifest is already [[StreamingQ.MvMaxManifestWidth]]
    * owner versions wide, the next merge rewrites all live buckets, so
    * across an arbitrarily long replay the per-read union width stays ≤
    * the bound — and workloads whose batches touch most buckets never
    * trigger (width never accumulates).
    */
  test("MV manifest fan-out stays bounded by width-triggered compaction " +
       "over a 50-batch skewed replay") {
    import spark.implicits._
    val base = java.nio.file.Files.createTempDirectory("graft_mv_compact_")
    val prev = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "1")
    try {
      // 50 batches, each a single-key update carrying the key's COMPLETE
      // running aggregate (Update-mode emission contract); 20 keys cycle
      // so buckets keep getting re-touched across compaction epochs
      var expected = Map.empty[Long, (Long, Long)]
      var widths = Vector.empty[Int]
      for (b <- 0L until 50L) {
        val u = b % 20L + 1L
        val nv = expected.get(u)
          .map { case (n, c) => (n + 1L, c + 100L * u) }
          .getOrElse((1L, 100L * u))
        expected += u -> nv
        val upd = Seq((u, nv._1, nv._2)).toDF("user_id", "n_events", "c")
        StreamingQ.mvMergeBatch(base)(upd, b)
        val owners = StreamingQ.mvManifest(base, b + 1).values.toSet
        widths :+= owners.size
        assert(owners.size <= StreamingQ.MvMaxManifestWidth,
          s"v${b + 1}: union width ${owners.size} exceeds the bound " +
            s"${StreamingQ.MvMaxManifestWidth}")
      }
      // the skewed history must actually have accumulated width AND
      // collapsed back to one owner at least once (a compaction ran) —
      // otherwise the bound above was asserted vacuously
      assert(widths.contains(StreamingQ.MvMaxManifestWidth),
        s"fixture never reached the width bound: $widths")
      assert(widths.zipWithIndex.exists { case (w, i) => i > 0 && w == 1 },
        s"no compaction collapsed the manifest: $widths")
      // and the final MV is still exactly the merged history
      val mv = StreamingQ.mvRead(spark, base, 50L).collect()
        .map(r => (r.getLong(0), (r.getLong(1), (r.getDouble(2) * 100).round)))
        .toMap
      assert(mv == expected, s"MV diverged after compactions")
    } finally {
      spark.conf.set("spark.sql.shuffle.partitions", prev)
      Scratch.rmTree(base)
    }
  }

  /** Failure recovery: stop a stateful query, start a NEW query instance
    * on the SAME checkpoint, and prove (a) keyed state is restored from
    * the state store, (b) already-committed offsets are not reprocessed.
    * This is the operational contract a 100 TB/day stream runs on —
    * every executor loss or deploy is exactly this restart.
    */
  test("stateful aggregation state survives a checkpointed restart") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import org.apache.spark.sql.functions.{count, sum}
    import org.apache.spark.sql.streaming.OutputMode
    import graft.queries.Ev
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    def ev(id: Long, u: Long, v: Double) =
      Ev(id, java.sql.Timestamp.valueOf("2024-01-01 10:0" + id + ":00"),
         u, "click", v)
    val prev = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "2")
    val ckpt = java.nio.file.Files.createTempDirectory("graft_ckpt_restart_")
    try {
      val ms = MemoryStream[Ev]
      // the memory sink is not fault-tolerant (Spark refuses to recover
      // it from a checkpoint); foreachBatch IS the recovery-capable sink,
      // and a fresh buffer per phase shows exactly what each incarnation
      // of the query emitted
      def start(sink: collection.mutable.Buffer[(Long, Long, Double)]) =
        ms.toDF()
          .groupBy("user_id")
          .agg(count("*").as("n"), sum("value").as("total"))
          .writeStream
          .foreachBatch { (df: org.apache.spark.sql.DataFrame, _: Long) =>
            val rows = df.collect().map(r => (r.getAs[Long]("user_id"),
              r.getAs[Long]("n"), r.getAs[Double]("total")))
            sink.synchronized { sink ++= rows }; ()
          }
          .option("checkpointLocation", ckpt.toString)
          .outputMode(OutputMode.Update).start()

      val p1 = collection.mutable.Buffer[(Long, Long, Double)]()
      val q1 = start(p1)
      ms.addData(Seq(ev(1, 1L, 2.0), ev(2, 1L, 3.0), ev(3, 2L, 10.0)))
      q1.processAllAvailable(); q1.stop()
      assert(p1.toSet == Set((1L, 2L, 5.0), (2L, 1L, 10.0)))

      // restart: new query instance, same checkpoint, one more event
      val p2 = collection.mutable.Buffer[(Long, Long, Double)]()
      val q2 = start(p2)
      ms.addData(Seq(ev(4, 1L, 5.0)))
      q2.processAllAvailable(); q2.stop()
      // user 1 continues from restored state (not from 1/5.0); user 2 has
      // no new data, so nothing is re-emitted — offsets were not replayed
      assert(p2.toSet == Set((1L, 3L, 10.0)),
        s"restart must restore state and skip committed offsets, got $p2")
    } finally {
      spark.conf.set("spark.sql.shuffle.partitions", prev)
      try {
        import scala.jdk.CollectionConverters._
        java.nio.file.Files.walk(ckpt).iterator().asScala.toSeq
          .sortBy(-_.getNameCount)
          .foreach(java.nio.file.Files.deleteIfExists(_))
      } catch { case _: Exception => }
    }
  }

  /** The anomaly fold's late-data contract, which the time-ordered
    * replay never exercises: a below-watermark straggler for an
    * already-finalized day must be DROPPED — not re-open the day, not
    * emit it a second time, not corrupt the trailing ring later days
    * score against.
    */
  test("anomaly fold: late rows for a finalized day are dropped and " +
       "every day emits exactly once") {
    import graft.queries.{Ev, StreamingQ}
    import java.sql.Timestamp
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import org.apache.spark.sql.streaming.{GroupStateTimeout, OutputMode}
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    def ev(id: Long, t: String) =
      Ev(id, Timestamp.valueOf(t), 1L, "click", 1.0)
    val ms = MemoryStream[Ev]
    val ckpt = java.nio.file.Files.createTempDirectory("graft_anom_fix_")
    val q = ms.toDF()
      .withWatermark("ts", "1 hour")
      .as[Ev]
      .groupByKey(_.event_type)
      .flatMapGroupsWithState(OutputMode.Append,
        GroupStateTimeout.EventTimeTimeout)(StreamingQ.anomalyFoldFn)
      .toDF()
      .writeStream.format("memory").queryName("graft_anom_fixture")
      .option("checkpointLocation", ckpt.toString)
      .outputMode(OutputMode.Append).start()
    try {
      // Jan1 ×3, then Jan3 advances the watermark past Jan1's end
      ms.addData(Seq(ev(1, "2024-01-01 10:00:00"),
        ev(2, "2024-01-01 11:00:00"), ev(3, "2024-01-01 12:00:00"),
        ev(4, "2024-01-03 23:00:00")))
      q.processAllAvailable()
      // Jan4 ×2 + Jan5: Jan1 finalizes (ring seed, no baseline row)
      ms.addData(Seq(ev(5, "2024-01-04 08:00:00"),
        ev(6, "2024-01-04 09:00:00"), ev(7, "2024-01-05 12:00:00")))
      q.processAllAvailable()
      // the STRAGGLER: Jan1 again, far below the watermark + Jan6
      ms.addData(Seq(ev(8, "2024-01-01 09:00:00"),
        ev(9, "2024-01-06 12:00:00")))
      q.processAllAvailable()
      // flush: far-future row drains Jan5/Jan6
      ms.addData(Seq(ev(10, "2025-06-01 00:00:00")))
      q.processAllAvailable()
      val rows = spark.table("graft_anom_fixture").collect()
        .sortBy(_.getAs[Timestamp]("day").getTime)
      def dayOf(s: String) = Timestamp.valueOf(s)
      // exactly one row per day, none for the re-opened Jan1
      assert(rows.map(_.getAs[Timestamp]("day")).toSeq == Seq(
        dayOf("2024-01-03 00:00:00"), dayOf("2024-01-04 00:00:00"),
        dayOf("2024-01-05 00:00:00"), dayOf("2024-01-06 00:00:00")))
      // trailing means prove the ring was NOT corrupted by the late row:
      // Jan3 vs {3}; Jan4 vs {3,1}; Jan5 vs {3,1,2}; Jan6 vs {3,1,2,1}
      assert(rows.map(_.getAs[Double]("trailing_mean")).toSeq ==
        Seq(3.0, 2.0, 2.0, 1.75))
      // z appears from k=3 on: Jan5 z=(1-2)/1=-1; Jan6 = -0.75/sqrt(11/12)
      val zs = rows.map(r => Option(r.getAs[Any]("z"))
        .map(_.asInstanceOf[Double]))
      assert(zs(0).isEmpty && zs(1).isEmpty)
      assert(zs(2).contains(-1.0))
      assert(zs(3).exists(z => math.abs(z - (-0.7833)) < 1e-9))
    } finally { q.stop(); Scratch.rmTree(ckpt) }
  }

  /** A key fully drained by its event-time timer (no open days left)
    * must KEEP its trailing ring: when the key resumes, the new day
    * scores against the retained 7-day baseline — a remove() there
    * would silently reset the baseline and the late-row guard.
    */
  test("anomaly fold: a drained key resumes against its retained ring") {
    import graft.queries.{Ev, StreamingQ}
    import java.sql.Timestamp
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import org.apache.spark.sql.streaming.{GroupStateTimeout, OutputMode}
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    def ev(id: Long, t: String, typ: String) =
      Ev(id, Timestamp.valueOf(t), 1L, typ, 1.0)
    val ms = MemoryStream[Ev]
    val ckpt = java.nio.file.Files.createTempDirectory("graft_anom_keep_")
    val q = ms.toDF()
      .withWatermark("ts", "1 hour")
      .as[Ev]
      .groupByKey(_.event_type)
      .flatMapGroupsWithState(OutputMode.Append,
        GroupStateTimeout.EventTimeTimeout)(StreamingQ.anomalyFoldFn)
      .toDF()
      .writeStream.format("memory").queryName("graft_anom_keep")
      .option("checkpointLocation", ckpt.toString)
      .outputMode(OutputMode.Append).start()
    try {
      // click: Jan1 + Jan2; `other` advances the watermark past both
      ms.addData(Seq(ev(1, "2024-01-01 10:00:00", "click"),
        ev(2, "2024-01-02 10:00:00", "click"),
        ev(3, "2024-01-03 23:00:00", "other")))
      q.processAllAvailable()
      // no click rows: its timer fires, Jan1+Jan2 finalize, state drains
      ms.addData(Seq(ev(4, "2024-01-05 12:00:00", "other")))
      q.processAllAvailable()
      // click RESUMES after the full drain; `other` drags the wm forward
      ms.addData(Seq(ev(5, "2024-01-10 10:00:00", "click"),
        ev(6, "2025-06-01 00:00:00", "other")))
      q.processAllAvailable()
      // one more trigger so click's timer finalizes Jan10
      ms.addData(Seq(ev(7, "2025-07-01 00:00:00", "other")))
      q.processAllAvailable()
      val click = spark.table("graft_anom_keep").collect()
        .filter(_.getAs[String]("event_type") == "click")
        .sortBy(_.getAs[Timestamp]("day").getTime)
      // Jan1 seeds the ring (no baseline row); Jan2 scores against {1};
      // the resumed Jan10 must score against the RETAINED {1, 1} ring
      assert(click.map(_.getAs[Timestamp]("day")).toSeq == Seq(
        Timestamp.valueOf("2024-01-02 00:00:00"),
        Timestamp.valueOf("2024-01-10 00:00:00")))
      assert(click.map(_.getAs[Double]("trailing_mean")).toSeq ==
        Seq(1.0, 1.0))
    } finally { q.stop(); Scratch.rmTree(ckpt) }
  }

  test("backfill: batch/stream seam loses and duplicates nothing") {
    import org.apache.spark.sql.functions._
    val got = StreamingQ.qStreamBackfill(spark, "/root/testdata/sf0.001")
      .collect()
      .map(r => (r.getAs[String]("event_type"),
        r.getAs[java.sql.Timestamp]("day").toString,
        r.getAs[Long]("n"), r.getAs[Double]("sum_value"))).toSet
    val batch = Tables.events(spark, "/root/testdata/sf0.001")
      .groupBy(col("event_type"),
        to_date(col("ts")).cast("timestamp").as("day"))
      .agg(count(lit(1)).as("n"),
        sum(col("value").cast("decimal(18,2)")).cast("double")
          .as("sum_value"))
      .collect()
      .map(r => (r.getAs[String]("event_type"),
        r.getAs[java.sql.Timestamp]("day").toString,
        r.getAs[Long]("n"), r.getAs[Double]("sum_value"))).toSet
    assert(got == batch, "union-of-halves must equal the one batch agg")
    // the streaming tail genuinely contributed: post-cutoff days exist
    assert(got.exists(_._2 >= "2024-01-25"),
      "no post-cutoff rows — the replay tail was empty")
  }

  test("CDC fold: last-writer-wins, tombstone suppression, tie on event_id") {
    import graft.queries.Ev
    import java.sql.Timestamp
    def ev(id: Long, t: String, u: Long, typ: String, v: Double) =
      Ev(id, Timestamp.valueOf(t), u, typ, v)
    val batches = Seq(
      Seq(ev(1, "2024-01-05 10:00:00", 1, "click", 1.0),
          ev(2, "2024-01-05 10:00:01", 2, "view", 2.0),
          ev(3, "2024-01-05 10:00:02", 3, "click", 3.0)),
      // user 1: LATER event listed first — the fold must order by ts,
      // not arrival; user 2: delete tombstone as the last change;
      // user 3: equal timestamps — the higher event_id wins
      Seq(ev(5, "2024-01-05 10:06:00", 1, "purchase", 7.0),
          ev(4, "2024-01-05 10:05:00", 1, "click", 9.0),
          ev(6, "2024-01-05 10:07:00", 2, "error", 0.0),
          ev(7, "2024-01-05 10:00:02", 3, "view", 4.0),
          ev(8, "2024-01-05 10:00:02", 3, "signup", 5.0)),
      // far-future sentinel (> the 180-day timer horizon) drains every
      // key's snapshot; its own key emits nothing
      Seq(ev(99, "2025-06-01 00:00:00", 999, "click", 0.0)))
    val out = StreamingQ.runCdcFixture(spark, batches).collect()
      .map(r => r.getAs[Long]("user_id") ->
        (r.getAs[String]("state_type"), r.getAs[Double]("value"),
         r.getAs[java.sql.Timestamp]("updated_at").toString))
      .toMap
    assert(out.keySet == Set(1L, 3L),
      s"user 2 tombstoned, sentinel key silent: ${out.keySet}")
    assert(out(1L) == (("purchase", 7.0, "2024-01-05 10:06:00.0")),
      s"last-writer-wins by ts: ${out(1L)}")
    assert(out(3L) == (("signup", 5.0, "2024-01-05 10:00:02.0")),
      s"ts tie breaks to the higher event_id: ${out(3L)}")
  }

  /** A replay's confs go on its own clone: a caller's conf never holds
    * them, not even while the call runs. The session key writes both a
    * shuffle-partition count and the RocksDB provider, so a caller that
    * shares its session with other queries would plan them under those
    * settings for the whole replay if either landed on it.
    */
  test("q_stream_session never writes the caller's conf, not even while " +
       "it runs") {
    import scala.concurrent.{Await, Future}
    import scala.concurrent.ExecutionContext.Implicits.global
    import scala.concurrent.duration._
    val caller = spark.newSession()
    val watched = Seq("spark.sql.shuffle.partitions",
                      "spark.sql.streaming.stateStore.providerClass")
    def sample() = watched.map(caller.conf.getOption)
    val before = sample()
    val run = Future(StreamingQ.entries("q_stream_session")(
      caller, "/root/testdata/sf0.001").collect())
    val seen = scala.collection.mutable.LinkedHashSet(before)
    var samples = 0
    while (!run.isCompleted) { seen += sample(); samples += 1; Thread.sleep(1) }
    Await.result(run, 5.minutes)
    seen += sample()
    assert(samples > 0)
    assert(seen.toSeq == Seq(before),
      s"the caller's ${watched.mkString(", ")} moved during the call: $seen")
  }

  /** The replay's state-store count is set on its clone only while its
    * query starts: the batch work on the stream's output (sink reads,
    * sorts, the backfill history) plans at the caller's count, so a
    * caller's shuffle-partition setting still reaches it.
    */
  test("every StreamingQ entry and q_sql_script leave the caller's conf " +
       "as it was and plan their result at the caller's partition count") {
    // a caller whose conf no earlier test has touched, at a count no
    // replay sizes its state stores to
    val caller = spark.newSession()
    caller.conf.set("spark.sql.shuffle.partitions", "7")
    val before = caller.conf.getAll.toSet
    // conf entries the caller gained, lost or changed since `before`
    def written = { val now = caller.conf.getAll.toSet; (now diff before) ++ (before diff now) }
    val keys = StreamingQ.entries.toSeq.sortBy(_._1) :+
      ("q_sql_script" -> graft.queries.Insights.qSqlScript)
    keys.foreach { case (k, q) =>
      val df = q(caller, "/root/testdata/sf0.001")
      df.collect()
      assert(written.isEmpty, s"$k wrote the caller's conf")
      assert(df.sparkSession.conf.get("spark.sql.shuffle.partitions") == "7",
        s"$k's result plans at another shuffle-partition count than the caller's")
    }
  }
}
