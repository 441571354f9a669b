package graft.etl

import java.nio.charset.StandardCharsets

import org.apache.spark.sql.{DataFrame, Dataset, SaveMode, SparkSession}
import org.apache.spark.sql.classic.GraftShim
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DecimalType, StructType}

import graft.model.ParsedGame
import graft.sources.MjlogTable

/** Distributed mjlog ETL (reference E6–E13, main.py:18-33 +
  * scrape.py:612-668), Spark-first:
  *
  *   binaryFile scan (`<dir>/<YYYYMMDD>/<game_id>.xml`)
  *     → per-file parse in executors (Dataset[ParsedGame])
  *     → deterministic kyoku-id assignment (one narrow shuffle)
  *     → 9 projections → partitioned parquet (`table/dt=YYYY-MM-DD/`)
  *
  * Scale design: parsing is embarrassingly parallel per file; the only
  * shuffle is the id window, partitioned by dt (days are independent —
  * at 100 TB each dt partition is its own window task set, and the
  * pathological single-day case is bounded by the reference's own
  * 100k-kyoku/day id space). The parsed Dataset is cached once and
  * projected 9 times — Spark's replacement for the reference's 9 global
  * row buffers (E9).
  */
object Pipeline {

  val TableNames: Seq[String] = Seq(
    "games", "rules", "game_players", "game_scores", "kyokus",
    "haipais", "actions", "agaris", "nagares")

  /** Raw file scan: (path, content) for every xml under
    * `<logDir>/<YYYYMMDD>/`. Split out so run() can read the listing's
    * size stats (already computed by the scan's FileIndex — no second
    * listing) before choosing execution knobs.
    */
  def rawLogs(spark: SparkSession, logDir: String): DataFrame =
    spark.read.format("binaryFile")
      .option("pathGlobFilter", "*.xml")
      .option("recursiveFileLookup", "true")
      .load(logDir)
      .select("path", "content")

  /** Read + parse every xml file under `<logDir>/<YYYYMMDD>/`. */
  def parseLogs(spark: SparkSession, logDir: String): Dataset[ParsedGame] =
    parseRaw(spark, rawLogs(spark, logDir))

  def parseRaw(spark: SparkSession, raw: DataFrame): Dataset[ParsedGame] = {
    import spark.implicits._
    // registered driver-side here, bumped in executors: skipped-file
    // counts surface in the UI instead of only in executor stderr
    val skipped = ParseMetrics.skippedFiles(spark)
    raw
      .as[(String, Array[Byte])]
      .flatMap { case (path, bytes) =>
        MjlogTable.parseName(path).flatMap { case (dt, gameId) =>
          // lenient per-file failure: at scale one corrupt log must not
          // kill the job — skip it and keep the task alive. (The
          // reference aborts the whole run on the first bad file.)
          try Some(MjlogParser.parse(new String(bytes, StandardCharsets.UTF_8),
                                     gameId, dt))
          catch {
            case e: Exception =>
              skipped.add(1L)
              LenientParse.warnSkip("graft-etl", path, e)
              None
          }
        }
      }
  }

  /** Deterministic kyoku ids: one shuffle, partitioned by dt. Split out so
    * runImpl can cache it — five tables derive from it. `idBase` maps a
    * `yyyy-MM-dd` date to the kyokus the lake already holds for it (an
    * appending run's per-date high-water mark, [[existingSeq]]); that
    * date's ids continue after them, so `kyokus` and its 4 child tables
    * all inherit the shift.
    */
  def kyokusBase(parsed: Dataset[ParsedGame],
                 idBase: Map[String, Long] = Map.empty): DataFrame = {
    val w = Window.partitionBy(col("dt")).orderBy(col("game_id"), col("k.idx"))
    val id = (datediff(col("dt"), to_date(lit("1970-01-01"))).cast("long") * 100000L) +
      row_number().over(w) - 1
    parsed.toDF()
      .select(col("game_id"), col("dt"), explode(col("kyokus")).as("k"))
      .withColumn("id",
        if (idBase.isEmpty) id
        else id + coalesce(element_at(typedLit(idBase), col("dt").cast("string")), lit(0L)))
  }

  /** The 9 normalized tables from a parsed game Dataset. Kyoku ids follow
    * the reference's `days_since_epoch*100000 + seq` scheme
    * (scrape.py:447) but with a deterministic order (game_id, INIT index)
    * instead of directory iteration order (SURVEY.md §7.4.1).
    */
  def tables(spark: SparkSession, parsed: Dataset[ParsedGame]): Map[String, DataFrame] =
    tables(parsed, kyokusBase(parsed))

  def tables(parsed: Dataset[ParsedGame], kyokusBase: DataFrame): Map[String, DataFrame] = {
    val games = parsed.toDF()
      .select(col("game_id").as("id"), col("tonpu"), col("ariari"),
              col("sanma"), col("demo"), col("soku"), col("has_aka"),
              col("level"), col("dt").as("started_at"), col("dt"))

    val rules = parsed.toDF()
      .where(col("rule").isNotNull)
      .select(col("game_id"), col("rule.*"), col("dt"))

    val gamePlayers = parsed.toDF()
      .select(col("game_id"), posexplode(col("players")), col("dt"))
      .select(col("game_id"), col("col").as("player_name"),
              col("pos").as("player_index"), col("dt"))

    val gameScores = parsed.toDF()
      .select(col("game_id"), explode(col("game_scores")).as("s"), col("dt"))
      .select(col("game_id"), col("s.player_index"), col("s.score"),
              col("s.point").cast(DecimalType(4, 1)).as("point"), col("dt"))

    val kyokus = kyokusBase.select(
      col("id"), col("game_id"), col("k.kyoku_num"), col("k.honba"),
      col("k.reachbou"), col("k.scores"), col("k.kazes"), col("dt"))

    def child(field: String, cols: Seq[String]): DataFrame =
      kyokusBase
        .select(col("id").as("kyoku_id"), explode(col(s"k.$field")).as("c"), col("dt"))
        .select(col("kyoku_id") +: cols.map(c => col(s"c.$c")) :+ col("dt"): _*)

    Map(
      "games" -> games,
      "rules" -> rules,
      "game_players" -> gamePlayers,
      "game_scores" -> gameScores,
      "kyokus" -> kyokus,
      "haipais" -> child("haipais", Seq("player_index", "haipai", "pai_ids")),
      "actions" -> child("actions", Seq("player_index", "seq", "type", "pais", "pai_id")),
      "agaris" -> child("agaris", Seq("machipai", "score", "fu", "han", "tehai",
        "pai_ids", "yaku", "dora", "uradora", "dora_orig", "uradora_orig",
        "who", "by", "score_diff", "owari", "nukidora")),
      "nagares" -> child("nagares", Seq("name", "score_diff"))
    )
  }

  /** The lake's schema per table, derived once from [[tables]] over an
    * empty parse, so writer and reader share one source: every column
    * nullable (file sources write them so) and `dt` the trailing DATE
    * partition column, exactly what a reader would infer.
    */
  def tableSchemas(spark: SparkSession): Map[String, StructType] = synchronized {
    if (declared == null) {
      import spark.implicits._
      declared = tables(spark, spark.emptyDataset[ParsedGame])
        .map { case (name, df) => name -> df.schema.toNullable }
    }
    declared
  }
  private var declared: Map[String, StructType] = _

  /** Reads one lake table by its declared schema: no footer
    * schema-inference job, and a table with no rows (no parquet files,
    * e.g. a day without nagares) reads as 0 rows instead of failing
    * with UNABLE_TO_INFER_SCHEMA.
    */
  def readTable(spark: SparkSession, dir: String, name: String): DataFrame =
    spark.read.schema(tableSchemas(spark)(name)).parquet(s"$dir/$name")

  /** Raw mjlog bytes below which [[run]] runs interpreted: over the
    * ETL's scan, window and 9 write plans, interpreted mode wins below
    * ~32 MB of logs (THROUGHPUT.md, item 8).
    */
  val SmallLogBytes: Long = 32L << 20

  /** Lake bytes a MahjongAnalytics report scans below which it runs in
    * small mode ([[SmallModeConfs]]: interpreted, without AQE). A parquet
    * lake holds about a third of the log bytes it came from, and the
    * reports turn over far sooner than the ETL: timed
    * as a daily cycle runs them ([[ReportModeProbe]], THROUGHPUT.md),
    * the window reports run faster with codegen from 0.3-0.5 MiB
    * scanned, the join and aggregate ones from 0.5-1.7 MiB. With one
    * cut-off at 1 MiB the six reports ran no slower than either fixed
    * mode over 1k-2k game lakes and within 13% of all-codegen up to 16k
    * games, where all-interpreted took 1.8x as long.
    *
    * The LlmOps entries use the same cut-off on their two tables'
    * on-disk bytes: over 14 keys cycled as a bench runs them,
    * interpreted won up to ~1 MiB (25-30% less time at 0.2-0.4 MiB), the
    * two modes tied at 1-1.5 MiB, and codegen won from 1.8 MiB (36% less
    * time at 3.6 MiB) ([[ReportModeProbe]] `llm`, THROUGHPUT.md).
    *
    * Both sweeps were re-run once small mode also turned AQE off, and
    * the crossover held: the six reports' small mode lost first at
    * 1.3 MiB (actionSequences), and the 14 LlmOps keys' small mode took
    * 25% less time at 0.73 MiB and 12% more at 1.81 MiB.
    */
  val SmallLakeBytes: Long = 1L << 20

  /** Bytes `df` scans: its leaf relations' size stats, which the reads'
    * FileIndex computed when it listed the files — no extra listing, no
    * job. A leaf without a size estimate counts as Spark's default
    * (huge) size, so it keeps codegen.
    */
  def scanBytes(df: DataFrame): BigInt =
    df.queryExecution.analyzed.collectLeaves().map(_.stats.sizeInBytes).sum

  /** What small mode sets, and why, one conf per line:
    *  - `wholeStage=false`: no whole-stage codegen, so no ~100-300 ms
    *    Janino compile per distinct plan;
    *  - `factoryMode=NO_CODEGEN`: expressions, projections and predicates
    *    are interpreted too, so nothing is compiled at all;
    *  - `adaptive.enabled=false`: a query runs as one job with its stages,
    *    not one job per shuffle stage with a re-optimization after each.
    */
  val SmallModeConfs: Seq[(String, String)] = Seq(
    "spark.sql.codegen.wholeStage" -> "false",
    "spark.sql.codegen.factoryMode" -> "NO_CODEGEN",
    "spark.sql.adaptive.enabled" -> "false")

  /** The one execution-mode rule. Whole-stage codegen costs ~100-300 ms
    * of Janino compilation per distinct plan, and Spark's codegen cache
    * holds 100 classes, so a cycle of calls over KB-to-MB inputs
    * recompiles on every pass and never earns the cost back; AQE submits
    * each shuffle stage as its own job and re-plans after it, a fixed
    * cost per stage that small inputs never earn back either. Below
    * `smallBelow` bytes of input the clone gets [[SmallModeConfs]]; at
    * real volume codegen pays for itself within one task and AQE's
    * runtime statistics pay for the re-plans, so the conf is left as the
    * caller set it. Its three callers:
    *  - [[run]], sized by the binaryFile scan, against [[SmallLogBytes]];
    *  - the six public MahjongAnalytics reports, sized by the lake bytes
    *    they scan ([[scanBytes]]), against [[SmallLakeBytes]];
    *  - every `LlmOps.entries` key, sized by the on-disk bytes of its
    *    two tables (`LlmOps.tableBytes`), against [[SmallLakeBytes]].
    * Sets the mode on `clone`, a session the entry point cloned for this
    * call — never the caller's.
    */
  def executionMode(clone: SparkSession, inputBytes: BigInt, smallBelow: Long): Unit =
    if (inputBytes < smallBelow) SmallModeConfs.foreach { case (k, v) => clone.conf.set(k, v) }

  /** Full ETL: logDir → 9 Hive-partitioned parquet table dirs
    * (`<outDir>/<table>/dt=YYYY-MM-DD/...`, reference layout E11), in
    * the mode [[executionMode]] picks from the binaryFile scan's size.
    */
  def run(spark: SparkSession, logDir: String, outDir: String): Unit = {
    val s = etlSession(spark)
    val raw = rawLogs(s, logDir)
    executionMode(s, scanBytes(raw), SmallLogBytes)
    runImpl(parseRaw(s, raw), outDir, SaveMode.Overwrite)
  }

  /** The same ETL sourced through the `mjlog` DataSource V2 instead of
    * the binaryFile scan + typed flatMap: one InputPartition per file,
    * identical downstream plan. Measured as its own THROUGHPUT row so
    * the V2 path is held to the typed path's wall time. Always runs
    * with codegen: the measured V2 corpora are all ≥ 32 MB.
    */
  def runV2(spark: SparkSession, logDir: String, outDir: String): Unit = {
    val s = etlSession(spark)
    import s.implicits._
    runImpl(s.read.format("mjlog").load(logDir).as[ParsedGame], outDir, SaveMode.Overwrite)
  }

  /** The clone of `spark` an ETL run executes on. Every conf below goes
    * on the clone, so the caller's conf is never written and concurrent
    * runs on one session cannot see each other's settings.
    */
  private[graft] def etlSession(spark: SparkSession): SparkSession = {
    val s = GraftShim.cloneSession(spark)
    // dynamic partition overwrite: re-running one date's logs replaces
    // only that date's dt= partitions — the idempotent per-date re-run
    // the reference gets by rewriting whole files (E13), without
    // touching unrelated days.
    s.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
    // mjlogs are KB-sized: the default 4 MB open-cost estimate would
    // fragment the scan into one task per handful of files. The floor
    // keeps small corpora parallel — with the 64k estimate alone, a
    // 14 MB / 2000-file corpus bin-packs into 1-2 scan tasks and the
    // parse serializes onto 1-2 of the 32 cores
    s.conf.set("spark.sql.files.openCostInBytes", (64 * 1024).toString)
    // pack granularity: minPartitionNum drives bytesPerCore in the
    // split policy (both the binaryFile scan and the mjlog DSv2 packer
    // honor it), so 2 packs per core leave more, smaller scan tasks to
    // absorb per-file parse-cost variance. A caller's
    // maxPartitionBytes reaches the run through the clone's copy of its
    // conf.
    s.conf.set("spark.sql.files.minPartitionNum",
      (s.sparkContext.defaultParallelism * 2).toString)
    // every read and write of the run, in tasks and on the calling
    // thread, uses the local FS that sets permissions without forking
    // `chmod`; the JVM's FS cache holds the stock instance, so this
    // clone builds its own per call
    s.conf.set("fs.file.impl", classOf[NioLocalFileSystem].getName)
    s.conf.set("fs.file.impl.disable.cache", "true")
    s
  }

  /** Existing per-date kyoku counts in the lake (high-water marks). */
  private def existingSeq(spark: SparkSession, outDir: String): Map[String, Long] =
    if (!new java.io.File(s"$outDir/kyokus").exists()) Map.empty
    else
      // the declared schema types dt as DATE and needs no inference job
      readTable(spark, outDir, "kyokus")
        .groupBy(col("dt").cast("string").as("dt"))
        .agg(count(lit(1)).as("n"))
        .collect().map(r => r.getString(0) -> r.getLong(1)).toMap

  /** The one place the 9 tables are written, on `source`'s session (an
    * [[etlSession]] clone, or the stream session Spark derives from
    * one). `SaveMode.Overwrite` replaces the dt partitions the input
    * covers (dynamic overwrite: the batch runs); `SaveMode.Append` adds
    * to them, each date's kyoku ids continuing after the ones already
    * written (a [[graft.streaming.StreamingPipeline]] micro-batch).
    */
  private[graft] def runImpl(source: Dataset[ParsedGame], outDir: String,
                             mode: SaveMode): Unit = {
    val idBase =
      if (mode == SaveMode.Append) existingSeq(source.sparkSession, outDir)
      else Map.empty[String, Long]
    // ONE dt-clustering shuffle for the whole pipeline: the id window
    // (partitionBy dt) reuses this partitioning instead of shuffling
    // again, and every projection stays narrow, so all 9 partitioned
    // writes inherit dt-clustered tasks (1 file per dt dir) with no
    // per-write repartition. At 100 TB: repartition(col("dt"),
    // col("game_id")) to spread a day over N tasks/files.
    val parsed = source.repartition(col("dt")).cache()
    // the window-ranked kyoku intermediate feeds 5 of the 9 tables —
    // cache it so the explode+window runs once, not five times
    val kb = kyokusBase(parsed, idBase).cache()
    try {
      // materialize both caches BEFORE forking the 9 writes: concurrent
      // jobs racing an unbuilt cache each recompute the partitions they
      // find missing (Spark dedups shuffle map stages across jobs, but
      // not cache-partition builds), so the scan+parse ran up to 10×.
      // Measured at 1.4 GB / 200k logs: the V2-sourced pipeline dropped
      // 157 s → ~55 s from these two counts; typed moved within noise.
      def phase[A](label: String)(f: => A): A = {
        val t0 = System.nanoTime()
        val r = f
        println(f"[etl] phase $label: ${(System.nanoTime() - t0) / 1e9}%.2f s")
        r
      }
      phase("parse+cache")(parsed.count())
      phase("kyoku ids+cache")(kb.count())
      val dts = tables(parsed, kb)
      // the 9 writes are independent jobs over cached inputs — submit
      // them concurrently so wall time is max(job), not sum(job)
      import scala.concurrent.{Await, Future}
      import scala.concurrent.duration.Duration
      import scala.concurrent.ExecutionContext.Implicits.global
      phase("9 table writes") {
        val jobs = TableNames.map { name =>
          Future {
            dts(name)
              .withColumn("dt", date_format(col("dt"), "yyyy-MM-dd"))
              // no repartition here: tasks are already dt-clustered by the
              // single upstream shuffle, so each dt= dir gets one file and
              // the commit protocol stays off the profile
              .write.mode(mode).partitionBy("dt")
              .parquet(s"$outDir/$name")
          }
        }
        jobs.foreach(Await.result(_, Duration.Inf))
      }
    } finally {
      parsed.unpersist()
      kb.unpersist()
    }
  }
}
