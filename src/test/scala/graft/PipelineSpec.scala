package graft

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.etl.Pipeline
import graft.queries.MahjongAnalytics
import graft.streaming.StreamingPipeline

/** End-to-end ETL test (SURVEY.md §5.2.5): fixture XML dir → full
  * pipeline → read back all 9 tables → schema, id-scheme and
  * referential-integrity checks.
  */
class PipelineSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark

  private lazy val outDir: String = {
    val logDir = getClass.getResource("/mjlog").getPath
    val out = Files.createTempDirectory("graft_etl_").toString
    Pipeline.run(spark, logDir, out)
    out
  }

  private def table(name: String) = spark.read.parquet(s"$outDir/$name")

  test("all 9 tables written with expected row counts") {
    assert(table("games").count() == 4)
    assert(table("rules").count() == 4)
    assert(table("game_players").count() == 15) // 4 + 4 + 3 + 4 (sanma n3="")
    assert(table("game_scores").count() == 12)  // 3 games ended
    assert(table("kyokus").count() == 6)
    assert(table("haipais").count() == 21)      // 4 + (4+4) + 3 + (3+3 sanma)
    assert(table("nagares").count() == 3)
    assert(table("agaris").count() == 3)
    assert(table("actions").count() > 10)
  }

  test("hive partitioning by dt") {
    assert(Files.exists(Paths.get(s"$outDir/games/dt=2024-01-01")))
    assert(Files.exists(Paths.get(s"$outDir/games/dt=2024-01-02")))
    assert(Files.exists(Paths.get(s"$outDir/games/dt=2024-01-03")))
    assert(table("games").select("dt").distinct().count() == 3)
  }

  test("kyoku ids follow days*100000 + seq per date, deterministically") {
    val ids = table("kyokus").where(col("dt") === "2024-01-01")
      .orderBy("id").select("id").collect().map(_.getLong(0))
    val days = java.time.LocalDate.of(2024, 1, 1).toEpochDay
    assert(ids.toSeq == Seq(days * 100000L, days * 100000L + 1,
                            days * 100000L + 2))
    // re-running yields identical ids (determinism under parallelism)
    val out2 = Files.createTempDirectory("graft_etl2_").toString
    Pipeline.run(spark, getClass.getResource("/mjlog").getPath, out2)
    val ids2 = spark.read.parquet(s"$out2/kyokus")
      .where(col("dt") === "2024-01-01")
      .orderBy("id").select("id").collect().map(_.getLong(0))
    assert(ids2.toSeq == ids.toSeq)
  }

  test("runV2 (mjlog DSv2 source) writes tables identical to the typed path") {
    val out2 = Files.createTempDirectory("graft_etl_v2_").toString
    Pipeline.runV2(spark, getClass.getResource("/mjlog").getPath, out2)
    for (t <- Pipeline.TableNames) {
      val a = spark.read.parquet(s"$outDir/$t")
      val b = spark.read.parquet(s"$out2/$t")
      assert(a.schema == b.schema, s"$t schema differs")
      assert(a.exceptAll(b).isEmpty && b.exceptAll(a).isEmpty,
        s"$t rows differ between typed and DSv2-sourced pipelines")
    }
  }

  test("referential integrity: children reference existing parents") {
    val kyokuIds = table("kyokus").select(col("id").as("kyoku_id"))
    for (child <- Seq("haipais", "actions", "agaris", "nagares")) {
      val orphans = table(child).join(kyokuIds, Seq("kyoku_id"), "left_anti")
      assert(orphans.count() == 0, s"orphan rows in $child")
    }
    val gameIds = table("games").select(col("id").as("game_id"))
    for (child <- Seq("rules", "game_players", "game_scores", "kyokus")) {
      val orphans = table(child).join(gameIds, Seq("game_id"), "left_anti")
      assert(orphans.count() == 0, s"orphan rows in $child")
    }
  }

  test("every kyoku ends in agari xor nagare") {
    val a = table("agaris").select(col("kyoku_id")).distinct()
    val n = table("nagares").select(col("kyoku_id")).distinct()
    assert(a.intersect(n).count() == 0)
    assert(a.count() + n.count() == table("kyokus").count())
  }

  test("agari nested yaku structure survives the round trip") {
    val row = table("agaris").where(col("owari") && col("who") === 0)
      .select(explode(col("yaku")).as("y")).select("y.name", "y.han")
      .orderBy("name").collect()
    assert(row.map(r => (r.getString(0), r.getInt(1))).toSeq ==
      Seq(("ドラ", 2), ("平和", 1), ("門前清自摸和", 1)))
  }

  test("corrupt xml files are skipped, not fatal") {
    val log = Files.createTempDirectory("graft_corrupt_")
    val day = log.resolve("20240105")
    Files.createDirectories(day)
    val good = Paths.get(getClass
      .getResource("/mjlog/20240101/2024010100gm-0001.xml").toURI)
    Files.copy(good, day.resolve("ok.xml"))
    Files.writeString(day.resolve("bad.xml"), "<mjloggm ver='2.3'><GO")
    val parsed = Pipeline.parseLogs(spark, log.toString)
    assert(parsed.count() == 1)
    assert(parsed.collect().head.game_id == "ok")
    // the incremental path skips and counts it too, on its own clone
    val skipped = graft.etl.ParseMetrics.skippedFiles(spark)
    val before = (skipped.value, spark.conf.getAll)
    val lake = Files.createTempDirectory("graft_corrupt_lake_").toString
    StreamingPipeline.runAvailable(spark, log.toString, lake,
      Files.createTempDirectory("graft_corrupt_ckpt_").toString)
    assert(Pipeline.readTable(spark, lake, "games").select("id")
      .collect().map(_.getString(0)).toSeq == Seq("ok"))
    assert(skipped.value - before._1 == 1)
    assert(spark.conf.getAll == before._2, "the drain wrote the caller's conf")
  }

  test("game_scores decimal points") {
    val pts = table("game_scores")
      .where(col("game_id") === "2024010100gm-0001")
      .orderBy("player_index").select("point").collect()
      .map(_.getDecimal(0).toPlainString)
    assert(pts.toSeq == Seq("32.7", "-16.3", "5.0", "-21.4"))
  }

  /** A log dir holding only the fixture day `yyyymmdd`. */
  private def dayLogs(yyyymmdd: String): String = {
    val src = Paths.get(getClass.getResource(s"/mjlog/$yyyymmdd").toURI)
    val root = Files.createTempDirectory("graft_day_")
    Files.createDirectories(root.resolve(yyyymmdd))
    Files.list(src).forEach(f => Files.copy(f, root.resolve(yyyymmdd).resolve(f.getFileName)))
    root.toString
  }

  test("concurrent runs for different days keep both days in all 9 tables, " +
       "and neither runs nor reports write the caller's conf") {
    // both days have rows in every table, nagares included
    val days = Seq("20240101", "20240103")
    val logs = days.map(dayLogs)
    val lake = Files.createTempDirectory("graft_etl_concurrent_").toString
    // a caller whose conf no earlier test has touched
    val caller = spark.newSession()
    val before = caller.conf.getAll.toSet
    // conf entries the caller gained, lost or changed since `before`
    def written = { val now = caller.conf.getAll.toSet; (now diff before) ++ (before diff now) }
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration.Duration
    import scala.concurrent.ExecutionContext.Implicits.global
    logs.map(l => Future(Pipeline.run(caller, l, lake)))
      .foreach(Await.result(_, Duration.Inf))
    assert(written.isEmpty, "after Pipeline.run")
    for (t <- Pipeline.TableNames) {
      val dts = Pipeline.readTable(spark, lake, t)
        .select(col("dt").cast("string")).distinct().collect().map(_.getString(0)).sorted
      assert(dts.toSeq == Seq("2024-01-01", "2024-01-03"), s"$t lost a day")
    }
    val reports = Seq[(org.apache.spark.sql.SparkSession, String) => org.apache.spark.sql.DataFrame](
      MahjongAnalytics.winRateByRule, MahjongAnalytics.yakuFrequency,
      MahjongAnalytics.scoreProgression, MahjongAnalytics.actionSequences,
      MahjongAnalytics.playerRanking, MahjongAnalytics.riichiOutcomes)
    reports.zipWithIndex.foreach { case (r, i) =>
      r(caller, lake).collect()
      assert(written.isEmpty, s"after report $i")
    }
  }

  test("a lake written by Pipeline.run keeps its file set (parts and their " +
       ".crc sidecars) and the default file and dir permissions") {
    import scala.jdk.CollectionConverters._
    import java.nio.file.attribute.PosixFilePermissions
    import org.apache.hadoop.fs.permission.FsPermission
    val umask = FsPermission.getUMask(spark.sparkContext.hadoopConfiguration)
    def posix(p: FsPermission) = PosixFilePermissions.fromString(p.toString)
    val filePerm = posix(FsPermission.getFileDefault.applyUMask(umask))
    val dirPerm = posix(FsPermission.getDirDefault.applyUMask(umask))
    for (t <- Pipeline.TableNames) {
      val root = Paths.get(outDir, t)
      val (dirs, files) = Files.walk(root).iterator().asScala.toSeq.partition(Files.isDirectory(_))
      // the table dir and its dt= dirs: no staging or _temporary dir left
      assert(dirs.tail.forall(d => root.relativize(d).toString.matches("dt=\\d{4}-\\d{2}-\\d{2}")), t)
      val names = files.map(root.relativize(_).toString).toSet
      val parts = names.filter(_.matches("dt=[^/]+/part-[^/]+\\.parquet"))
      val crcs = parts.map { p => val f = Paths.get(p); f.resolveSibling(s".${f.getFileName}.crc").toString }
      assert(parts.nonEmpty, t)
      // dynamic partition overwrite commits through a staging dir and
      // moves only the dt= dirs out of it, so no _SUCCESS marker lands
      assert(names == parts ++ crcs, t)
      dirs.foreach(d => assert(Files.getPosixFilePermissions(d) == dirPerm, d))
      files.foreach(f => assert(Files.getPosixFilePermissions(f) == filePerm, f))
    }
  }

  test("declared table schemas equal what Spark infers from batch and streaming lakes") {
    val stream = Files.createTempDirectory("graft_etl_stream_").toString
    StreamingPipeline.runAvailable(spark, getClass.getResource("/mjlog").getPath,
      stream, Files.createTempDirectory("graft_etl_ckpt_").toString)
    for (lake <- Seq(outDir, stream); t <- Pipeline.TableNames) {
      val inferred = spark.read.parquet(s"$lake/$t").schema
      assert(Pipeline.tableSchemas(spark)(t) == inferred, s"$lake/$t")
      assert(Pipeline.readTable(spark, lake, t).schema == inferred, s"$lake/$t")
    }
  }
}
