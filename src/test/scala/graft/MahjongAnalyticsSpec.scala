package graft

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.{AnalysisException, DataFrame, SparkSession}
import org.apache.spark.sql.classic.GraftShim
import org.apache.spark.sql.execution.WholeStageCodegenExec
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, AdaptiveSparkPlanHelper}
import org.scalatest.funsuite.AnyFunSuite

import graft.etl.Pipeline
import graft.queries.MahjongAnalytics

/** Domain analytics over the fixture ETL output — the Athena-workload
  * parity check.
  */
class MahjongAnalyticsSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark

  private lazy val dir: String = {
    val out = Files.createTempDirectory("graft_analytics_").toString
    Pipeline.run(spark, getClass.getResource("/mjlog").getPath, out)
    out
  }

  private val reports: Seq[(String, (SparkSession, String) => DataFrame)] = Seq(
    "winRateByRule" -> MahjongAnalytics.winRateByRule,
    "yakuFrequency" -> MahjongAnalytics.yakuFrequency,
    "scoreProgression" -> MahjongAnalytics.scoreProgression,
    "actionSequences" -> MahjongAnalytics.actionSequences,
    "playerRanking" -> MahjongAnalytics.playerRanking,
    "riichiOutcomes" -> MahjongAnalytics.riichiOutcomes)

  /** Whole-stage codegen stages in `df`'s final plan, after running it. */
  private def codegenStages(df: DataFrame): Int = {
    df.collect()
    new AdaptiveSparkPlanHelper {}.collectWithSubqueries(df.queryExecution.executedPlan) {
      case w: WholeStageCodegenExec => w
    }.size
  }

  /** AQE plans in `df`'s executed plan, subqueries included. */
  private def adaptivePlans(df: DataFrame): Int =
    df.queryExecution.executedPlan.collectWithSubqueries {
      case a: AdaptiveSparkPlanExec => a
    }.size

  /** A lake of one fixture game, which ends its only kyoku in an agari:
    * the nagares table dir holds no data files.
    */
  private lazy val noNagareLake: String = {
    val logs = Files.createTempDirectory("graft_no_nagare_")
    val day = Files.createDirectories(logs.resolve("20240101"))
    Files.copy(Paths.get(getClass.getResource(
      "/mjlog/20240101/2024010100gm-0001.xml").toURI), day.resolve("g.xml"))
    val lake = Files.createTempDirectory("graft_no_nagare_lake_").toString
    Pipeline.run(spark, logs.toString, lake)
    lake
  }

  test("win rate by rule flags") {
    val rows = MahjongAnalytics.winRateByRule(spark, dir).collect()
    // fixtures: 4p aka game (1 kyoku, 1 win), 4p no-aka (2 kyokus,
    // 0 wins), no-aka sanma (1 kyoku, 1 win), aka sanma (2 kyokus, 1 win)
    assert(rows.map(_.getAs[Long]("kyokus")).sum == 6)
    assert(rows.map(_.getAs[Long]("wins")).sum == 3)
    val sanma = rows.filter(_.getAs[Boolean]("is_sanma"))
      .map(_.getAs[Double]("win_rate")).sorted
    assert(sanma.toSeq == Seq(0.5, 1.0))
  }

  test("yaku frequency explodes the nested struct list") {
    val rows = MahjongAnalytics.yakuFrequency(spark, dir).collect()
      .map(r => r.getString(0) -> (r.getAs[Long]("times"), r.getAs[Long]("total_han")))
      .toMap
    assert(rows("ドラ") == (3L, 7L))      // 2 + 3 + 2 han
    assert(rows("立直") == (1L, 1L))
    assert(rows("天和") == (1L, 0L))      // yakuman rows carry han=0
  }

  test("score progression accumulates per player over kyokus") {
    val df = MahjongAnalytics.scoreProgression(spark, dir)
    assert(df.count() == 24) // 6 kyokus x 4 seats
    val g2 = df.where(df("game_id") === "2024010101gm-0002" &&
                      df("player_index") === 2)
      .orderBy("id").collect().map(_.getAs[Long]("running_diff"))
    assert(g2.toSeq == Seq(0L, 2000L)) // yao9 nothing, then +2000
  }

  test("action sequences carry ordered lag context") {
    val rows = MahjongAnalytics.actionSequences(spark, dir)
      .where(col("prev_type").isNotNull).collect()
    assert(rows.nonEmpty)
    val firsts = MahjongAnalytics.actionSequences(spark, dir)
      .where(col("seq") === 0).collect()
    assert(firsts.forall(r => r.isNullAt(r.fieldIndex("prev_type"))))
  }

  private def col(n: String) = org.apache.spark.sql.functions.col(n)

  test("player ranking aggregates places and points") {
    val rows = MahjongAnalytics.playerRanking(spark, dir).collect()
    // g1 contributes 4 named players, g3 (sanma) 3 — its 4th score row
    // has no matching player name; g2 never reached owari; g4 (sanma)
    // adds 3 named seats plus the kept-empty n3="" seat
    assert(rows.length == 11)
    val top = rows.head
    assert(top.getAs[String]("player_name") == "q") // +73.1 sanma winner
    assert(top.getAs[Long]("firsts") == 1L)
  }

  test("SQL over registered views — the Athena-user workflow") {
    MahjongCatalog.registerViews(spark, dir)
    val winRate = spark.sql(
      """SELECT r.is_sanma, COUNT(DISTINCT a.kyoku_id) AS wins,
        |       COUNT(DISTINCT k.id) AS kyokus
        |FROM kyokus k
        |JOIN rules r ON r.game_id = k.game_id
        |LEFT JOIN agaris a ON a.kyoku_id = k.id
        |GROUP BY r.is_sanma ORDER BY r.is_sanma""".stripMargin).collect()
    assert(winRate.map(_.getAs[Long]("kyokus")).sum == 6)
    // codec UDFs resolve in the same session
    val tiles = spark.sql(
      "SELECT graft_tiles(array(0, 16), true) AS t").first().getString(0)
    assert(tiles == "m10")
  }

  test("riichi outcomes join declarations to wins") {
    val rows = MahjongAnalytics.riichiOutcomes(spark, dir).collect()
    // the * marker follows the next discard after REACH step 1
    // (reference semantics): g1 -> seat 2's F41, g4 (sanma) -> seat 1's
    // E58; neither declarer won
    assert(rows.map(r => (r.getAs[Int]("player_index"),
                          r.getAs[Long]("riichis"),
                          r.getAs[Long]("riichi_wins"))).toSeq ==
      Seq((1, 1L, 0L), (2, 1L, 0L)))
  }

  test("mahjong gate keys are internally consistent with the seeded " +
       "pipeline output they read") {
    val sf = "/root/testdata/sf0.001"
    val tdir = MahjongAnalytics.etlTablesDir(spark, sf)
    val agaris = spark.read.parquet(s"$tdir/agaris").count()
    val seat = SparkEntry.queries("q_mahjong_seat_stats")(spark, sf).collect()
    assert(seat.map(_.getAs[Long]("wins")).sum == agaris)
    // the r17 corpus has ron wins, so tsumo is a strict subset
    assert(seat.map(_.getAs[Long]("tsumo_wins")).sum < agaris)
    val yaku = SparkEntry.queries("q_mahjong_yaku_freq")(spark, sf).collect()
    // the frequency table preserves the exploded yaku mass exactly and
    // spans the widened corpus's yaku space (≥ 10 names incl. yakuman)
    val yakuMass = spark.read.parquet(s"$tdir/agaris")
      .selectExpr("sum(size(yaku))").head().getLong(0)
    assert(yaku.map(_.getAs[Long]("times")).sum == yakuMass)
    assert(yaku.length >= 10)
    val rank = SparkEntry.queries("q_mahjong_ranking")(spark, sf).collect()
    val scores = spark.read.parquet(s"$tdir/game_scores").count()
    assert(rank.map(_.getAs[Long]("games")).sum == scores)
    // exactly one first place per game
    val games = spark.read.parquet(s"$tdir/games").count()
    assert(rank.map(_.getAs[Long]("firsts")).sum == games)
    val wr = SparkEntry.queries("q_mahjong_win_rate")(spark, sf).collect()
    val kyokus = spark.read.parquet(s"$tdir/kyokus").count()
    assert(wr.map(_.getAs[Long]("kyokus")).sum == kyokus)
    assert(wr.length >= 3) // ≥ 3 (is_sanma, aka_type, level) rule groups
    // riichi rate: declarations == `*`-marked discards; wins ⊆ riichis
    val rr = SparkEntry.queries("q_mahjong_riichi_rate")(spark, sf).collect()
    val markers = spark.read.parquet(s"$tdir/actions")
      .where(col("type") === "sutehai" && col("pais").endsWith("*")).count()
    assert(rr.map(_.getAs[Long]("riichis")).sum == markers && markers > 0)
    rr.foreach(r => assert(
      r.getAs[Long]("riichi_wins") <= r.getAs[Long]("riichis")))
  }

  test("q_mahjong_stream_parity: the checkpointed streaming drain of " +
       "the corpus content-digest-matches the batch run on all 9 " +
       "tables and every ingest date") {
    val sf = "/root/testdata/sf0.001"
    val rows = SparkEntry.queries("q_mahjong_stream_parity")(spark, sf)
      .collect()
    assert(rows.length == 27) // 9 tables x 3 corpus dates
    rows.foreach { r =>
      assert(r.getAs[Boolean]("parity"),
        s"batch/stream divergence on ${r.getString(0)}/${r.getString(1)}: $r")
    }
    assert(rows.filter(_.getString(0) == "games")
      .forall(_.getAs[Long]("n_batch") == 30))
  }

  test("parity digest flips on a single perturbed row (and only there)") {
    val sf = "/root/testdata/sf0.001"
    val batch = MahjongAnalytics.etlTablesDir(spark, sf)
    val stream = MahjongAnalytics.etlStreamTablesDir(spark, sf)
    // perturbed copy of the stream tree: symlink 8 tables, rewrite
    // `actions` with ONE pais value changed in one dt partition
    val root = Files.createTempDirectory("graft_parity_perturb_")
    graft.etl.Pipeline.TableNames.filterNot(_ == "actions").foreach { t =>
      Files.createSymbolicLink(root.resolve(t),
        java.nio.file.Paths.get(stream, t))
    }
    val acts = spark.read.parquet(s"$stream/actions")
    import org.apache.spark.sql.functions.{concat, date_format, lit, min, struct, when}
    val first = acts.select(min(struct(col("kyoku_id"), col("seq")))).head()
      .getStruct(0)
    val (k0, s0) = (first.getLong(0), first.getInt(1))
    val hitDt = acts.where(col("kyoku_id") === k0 && col("seq") === s0)
      .select(col("dt").cast("string")).head().getString(0)
    acts
      .withColumn("pais", when(col("kyoku_id") === k0 && col("seq") === s0,
        concat(col("pais"), lit("X"))).otherwise(col("pais")))
      .withColumn("dt", date_format(col("dt"), "yyyy-MM-dd"))
      .write.partitionBy("dt").parquet(root.resolve("actions").toString)
    val rows = MahjongAnalytics.parityFrame(spark, batch, root.toString)
      .collect()
    assert(rows.length == 27)
    rows.foreach { r =>
      val expected = !(r.getString(0) == "actions" && r.getString(1) == hitDt)
      assert(r.getAs[Boolean]("parity") == expected,
        s"perturbation detection wrong at ${r.getString(0)}/${r.getString(1)}: $r")
    }
  }

  test("every report runs over a lake whose nagares table has no files") {
    val lake = noNagareLake
    val nagares = Paths.get(lake, "nagares")
    assert(Files.isDirectory(nagares))
    assert(!Files.walk(nagares).anyMatch(_.toString.endsWith(".parquet")))
    // schema inference has nothing to read; the declared schema does not need it
    intercept[AnalysisException](spark.read.parquet(nagares.toString))
    assert(Pipeline.readTable(spark, lake, "nagares").count() == 0)
    reports.foreach { case (name, r) =>
      assert(r(spark, lake).collect().nonEmpty, name)
    }
    assert(MahjongAnalytics.scoreProgression(spark, lake).count() == 4)
  }

  test("registered views read a table dir with no files as an empty table") {
    val s = spark.newSession()
    MahjongCatalog.registerViews(s, noNagareLake)
    assert(s.sql("SELECT count(*) FROM nagares").head().getLong(0) == 0)
    assert(s.sql("SELECT count(*) FROM games").head().getLong(0) == 1)
  }

  test("each report returns the same schema and rows, in order, interpreted " +
       "as with codegen") {
    reports.foreach { case (name, r) =>
      val interpreted = r(spark, dir)
      // the same report on its own clone with every small-mode conf
      // removed before anything was planned: it plans as a session above
      // the cut-off does, with codegen and AQE
      val codegen = r(spark, dir)
      Pipeline.SmallModeConfs.foreach { case (k, _) => codegen.sparkSession.conf.unset(k) }
      assert(codegenStages(interpreted) == 0, name)
      assert(codegenStages(codegen) > 0, name)
      assert(adaptivePlans(interpreted) == 0, name)
      assert(adaptivePlans(codegen) > 0, name)
      assert(interpreted.schema == codegen.schema, name)
      assert(interpreted.collect().toSeq == codegen.collect().toSeq, name)
    }
  }

  test("the execution-mode rule keeps codegen from each cut-off up") {
    /** Codegen stages, AQE plans and the conf entries the rule wrote, for
      * an aggregate on a clone the rule sized at `bytes`.
      */
    def modeAt(bytes: BigInt, smallBelow: Long): (Int, Int, Map[String, String]) = {
      val s = GraftShim.cloneSession(spark)
      val before = s.conf.getAll
      Pipeline.executionMode(s, bytes, smallBelow)
      val df = Pipeline.readTable(s, dir, "game_scores").groupBy(col("player_index")).count()
      (codegenStages(df), adaptivePlans(df), s.conf.getAll.toSet.diff(before.toSet).toMap)
    }
    for (cut <- Seq(Pipeline.SmallLogBytes, Pipeline.SmallLakeBytes)) {
      val (codegenAt, aqeAt, writtenAt) = modeAt(cut, cut)
      assert(codegenAt > 0 && aqeAt > 0 && writtenAt.isEmpty, cut)
      val (codegenBelow, aqeBelow, writtenBelow) = modeAt(cut - 1, cut)
      assert(codegenBelow == 0 && aqeBelow == 0, cut)
      assert(writtenBelow.get("spark.sql.adaptive.enabled") == Some("false"), cut)
    }
    // the fixture lake is far below the reports' cut-off, so no report
    // runs AQE
    reports.foreach { case (name, r) =>
      val df = r(spark, dir)
      assert(Pipeline.scanBytes(df) < Pipeline.SmallLakeBytes, name)
      assert(df.sparkSession.conf.get("spark.sql.adaptive.enabled") == "false", name)
      assert(adaptivePlans(df) == 0, name)
    }
  }

  test("a report's result belongs to a private clone of the caller's session") {
    val caller = spark.newSession()
    val df = MahjongAnalytics.yakuFrequency(caller, dir)
    assert(df.sparkSession ne caller)
    assert(df.sparkSession.conf.get("spark.sql.codegen.wholeStage") == "false")
    assert(caller.conf.get("spark.sql.codegen.wholeStage") == "true")
    // a temp view lands on the clone; a global temp view reaches the caller
    df.createOrReplaceTempView("yaku_freq_private")
    assert(!caller.catalog.tableExists("yaku_freq_private"))
    df.createOrReplaceGlobalTempView("yaku_freq_shared")
    assert(caller.table("global_temp.yaku_freq_shared").collect().toSeq ==
      df.collect().toSeq)
    spark.catalog.dropGlobalTempView("yaku_freq_shared")
  }

  test("session clones share one executor class loader, so calls reuse " +
       "each other's compiled classes") {
    def taskLoader(s: SparkSession): Int = {
      import s.implicits._
      s.range(1).map(_ => System.identityHashCode(
        Thread.currentThread().getContextClassLoader)).head()
    }
    val caller = spark.newSession()
    val clones = Seq.fill(2)(GraftShim.cloneSession(caller))
    assert(taskLoader(clones(0)) == taskLoader(clones(1)))
    assert(caller.conf.get("spark.sql.artifact.isolation.enabled") == "true")
  }
}
