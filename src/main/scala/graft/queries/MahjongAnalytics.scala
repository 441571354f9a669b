package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.classic.GraftShim
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.etl.Pipeline
import util.Q

/** The reference's *actual* analytics workload: the Athena queries a
  * mahjong-etl user runs over the 9-table star schema (SURVEY.md §2.3
  * preamble — win-rate by rule, yaku frequency, score progression,
  * action sequences, player rankings). The reference ships zero SQL
  * (README.md:2 delegates to Athena); these are those workloads
  * expressed over OUR parsed tables, so a reference user can port their
  * queries 1:1.
  *
  * Input: `tablesDir` = output of Pipeline.run / StreamingPipeline.
  * Exercised in MahjongAnalyticsSpec over the fixture games; at scale
  * these run over the dt-partitioned lake with the same code.
  *
  * Each of the six reports is built on its own clone of the caller's
  * session (`GraftShim.cloneSession`), reads the lake by its declared
  * schema (`Pipeline.readTable`) and runs in the mode the one rule,
  * `Pipeline.executionMode`, picks from the bytes it scans; the caller's
  * conf is never written. The returned DataFrame belongs to that clone:
  * conf the caller sets after the call does not apply to it, and a view
  * made with `createOrReplaceTempView` is registered on the clone, not
  * on the caller's session; `createOrReplaceGlobalTempView` is visible
  * to both.
  */
object MahjongAnalytics {

  private def t(spark: SparkSession, dir: String, name: String): DataFrame =
    Pipeline.readTable(spark, dir, name)

  /** One report call: `q` built on a clone, in the clone's sized mode. */
  private def report(spark: SparkSession)(q: SparkSession => DataFrame): DataFrame = {
    val s = GraftShim.cloneSession(spark)
    val df = q(s)
    Pipeline.executionMode(s, Pipeline.scanBytes(df), Pipeline.SmallLakeBytes)
    df
  }

  /** Win rate (agari share of kyokus) per rule flag — the "win-rate by
    * rule" pattern: games ⋈ rules ⋈ kyokus ⟕ agaris.
    * The result belongs to a private clone of `spark`: see the object doc.
    */
  def winRateByRule(spark: SparkSession, dir: String): DataFrame = report(spark) { s =>
    val kyokus = t(s, dir, "kyokus").select(col("id"), col("game_id"))
    val agaris = t(s, dir, "agaris").select(col("kyoku_id")).distinct()
    val rules = t(s, dir, "rules")
      .select(col("game_id"), col("is_sanma"), col("aka_type"), col("level"))
    kyokus
      .join(broadcast(rules), "game_id")
      .join(agaris, kyokus("id") === agaris("kyoku_id"), "left")
      .groupBy("is_sanma", "aka_type", "level")
      .agg(count(lit(1)).as("kyokus"),
           count(col("kyoku_id")).as("wins"),
           round(count(col("kyoku_id")) / count(lit(1)).cast("double"), 4)
             .as("win_rate"))
      .orderBy("is_sanma", "aka_type", "level")
  }

  /** Yaku frequency: explode agaris.yaku list<struct>.
    * The result belongs to a private clone of `spark`: see the object doc.
    */
  def yakuFrequency(spark: SparkSession, dir: String): DataFrame =
    report(spark) { s =>
      t(s, dir, "agaris")
        .select(explode(col("yaku")).as("y"))
        .groupBy(col("y.name").as("yaku"))
        .agg(count(lit(1)).as("times"), sum(col("y.han")).as("total_han"))
        .orderBy(col("times").desc, col("yaku"))
    }

  /** Score progression per game: running seat scores over ordered
    * kyokus via window + agari score diffs.
    * The result belongs to a private clone of `spark`: see the object doc.
    */
  def scoreProgression(spark: SparkSession, dir: String): DataFrame = report(spark) { s =>
    val k = t(s, dir, "kyokus")
    val diffs = t(s, dir, "agaris")
      .select(col("kyoku_id"), col("score_diff"))
      .unionByName(t(s, dir, "nagares").select(col("kyoku_id"), col("score_diff")))
    val w = Window.partitionBy("game_id").orderBy("id")
    k.join(diffs, k("id") === diffs("kyoku_id"), "left")
      .select(col("game_id"), col("id"),
              posexplode(coalesce(col("score_diff"),
                array(lit(0), lit(0), lit(0), lit(0)))))
      .withColumnRenamed("pos", "player_index")
      .withColumnRenamed("col", "diff")
      .withColumn("running_diff",
        sum(col("diff")).over(
          Window.partitionBy("game_id", "player_index").orderBy("id")))
      .orderBy("game_id", "id", "player_index")
  }

  /** Action sequences: per-kyoku ordered event stream with previous
    * action type (lag over seq — the reference's actions.seq ordering).
    * The result belongs to a private clone of `spark`: see the object doc.
    */
  def actionSequences(spark: SparkSession, dir: String): DataFrame = report(spark) { s =>
    val w = Window.partitionBy("kyoku_id").orderBy("seq")
    t(s, dir, "actions")
      .select(col("kyoku_id"), col("seq"), col("player_index"),
              col("type"), col("pais"),
              lag(col("type"), 1).over(w).as("prev_type"))
      .orderBy("kyoku_id", "seq")
  }

  /** Player ranking by end-of-game points (game_scores.point desc),
    * rank within each game plus cross-game leaderboard.
    * The result belongs to a private clone of `spark`: see the object doc.
    */
  def playerRanking(spark: SparkSession, dir: String): DataFrame = report(spark) { s =>
    val scores = t(s, dir, "game_scores")
    val players = t(s, dir, "game_players")
    val perGame = Window.partitionBy("game_id")
      .orderBy(col("point").desc, col("player_index").asc)
    scores
      .join(players, Seq("game_id", "player_index"))
      .withColumn("place", row_number().over(perGame))
      .groupBy("player_name")
      .agg(count(lit(1)).as("games"),
           sum(col("point")).as("total_points"),
           sum(when(col("place") === 1, 1L).otherwise(0L)).as("firsts"),
           round(avg(col("place")), 4).as("avg_place"))
      .orderBy(col("total_points").desc, col("player_name"))
  }

  /** Riichi success: riichi declarations (actions with the `*` marker)
    * joined to whether that player won the kyoku.
    * The result belongs to a private clone of `spark`: see the object doc.
    */
  def riichiOutcomes(spark: SparkSession, dir: String): DataFrame = report(spark) { s =>
    val riichis = t(s, dir, "actions")
      .where(col("type") === "sutehai" && col("pais").endsWith("*"))
      .select(col("kyoku_id"), col("player_index"))
    val wins = t(s, dir, "agaris")
      .select(col("kyoku_id"), col("who").as("player_index"), lit(1L).as("won"))
    riichis.join(wins, Seq("kyoku_id", "player_index"), "left")
      .groupBy("player_index")
      .agg(count(lit(1)).as("riichis"),
           sum(coalesce(col("won"), lit(0L))).as("riichi_wins"))
      .orderBy("player_index")
  }

  // ---------------------------------------------------------------
  // q_mahjong_* — the hash gates over the ETL's OWN output.
  // ---------------------------------------------------------------

  /** The shared fixture corpus (LogGen, fixed seed), written once per
    * data dir and consumed by BOTH the batch and the streaming seed.
    * The r17 corpus (tag `mjgate2`, new seed) spans the parser's
    * BRANCHY paths — ron/double-ron, chii/pon/kan/added-kan melds,
    * REACH `*` markers, DORA reveals, named abort types, sanma with
    * nuki-dora, URL-encoded names, yakuman, 0-han yaku entries — so
    * the cross-engine gate pins more than the happy path (see LogGen's
    * scaladoc for the reference line coverage).
    */
  private def corpusDir(d: String): String = {
    val logs = Relational.scratchDir("mjgate2_logs", d)
    Seeds.once("mjgate2_corpus", logs) {
      graft.etl.LogGen.main(Array(logs, "3", "30", "20260817"))
    }
    logs
  }

  /** Seed the corpus and run the FULL batch pipeline over it, once per
    * data dir. Returns the 9-table output dir. Before r16
    * the ETL output was contract- and referential-integrity-tested
    * (TablesContractSpec) but never cross-engine-hashed; the gate keys
    * below read the pipeline's parquet back and DuckDB reads the SAME
    * files.
    */
  private[graft] def etlTablesDir(spark: SparkSession, d: String): String = {
    val logs = corpusDir(d)
    val out = Scratch.path("mjgate2_tables", d)
    Seeds.once("mjgate2_etl", out)(graft.etl.Pipeline.run(spark, logs, out))
    out
  }

  /** The SAME corpus drained through the incremental path instead:
    * `StreamingPipeline.runAvailable` (Trigger.AvailableNow micro-batches
    * of the `mjlog` stream source, a checkpointed max-path watermark,
    * each batch appended by the batch ETL's write core with its ids
    * continuing each date's high-water mark) into its own table dirs —
    * seeded once per data dir like the batch run.
    * The checkpoint lives INSIDE the output dir (keyed like the table
    * dirs, so repeated runs reuse it and nothing leaks in /tmp).
    */
  private[graft] def etlStreamTablesDir(spark: SparkSession, d: String): String = {
    val logs = corpusDir(d)
    val out = Scratch.path("mjgate2_stream_tables", d)
    Seeds.once("mjgate2_stream", out) {
      graft.streaming.StreamingPipeline.runAvailable(
        spark, logs, out, s"$out/_checkpoint")
    }
    out
  }

  /** Yaku frequency over the pipeline's own `agaris` table — the
    * reference's list-of-struct `agaris.yaku` schema
    * (`scrape.py:91-101`) read back from the dt-partitioned lake the
    * ETL just wrote: explode the yaku list, count + total han per yaku
    * name. The DuckDB oracle UNNESTs the exact same parquet files, so
    * the gate pins parser semantics + encode + partitioned sink +
    * scan end-to-end, not just the query layer over driver testdata.
    * Over the r17 corpus the table spans normal yaku, dora/uradora/aka
    * counters AND yakuman rows (han contribution 0 in the struct).
    *
    * At 100 TB: the input is the lake itself (dt-partitioned, pruned
    * scan); explode + one combining aggregate on a bounded key domain
    * (the ~50-entry yaku table) — partials collapse map-side.
    */
  val qMahjongYakuFreq: Q = (s, d) => {
    val dir = etlTablesDir(s, d)
    t(s, dir, "agaris")
      .select(explode(col("yaku")).as("y"))
      .groupBy(col("y.name").as("yaku"))
      .agg(count(lit(1)).as("times"),
           sum(col("y.han")).as("total_han"))
      .orderBy(col("times").desc, col("yaku"))
  }

  val qMahjongYakuFreqSql: String =
    s"""SELECT y.name AS yaku, count(*) AS times,
       |  CAST(sum(y.han) AS BIGINT) AS total_han
       |FROM (SELECT UNNEST(yaku) AS y
       |      FROM '${Scratch.sqlPath("mjgate2_tables")}/agaris/*/*.parquet')
       |GROUP BY 1 ORDER BY times DESC, yaku""".stripMargin

  /** Win rate by rule over the pipeline's own output — the reference
    * user's first Athena query ([[winRateByRule]]) run as a GATE key:
    * kyokus ⋈ broadcast(rules) ⟕ distinct agari kyoku-ids, win share
    * per (is_sanma, aka_type, level). Counts are integers; the rate is
    * one round-4 quotient. DuckDB replays the same three parquet dirs.
    * The r17 corpus cycles 9 GO types, so the grouping spans ≥ 3 rule
    * groups (4p/sanma × aka × level).
    *
    * At 100 TB: rules is games-sized (broadcast), agaris collapses to
    * distinct kyoku_ids map-side, ONE exchange on game_id.
    */
  val qMahjongWinRate: Q = (s, d) => {
    val dir = etlTablesDir(s, d)
    val kyokus = t(s, dir, "kyokus").select(col("id"), col("game_id"))
    val agaris = t(s, dir, "agaris").select(col("kyoku_id")).distinct()
    val rules = t(s, dir, "rules")
      .select(col("game_id"), col("is_sanma"), col("aka_type"), col("level"))
    kyokus
      .join(broadcast(rules), "game_id")
      .join(agaris, kyokus("id") === agaris("kyoku_id"), "left")
      .groupBy("is_sanma", "aka_type", "level")
      .agg(count(lit(1)).as("kyokus"),
        count(col("kyoku_id")).as("wins"),
        round(count(col("kyoku_id")) / count(lit(1)).cast("double"), 4)
          .as("win_rate"))
      .orderBy("is_sanma", "aka_type", "level")
  }

  val qMahjongWinRateSql: String =
    s"""WITH a AS (
       |  SELECT DISTINCT kyoku_id
       |  FROM '${Scratch.sqlPath("mjgate2_tables")}/agaris/*/*.parquet'),
       |k AS (
       |  SELECT id, game_id
       |  FROM '${Scratch.sqlPath("mjgate2_tables")}/kyokus/*/*.parquet'),
       |r AS (
       |  SELECT game_id, is_sanma, aka_type, level
       |  FROM '${Scratch.sqlPath("mjgate2_tables")}/rules/*/*.parquet')
       |SELECT r.is_sanma, r.aka_type, r.level,
       |  count(*) AS kyokus,
       |  CAST(count(a.kyoku_id) AS BIGINT) AS wins,
       |  ROUND(CAST(count(a.kyoku_id) AS DOUBLE)
       |        / CAST(count(*) AS DOUBLE), 4) AS win_rate
       |FROM k JOIN r USING (game_id) LEFT JOIN a ON k.id = a.kyoku_id
       |GROUP BY 1, 2, 3 ORDER BY 1, 2, 3""".stripMargin

  /** Player leaderboard over the pipeline's own output — the
    * reference's "player rankings" workload as a gate key: end-of-game
    * points (exact DECIMAL(4,1) from the parser's owari handling)
    * summed per player, first-place counts from a per-game rank with a
    * (point desc, player_index) tie-break, average place as a round-4
    * integer quotient. Player names include URL-decoded UTF-8 and
    * sanma's empty n3 seat.
    *
    * At 100 TB: one per-game window (bounded 4-row frames) + one
    * combining aggregate keyed by player — the leaderboard exchange
    * carries |players| rows.
    */
  val qMahjongRanking: Q = (s, d) => {
    val dir = etlTablesDir(s, d)
    val scores = t(s, dir, "game_scores")
    val players = t(s, dir, "game_players")
    val perGame = Window.partitionBy("game_id")
      .orderBy(col("point").desc, col("player_index").asc)
    scores
      .join(players, Seq("game_id", "player_index"))
      .withColumn("place", row_number().over(perGame))
      .groupBy("player_name")
      .agg(count(lit(1)).as("games"),
        sum(col("point")).cast("double").as("total_points"),
        sum(when(col("place") === 1, 1L).otherwise(0L)).as("firsts"),
        round(sum(col("place")).cast("double") /
          count(lit(1)).cast("double"), 4).as("avg_place"))
      .orderBy(col("total_points").desc, col("player_name"))
  }

  val qMahjongRankingSql: String =
    s"""WITH sc AS (
       |  SELECT game_id, player_index, point
       |  FROM '${Scratch.sqlPath("mjgate2_tables")}/game_scores/*/*.parquet'),
       |pl AS (
       |  SELECT game_id, player_index, player_name
       |  FROM '${Scratch.sqlPath("mjgate2_tables")}/game_players/*/*.parquet'),
       |placed AS (
       |  SELECT pl.player_name, sc.point,
       |    row_number() OVER (PARTITION BY sc.game_id
       |                       ORDER BY sc.point DESC,
       |                                sc.player_index ASC) AS place
       |  FROM sc JOIN pl USING (game_id, player_index))
       |SELECT player_name, count(*) AS games,
       |  CAST(sum(point) AS DOUBLE) AS total_points,
       |  CAST(sum(CASE WHEN place = 1 THEN 1 ELSE 0 END) AS BIGINT)
       |    AS firsts,
       |  ROUND(CAST(sum(place) AS DOUBLE) / CAST(count(*) AS DOUBLE), 4)
       |    AS avg_place
       |FROM placed GROUP BY 1
       |ORDER BY total_points DESC, player_name""".stripMargin

  /** Seat advantage over the pipeline's own output — wins, exact mean
    * winning score (integer-sum quotient), and han/fu extrema per
    * winning seat. One combining aggregate over agaris; |seats| rows.
    * Over the r17 corpus tsumo_wins < wins (ron exists) and max_han
    * reaches yakuman territory (13 per yakuman id).
    */
  val qMahjongSeatStats: Q = (s, d) => {
    val dir = etlTablesDir(s, d)
    t(s, dir, "agaris")
      .groupBy(col("who").as("seat"))
      .agg(count(lit(1)).as("wins"),
        sum(col("score")).as("total_score"),
        round(sum(col("score")).cast("double") /
          count(lit(1)).cast("double"), 4).as("mean_score"),
        max(col("han")).as("max_han"),
        max(col("fu")).as("max_fu"),
        sum(when(col("who") === col("by"), 1L).otherwise(0L))
          .as("tsumo_wins"))
      .orderBy("seat")
  }

  val qMahjongSeatStatsSql: String =
    s"""SELECT who AS seat, count(*) AS wins,
       |  CAST(sum(score) AS BIGINT) AS total_score,
       |  ROUND(CAST(sum(score) AS DOUBLE) / CAST(count(*) AS DOUBLE), 4)
       |    AS mean_score,
       |  max(han) AS max_han, max(fu) AS max_fu,
       |  CAST(sum(CASE WHEN who = "by" THEN 1 ELSE 0 END) AS BIGINT)
       |    AS tsumo_wins
       |FROM '${Scratch.sqlPath("mjgate2_tables")}/agaris/*/*.parquet'
       |GROUP BY 1 ORDER BY 1""".stripMargin

  /** Action-stream mix over the pipeline's LARGEST output table — the
    * per-type action census (draw/discard/meld call volumes, distinct
    * kyokus touched, nonnull pai share). Counts only; one combining
    * aggregate over the firehose-shaped actions table. The r17 corpus
    * makes this a 5-type census: sutehai/tsumo/tsumo_k/tii/pon/kan.
    */
  val qMahjongActionMix: Q = (s, d) => {
    val dir = etlTablesDir(s, d)
    t(s, dir, "actions")
      .groupBy(col("type"))
      .agg(count(lit(1)).as("n"),
        countDistinct(col("kyoku_id")).as("n_kyokus"),
        count(col("pai_id")).as("n_with_pai"),
        min(col("seq")).as("min_seq"),
        max(col("seq")).as("max_seq"))
      .orderBy("type")
  }

  val qMahjongActionMixSql: String =
    s"""SELECT "type", count(*) AS n,
       |  CAST(count(DISTINCT kyoku_id) AS BIGINT) AS n_kyokus,
       |  CAST(count(pai_id) AS BIGINT) AS n_with_pai,
       |  min(seq) AS min_seq, max(seq) AS max_seq
       |FROM '${Scratch.sqlPath("mjgate2_tables")}/actions/*/*.parquet'
       |GROUP BY 1 ORDER BY 1""".stripMargin

  /** Riichi outcome rates over the pipeline's own output — the
    * [[riichiOutcomes]] workload as a GATE key: declarations are the
    * `sutehai` actions whose rendered pai carries the `*` marker (the
    * REACH step-1 semantics of scrape.py:474-475,599-603 composed with
    * the fixed discard-tile divergence, SURVEY §1.5.2), left-joined to
    * whether that player won the kyoku. Exercises marker parsing +
    * encode + sink + scan cross-engine end-to-end.
    *
    * At 100 TB: the riichi filter prunes the firehose map-side; the
    * join key (kyoku_id, player_index) is the natural co-partitioning;
    * one combining aggregate over 4 seats.
    */
  val qMahjongRiichiRate: Q = (s, d) => {
    val dir = etlTablesDir(s, d)
    val riichis = t(s, dir, "actions")
      .where(col("type") === "sutehai" && col("pais").endsWith("*"))
      .select(col("kyoku_id"), col("player_index"))
    val wins = t(s, dir, "agaris")
      .select(col("kyoku_id"), col("who").as("player_index")).distinct()
      .withColumn("won", lit(1L))
    riichis.join(wins, Seq("kyoku_id", "player_index"), "left")
      .groupBy("player_index")
      .agg(count(lit(1)).as("riichis"),
        sum(coalesce(col("won"), lit(0L))).as("riichi_wins"),
        round(sum(coalesce(col("won"), lit(0L))).cast("double") /
          count(lit(1)).cast("double"), 4).as("riichi_win_rate"))
      .orderBy("player_index")
  }

  val qMahjongRiichiRateSql: String =
    s"""WITH r AS (
       |  SELECT kyoku_id, player_index
       |  FROM '${Scratch.sqlPath("mjgate2_tables")}/actions/*/*.parquet'
       |  WHERE "type" = 'sutehai' AND pais LIKE '%*'),
       |w AS (
       |  SELECT DISTINCT kyoku_id, who AS player_index
       |  FROM '${Scratch.sqlPath("mjgate2_tables")}/agaris/*/*.parquet')
       |SELECT r.player_index, count(*) AS riichis,
       |  CAST(sum(CASE WHEN w.kyoku_id IS NOT NULL THEN 1 ELSE 0 END)
       |    AS BIGINT) AS riichi_wins,
       |  ROUND(CAST(sum(CASE WHEN w.kyoku_id IS NOT NULL THEN 1 ELSE 0 END)
       |    AS DOUBLE) / CAST(count(*) AS DOUBLE), 4) AS riichi_win_rate
       |FROM r LEFT JOIN w USING (kyoku_id, player_index)
       |GROUP BY 1 ORDER BY 1""".stripMargin

  // ---------------------------------------------------------------
  // Batch ≡ streaming parity — all 9 tables, content-digested.
  // ---------------------------------------------------------------

  /** Canonical per-row string for a table, chosen so Spark and DuckDB
    * render byte-identical strings from the same parquet bytes:
    * concat_ws('|') over every column EXCEPT the per-batch-rebased
    * surrogate ids (kyokus.id / child kyoku_id), with child rows
    * re-keyed by their kyoku's natural key (game_id, kyoku_num, honba)
    * via a within-tree join. Rendering rules (each verified
    * cross-engine): booleans → 'true'/'false', DECIMAL(4,1) keeps its
    * scale digits, DATE → ISO, int arrays → comma-join, the yaku
    * list<struct> → 'name:han' comma-join, nullable pai_id →
    * coalesce('-'). concat_ws skips NULLs identically in both engines.
    */
  private def aj(c: Column): Column =
    array_join(transform(c, e => e.cast("string")), ",")

  private def canonDf(s: SparkSession, root: String, tbl: String): DataFrame = {
    def rd(name: String) = t(s, root, name)
    val (df, canon): (DataFrame, Column) = tbl match {
      case "games" =>
        (rd("games"), concat_ws("|", col("id"), col("tonpu"), col("ariari"),
          col("sanma"), col("demo"), col("soku"), col("has_aka"),
          col("level"), col("started_at").cast("string")))
      case "rules" =>
        (rd("rules"), concat_ws("|", RuleCanonCols.map(col): _*))
      case "game_players" =>
        (rd("game_players"), concat_ws("|", col("game_id"),
          col("player_name"), col("player_index")))
      case "game_scores" =>
        (rd("game_scores"), concat_ws("|", col("game_id"),
          col("player_index"), col("score"), col("point").cast("string")))
      case "kyokus" =>
        (rd("kyokus"), concat_ws("|", col("game_id"), col("kyoku_num"),
          col("honba"), col("reachbou"), aj(col("scores")), aj(col("kazes"))))
      case child =>
        val k = rd("kyokus").select(col("id").as("kid"), col("game_id"),
          col("kyoku_num"), col("honba"))
        val c = rd(child)
        val joined = c.join(k, c("kyoku_id") === k("kid"))
        val key = concat_ws("|", col("game_id"), col("kyoku_num"), col("honba"))
        val body = child match {
          case "haipais" => concat_ws("|", col("player_index"),
            col("haipai"), aj(col("pai_ids")))
          case "actions" => concat_ws("|", col("player_index"), col("seq"),
            col("type"), col("pais"),
            coalesce(col("pai_id").cast("string"), lit("-")))
          case "agaris" => concat_ws("|", col("machipai"), col("score"),
            col("fu"), col("han"), col("tehai"), aj(col("pai_ids")),
            array_join(transform(col("yaku"), y =>
              concat_ws(":", y.getField("name"), y.getField("han"))), ","),
            aj(col("dora")), aj(col("uradora")),
            aj(col("dora_orig")), aj(col("uradora_orig")),
            col("who"), col("by"), aj(col("score_diff")),
            col("owari"), col("nukidora"))
          case "nagares" => concat_ws("|", col("name"), aj(col("score_diff")))
        }
        (joined, concat_ws("|", key, body))
    }
    df.select(col("dt").cast("string").as("dt"), canon.as("c"))
  }

  /** rules canonical column order (all fields, fixed). */
  private val RuleCanonCols = Seq("game_id",
    "enable_kuitan", "enable_atozuke", "enable_pao", "enable_tobi",
    "enable_wareme", "enable_kunaoshi", "enable_kuriage",
    "enable_agariyame", "enable_minus_riichi", "enable_ryanhan_shibari",
    "enable_keiten", "aka_type", "shanyu_score", "nannyu_score",
    "uradora_type", "furiten_riichi_type", "oyanagare_type",
    "double_ron_type", "kan_in_riichi_type", "initial_score",
    "is_demo", "is_soku", "is_sanma", "level")

  /** Per-(dt) count + order-independent digest pair: sums over rows of
    * two independent 32-bit md5 words (hex digits 1-8 and 21-28) —
    * order-independent by commutativity, exact in both engines (BIGINT
    * sums stay far under 2^53, so even a float64 round-trip in the
    * compare harness is lossless; a DECIMAL(38,0) sum of wider words
    * was lossy there), and a single-row content change flips it
    * (MahjongAnalyticsSpec `parity digest flips on a single perturbed
    * row`). At
    * lake scale the words would widen to a decimal sum past ~2^31 rows
    * per dt; the gate corpus pins semantics, not volume.
    */
  private def digestDf(s: SparkSession, root: String, tbl: String,
                       suffix: String): DataFrame = {
    val h = md5(col("c"))
    def word(start: Int): Column =
      conv(substring(h, start, 8), 16, 10).cast("long")
    canonDf(s, root, tbl)
      .groupBy("dt")
      .agg(count(lit(1)).as(s"n_$suffix"),
        sum(word(1)).as(s"digest_$suffix"),
        sum(word(21)).as(s"digest2_$suffix"))
  }

  /** The full parity frame over two table trees — exposed so the spec
    * can aim it at a deliberately perturbed copy and watch it flip.
    */
  private[graft] def parityFrame(s: SparkSession, batchRoot: String,
                                 streamRoot: String): DataFrame =
    graft.etl.Pipeline.TableNames.map { tbl =>
      // a digest frame is ≤ |dt| rows by construction — broadcast the
      // stream side so the per-table batch⋈stream reconcile never
      // exchanges+sorts on dt (4 of the 9 joins planned sort-merge
      // before; the other 5 already broadcast from size estimates)
      digestDf(s, batchRoot, tbl, "batch")
        .join(broadcast(digestDf(s, streamRoot, tbl, "stream")), "dt")
        .select(lit(tbl).as("tbl"), col("dt"),
          col("n_batch"), col("n_stream"),
          col("digest_batch"), col("digest_stream"),
          col("digest2_batch"), col("digest2_stream"))
    }.reduce(_.unionByName(_))
      .withColumn("parity",
        col("n_batch") === col("n_stream") &&
          col("digest_batch") === col("digest_stream") &&
          col("digest2_batch") === col("digest2_stream"))
      .orderBy("tbl", "dt")

  /** Batch ≡ streaming parity, hash-gated — the same fixture corpus
    * run through `Pipeline.run` AND drained through the checkpointed
    * `StreamingPipeline.runAvailable` micro-batch path (the `mjlog`
    * stream source feeding the batch ETL's write core in append mode,
    * where the batch run reads binaryFile and overwrites), then compared
    * per ingest date across ALL NINE tables: row counts plus an
    * order-independent md5-sum digest of each table's full row content
    * minus the re-based surrogate ids (ids are per-batch-rebased in
    * the streaming path, so content — not ids — is the parity
    * contract; child rows are re-keyed by their kyoku's natural key).
    * DuckDB recomputes every digest itself from both parquet trees
    * (hive_partitioning recovers dt), so the gate pins that the
    * incremental path writes byte-equivalent TABLE CONTENT — a
    * streaming bug that mangles one `actions.pais` value flips the
    * digest (MahjongAnalyticsSpec `parity digest flips on a single
    * perturbed row`).
    *
    * At 100 TB: this is the reconciliation query a lambda-architecture
    * deployment runs after a backfill — two dt-pruned scans per table,
    * combining aggregates (the md5-sum is a map-side-partial
    * aggregate), and a |dt|-row join; the kyoku natural-key join is
    * co-partitioned on the same key the tables cluster by.
    */
  val qMahjongStreamParity: Q = (s, d) => {
    val b = etlTablesDir(s, d)
    val st = etlStreamTablesDir(s, d)
    parityFrame(s, b, st)
  }

  /** DuckDB spelling of one tree's per-table digest subquery. */
  private def duckDigest(root: String, tbl: String, suffix: String): String = {
    def t(name: String) =
      s"read_parquet('$root/$name/*/*.parquet', hive_partitioning=true)"
    // DuckDB's array_to_string returns NULL (not '') on an EMPTY list,
    // and concat_ws would then skip the slot — coalesce to '' so empty
    // arrays render identically to Spark's array_join
    def ajS(c: String) = s"coalesce(array_to_string($c, ','), '')"
    val (from, canon): (String, String) = tbl match {
      case "games" => (t("games"),
        "concat_ws('|', id, tonpu, ariari, sanma, demo, soku, has_aka, " +
          "level, CAST(started_at AS VARCHAR))")
      case "rules" => (t("rules"),
        s"concat_ws('|', ${RuleCanonCols.mkString(", ")})")
      case "game_players" => (t("game_players"),
        "concat_ws('|', game_id, player_name, player_index)")
      case "game_scores" => (t("game_scores"),
        "concat_ws('|', game_id, player_index, score, CAST(point AS VARCHAR))")
      case "kyokus" => (t("kyokus"),
        s"concat_ws('|', game_id, kyoku_num, honba, reachbou, " +
          s"${ajS("scores")}, ${ajS("kazes")})")
      case child =>
        val joined = s"${t(child)} c JOIN (SELECT id AS kid, game_id, " +
          s"kyoku_num, honba FROM ${t("kyokus")}) k ON c.kyoku_id = k.kid"
        val body = child match {
          case "haipais" => s"player_index, haipai, ${ajS("pai_ids")}"
          case "actions" =>
            s"""player_index, seq, "type", pais, coalesce(CAST(pai_id AS VARCHAR), '-')"""
          case "agaris" =>
            s"machipai, score, fu, han, tehai, ${ajS("pai_ids")}, " +
              "coalesce(array_to_string(list_transform(yaku, y -> " +
              "concat_ws(':', y.name, y.han)), ','), ''), " +
              s"${ajS("dora")}, ${ajS("uradora")}, ${ajS("dora_orig")}, " +
              s"""${ajS("uradora_orig")}, who, "by", ${ajS("score_diff")}, """ +
              "owari, nukidora"
          case "nagares" => s"name, ${ajS("score_diff")}"
        }
        (joined, s"concat_ws('|', game_id, kyoku_num, honba, $body)")
    }
    s"""SELECT CAST(dt AS VARCHAR) AS dt, count(*) AS n_$suffix,
       |  CAST(sum(CAST(('0x' || substr(md5(c), 1, 8)) AS BIGINT))
       |    AS BIGINT) AS digest_$suffix,
       |  CAST(sum(CAST(('0x' || substr(md5(c), 21, 8)) AS BIGINT))
       |    AS BIGINT) AS digest2_$suffix
       |FROM (SELECT dt, $canon AS c FROM $from) GROUP BY 1""".stripMargin
  }

  val qMahjongStreamParitySql: String = {
    val b = Scratch.sqlPath("mjgate2_tables")
    val st = Scratch.sqlPath("mjgate2_stream_tables")
    val pieces = graft.etl.Pipeline.TableNames.map { tbl =>
      s"""SELECT '$tbl' AS tbl, dt, n_batch, n_stream,
         |  digest_batch, digest_stream, digest2_batch, digest2_stream,
         |  n_batch = n_stream AND digest_batch = digest_stream
         |    AND digest2_batch = digest2_stream AS parity
         |FROM (${duckDigest(b, tbl, "batch")}) b
         |JOIN (${duckDigest(st, tbl, "stream")}) s USING (dt)""".stripMargin
    }
    pieces.mkString("", "\nUNION ALL\n", "\nORDER BY tbl, dt")
  }

  val entries: Map[String, Q] = Map(
    "q_mahjong_yaku_freq"  -> qMahjongYakuFreq,
    "q_mahjong_win_rate"   -> qMahjongWinRate,
    "q_mahjong_ranking"    -> qMahjongRanking,
    "q_mahjong_seat_stats" -> qMahjongSeatStats,
    "q_mahjong_action_mix" -> qMahjongActionMix,
    "q_mahjong_riichi_rate" -> qMahjongRiichiRate,
    "q_mahjong_stream_parity" -> qMahjongStreamParity)

  val oracles: Map[String, String] = Map(
    "q_mahjong_yaku_freq"  -> qMahjongYakuFreqSql,
    "q_mahjong_win_rate"   -> qMahjongWinRateSql,
    "q_mahjong_ranking"    -> qMahjongRankingSql,
    "q_mahjong_seat_stats" -> qMahjongSeatStatsSql,
    "q_mahjong_action_mix" -> qMahjongActionMixSql,
    "q_mahjong_riichi_rate" -> qMahjongRiichiRateSql,
    "q_mahjong_stream_parity" -> qMahjongStreamParitySql)
}
