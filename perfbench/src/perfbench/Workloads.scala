package perfbench

import java.nio.file.{Files, Path}

import scala.util.Random

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.etl.{MjlogParser, Pipeline}
import graft.queries.{LlmOps, MahjongAnalytics}

/** One timed call into the program. */
final case class Op(kind: String, name: String, body: () => Unit)

/** What a run hands to its workload. */
final case class Ctx(spark: SparkSession, runDir: Path, seed: Long, seconds: Int,
                     expected: Map[String, (Long, String)])

/** A workload: inputs made from the seed, then passes of timed ops (the
  * first pass is the cold one), then output checks. `check` returns the
  * names of ops whose output was wrong, with the reason.
  */
trait Workload {
  /** Warm passes after the cold one, fixed from --seconds so that both
    * sides of a comparison do the same work.
    */
  def warmPasses(seconds: Int): Int
  def prepare(c: Ctx): Unit
  def ops(c: Ctx, pass: Int): Seq[Op]
  def check(c: Ctx): Seq[(String, String)]
  /** Facts and workload-specific figures printed beside the metrics. */
  def detail(c: Ctx, opSecs: Seq[(Int, Op, Double)]): Map[String, Any]
  /** Per-layer figures only this workload can give (traced run). */
  def layers(c: Ctx): Map[String, Double] = Map.empty
}

object Workloads {
  def apply(name: String): Workload = name match {
    case "mj_daily" => new Daily
    case "llm_ops" => new LlmKeys
    case other => throw new IllegalArgumentException(s"unknown workload '$other'")
  }

  /** The LlmOps keys of `llm_ops`: dedup, similarity and text operators,
    * including the near-dup chain memo and the PQ-codes seed, which make a
    * cold pass differ from a warm one.
    */
  val LlmSubset: Set[String] = Set(
    "q_dedup_near_clusters", "q_dedup_jaccard", "q_dedup_exact", "q_dedup_simhash_stats",
    "q_sim_pq_codes", "q_sim_knn_join_ivf", "q_sim_batch_topk", "q_embed_mmr",
    "q_text_tfidf", "q_text_quality_gopher", "q_text_stats", "q_text_tokens")

  /** max(min, floor((seconds - cold) / warm)) for nominal pass times. */
  def passesFor(seconds: Int, coldS: Double, warmS: Double, min: Int): Int =
    math.max(min, math.floor((seconds - coldS) / warmS).toInt)

  /** First steady pass: the first half of the warm passes is the JIT
    * ramp (each runs faster than the one before), the second half is
    * measured as warm. Pass 0 is the cold pass.
    */
  def steadyFrom(passes: Int): Int = passes - passes / 2

  def noop(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()

  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) Double.NaN
    else if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  /** The highest order statistic with at least ten samples above it, but
    * never below the median; with its percentile and sample count.
    */
  def tail(xs: Seq[Double]): (Double, Double, Int) = {
    val s = xs.sorted
    if (s.isEmpty) (Double.NaN, 0.0, 0)
    else {
      val k = math.max(s.size - 11, (s.size - 1) / 2)
      (s(k), 100.0 * (k + 1) / s.size, s.size)
    }
  }

  /** An ETL call with graft.etl.EtlMain's engine choice, made before the
    * timed call as EtlMain makes it before its session starts: the DSv2
    * `mjlog` source at or above 32 MiB of logs, the typed path below.
    */
  def ingest(spark: SparkSession, logs: Path, lake: Path): Op =
    if (Check.footprint(logs)._2 >= (32L << 20))
      Op("ingest", "Pipeline.runV2", () => Pipeline.runV2(spark, logs.toString, lake.toString))
    else Op("ingest", "Pipeline.run", () => Pipeline.run(spark, logs.toString, lake.toString))

  /** Rows per table that the ETL must produce from these logs, counted
    * from a single-threaded driver-side parse; with the games parsed and
    * the parse seconds (the traced run's parser layer).
    */
  def parsedRows(logs: Path): (Map[String, Long], Int, Double) = {
    import scala.jdk.CollectionConverters._
    val files = {
      val s = Files.walk(logs)
      try s.iterator().asScala.filter(_.toString.endsWith(".xml")).toVector.sortBy(_.toString)
      finally s.close()
    }
    val texts = files.map(f => (f, new String(Files.readAllBytes(f), "UTF-8")))
    val t0 = System.nanoTime()
    val games = texts.map { case (f, x) =>
      val date = java.time.LocalDate.parse(f.getParent.getFileName.toString,
        java.time.format.DateTimeFormatter.BASIC_ISO_DATE)
      MjlogParser.parse(x, f.getFileName.toString.stripSuffix(".xml"), date)
    }
    val sec = (System.nanoTime() - t0) / 1e9
    val ks = games.flatMap(_.kyokus)
    val rows = Map(
      "games" -> games.size.toLong,
      "rules" -> games.count(_.rule.isDefined).toLong,
      "game_players" -> games.map(_.players.size.toLong).sum,
      "game_scores" -> games.map(_.game_scores.size.toLong).sum,
      "kyokus" -> ks.size.toLong,
      "haipais" -> ks.map(_.haipais.size.toLong).sum,
      "actions" -> ks.map(_.actions.size.toLong).sum,
      "agaris" -> ks.map(_.agaris.size.toLong).sum,
      "nagares" -> ks.map(_.nagares.size.toLong).sum)
    (rows, games.size, sec)
  }

  def compareLakes(want: Map[String, (Long, String)], got: Map[String, (Long, String)],
                   what: String): Seq[String] =
    Pipeline.TableNames.flatMap { t =>
      if (want(t) == got(t)) None else Some(s"$what $t: ${got(t)} != ${want(t)}")
    }

}

import Workloads._

/** Daily appends: each pass ingests one day's logs into one growing lake,
  * then runs the six public MahjongAnalytics reports over it.
  */
final class Daily extends Workload {
  val PerDay = 200
  private var days = 0
  private var logBytes = 0L
  private var rows: (Map[String, Long], Int, Double) = _
  def dayLogs(c: Ctx, d: Int): Path = c.runDir.resolve("days").resolve(d.toString)
  def lake(c: Ctx): Path = c.runDir.resolve("lake")

  val Reports: Seq[(String, (SparkSession, String) => DataFrame)] = Seq(
    "winRateByRule" -> MahjongAnalytics.winRateByRule,
    "yakuFrequency" -> MahjongAnalytics.yakuFrequency,
    "scoreProgression" -> MahjongAnalytics.scoreProgression,
    "actionSequences" -> MahjongAnalytics.actionSequences,
    "playerRanking" -> MahjongAnalytics.playerRanking,
    "riichiOutcomes" -> MahjongAnalytics.riichiOutcomes)

  def warmPasses(seconds: Int): Int = passesFor(seconds, 9.0, 5.2, 2)
  def prepare(c: Ctx): Unit = {
    days = 1 + warmPasses(c.seconds)
    val rng = new Random(c.seed)
    logBytes = (0 until days).map(d => Inputs.mjlogs(dayLogs(c, d), rng, d, 1, PerDay)._2).sum
  }
  def ops(c: Ctx, pass: Int): Seq[Op] =
    ingest(c.spark, dayLogs(c, pass), lake(c)) +:
      Reports.map { case (n, f) => Op("report", s"MahjongAnalytics.$n",
        () => noop(f(c.spark, lake(c).toString))) }

  def check(c: Ctx): Seq[(String, String)] = {
    val all = c.runDir.resolve("days")
    rows = parsedRows(all)
    val bulk = c.runDir.resolve("lake-bulk")
    ingest(c.spark, all, bulk).body()
    val got = Check.lake(c.spark, lake(c))
    val bad = compareLakes(Check.lake(c.spark, bulk), got, "daily lake vs bulk ingest") ++
      Pipeline.TableNames.filter(t => got(t)._1 != rows._1(t))
        .map(t => s"daily lake $t rows ${got(t)._1} != parsed ${rows._1(t)}")
    // a wrong lake fails every ingest that built it
    bad.flatMap(m => (0 until days).map(d => (s"${ingest(c.spark, dayLogs(c, d), lake(c)).name}@$d", m)))
  }

  def detail(c: Ctx, opSecs: Seq[(Int, Op, Double)]): Map[String, Any] = {
    val warm = opSecs.filter(_._1 >= steadyFrom(opSecs.map(_._1).max + 1))
    val rep = warm.filter(_._2.kind == "report").map(_._3)
    val (rt, rtPct, rtN) = tail(rep)
    Map("engine" -> ingest(c.spark, dayLogs(c, 0), lake(c)).name, "days" -> days, "games_per_day" -> PerDay,
        "log_bytes" -> logBytes,
        "day_ingest_p50_s" -> median(warm.filter(_._2.kind == "ingest").map(_._3)),
        "report_p50_s" -> median(rep),
        "report_tail_s" -> Map("value" -> rt, "percentile" -> rtPct, "samples" -> rtN),
        "lake_bytes_per_log_byte" -> Check.footprint(lake(c))._2.toDouble / logBytes)
  }

  override def layers(c: Ctx): Map[String, Double] = {
    val (files, bytes) = Check.footprint(lake(c))
    Map("parser.games_per_s" -> rows._2 / rows._3, "parser.events" -> rows._1.values.sum.toDouble,
        "lake.files" -> files.toDouble, "lake.bytes" -> bytes.toDouble)
  }
}

/** The [[Workloads.LlmSubset]] keys of LlmOps over generated
  * testdata-shaped tables, each fully materialized through a noop sink,
  * in an order drawn from the seed for every pass. Outputs are checked
  * against the row counts and digests in perfbench/expected.tsv; keys
  * without a DuckDB oracle are checked by row count only, as the oracle
  * harness does.
  */
final class LlmKeys extends Workload {
  private val entries = LlmOps.entries.filter { case (k, _) => LlmSubset(k) }
  private var rng: Random = _
  def data(c: Ctx): String = c.runDir.resolve("data").toString

  def warmPasses(seconds: Int): Int = passesFor(seconds, 13.0, 5.5, 1)
  def prepare(c: Ctx): Unit = {
    Inputs.tables(c.spark, c.runDir.resolve("data"))
    rng = new Random(c.seed)
  }
  def ops(c: Ctx, pass: Int): Seq[Op] =
    rng.shuffle(entries.keys.toVector.sorted).map { k =>
      Op("key", k, () => noop(entries(k)(c.spark, data(c))))
    }

  /** Observed (rows, digest) per key; digest only for oracled keys. */
  def observe(c: Ctx): Map[String, (Long, String)] =
    entries.keys.toVector.sorted.map { k =>
      val (n, d) = Check.digest(entries(k)(c.spark, data(c)))
      k -> (n, if (LlmOps.oracles.contains(k)) d else "")
    }.toMap

  def check(c: Ctx): Seq[(String, String)] =
    observe(c).toSeq.sortBy(_._1).flatMap { case (k, v) =>
      c.expected.get(k) match {
        case None => Some(k -> "no recorded value")
        case Some(w) if w != v => Some(k -> s"$v != recorded $w")
        case _ => None
      }
    }

  def detail(c: Ctx, opSecs: Seq[(Int, Op, Double)]): Map[String, Any] =
    Map("keys" -> entries.keys.toVector.sorted)
}
