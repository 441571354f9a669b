package graft.etl

import java.nio.file.{Files, Path}

import scala.util.Random

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.classic.GraftShim

import graft.queries.{LlmOps, MahjongAnalytics}

/** Times calls in small mode (what [[Pipeline.executionMode]] sets below
  * its cut-off: interpreted, without AQE), in large mode (the session's
  * defaults: whole-stage codegen and AQE), and in the mode the rule
  * picks, over inputs that grow step by step (dev tool; the sweeps
  * behind [[Pipeline.SmallLakeBytes]]). Each step
  * warms up with one round of every mode, then runs each mode as a block
  * of `rounds` rounds of the calls in turn, as a daily cycle or a bench
  * loop runs them, and prints each call's input bytes and median time and
  * compiles per mode (the first round of a block, which pays for the
  * classes the previous mode evicted from the codegen cache, is dropped).
  *
  *  - Reports: each step appends one day of LogGen games with
  *    [[Pipeline.run]] to one lake, then times the six MahjongAnalytics
  *    reports over it.
  *  - `llm`: each step writes generated `documents` and `embeddings`
  *    tables of the given row count (shaped like the repo testdata), then
  *    times [[LlmKeys]]. Forced modes run the key's body on a clone set to
  *    the mode before the body runs, since several bodies run eager jobs.
  *
  * Usage: ReportModeProbe <workDir> <games per step, e.g. 1000,1000,2000> [rounds]
  *        ReportModeProbe llm <workDir> <rows per step, e.g. 500,2000,10000> [rounds]
  */
object ReportModeProbe {
  private val Reports = Seq[(String, (SparkSession, String) => DataFrame)](
    "winRateByRule" -> MahjongAnalytics.winRateByRule,
    "yakuFrequency" -> MahjongAnalytics.yakuFrequency,
    "scoreProgression" -> MahjongAnalytics.scoreProgression,
    "actionSequences" -> MahjongAnalytics.actionSequences,
    "playerRanking" -> MahjongAnalytics.playerRanking,
    "riichiOutcomes" -> MahjongAnalytics.riichiOutcomes)

  /** The benchmark's `llm_ops` keys plus the pairwise ones it leaves out. */
  private val LlmKeys: Seq[String] = Seq(
    "q_dedup_near_clusters", "q_dedup_jaccard", "q_dedup_exact", "q_dedup_simhash_stats",
    "q_sim_pq_codes", "q_sim_knn_join_ivf", "q_sim_batch_topk", "q_embed_mmr",
    "q_text_tfidf", "q_text_quality_gopher", "q_text_stats", "q_text_tokens",
    "q_sim_pairs", "q_sim_knn_join")

  private val Modes = Seq("small", "large", "rule")

  def main(args: Array[String]): Unit = {
    val llm = args.head == "llm"
    val rest = if (llm) args.tail else args
    val work = Files.createDirectories(java.nio.file.Paths.get(rest(0)))
    val steps = rest(1).split(",").map(_.toInt)
    val rounds = if (rest.length > 2) rest(2).toInt else 6
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    if (llm) steps.foreach { n =>
      val dir = work.resolve(s"llm-$n")
      writeLlmTables(spark, dir, n)
      println(s"[probe] documents + embeddings of $n rows each")
      val d = dir.toString
      measure(LlmKeys.map { k => k -> { (mode: String) =>
        if (mode == "rule") LlmOps.entries(k)(spark, d)
        else {
          val s = GraftShim.cloneSession(spark)
          force(s, mode)
          LlmOps.bodies(k)(s, d)
        }
      } }, rounds)(_ => LlmOps.tableBytes(spark, d))
    } else {
      val lake = work.resolve("lake").toString
      var games = 0
      steps.zipWithIndex.foreach { case (n, day) =>
        Pipeline.run(spark, writeDay(work.resolve("logs"), day, games, n), lake)
        games += n
        println(s"[probe] lake of $games games")
        measure(Reports.map { case (name, report) => name -> { (mode: String) =>
          val df = report(spark, lake)
          if (mode != "rule") force(df.sparkSession, mode)
          df
        } }, rounds)(name => Pipeline.scanBytes(Reports.toMap.apply(name)(spark, lake)))
      }
    }
    spark.stop()
  }

  /** Small mode is the rule's own small branch; large mode removes the
    * confs that branch sets, as the rule leaves them from its cut-off up.
    */
  private def force(s: SparkSession, mode: String): Unit =
    if (mode == "small") Pipeline.executionMode(s, inputBytes = 0, smallBelow = 1)
    else Pipeline.SmallModeConfs.foreach { case (k, _) => s.conf.unset(k) }

  /** One date dir of `n` LogGen games, numbered from `first`. */
  private def writeDay(root: Path, day: Int, first: Int, n: Int): String = {
    val date = java.time.LocalDate.of(2024, 1, 1).plusDays(day)
      .format(java.time.format.DateTimeFormatter.BASIC_ISO_DATE)
    val dir = Files.createDirectories(root.resolve(day.toString).resolve(date))
    val rng = new Random(day)
    for (g <- 0 until n)
      Files.writeString(dir.resolve(f"$date$g%05dgm.xml"), LogGen.genGame(rng, first + g))
    dir.getParent.toString
  }

  private val Words = Vector("spark", "window", "merge", "table", "column", "vector",
    "stream", "value", "data", "small", "join", "filter", "big", "group", "hash",
    "customer", "sort", "order", "slow", "line", "part", "fast", "row", "the", "agg",
    "key", "query", "a", "scan", "batch")
  private val Langs = Vector("en", "en", "en", "en", "en", "en", "en", "en",
    "zh", "zh", "zh", "es", "es", "es", "fr", "fr", "fr", "de", "de", "de")

  /** `<dir>/documents.parquet` and `<dir>/embeddings.parquet` of `n` rows
    * each, shaped like the repo testdata: documents of 10-100 random words,
    * 5% of them an earlier document plus " dup"; unit-norm 64-d Gaussian
    * embeddings with 10 labels.
    */
  private def writeLlmTables(spark: SparkSession, dir: Path, n: Int): Unit = {
    import spark.implicits._
    val rng = new Random(42L)
    val texts = new Array[String](n)
    val docs = (0 until n).map { i =>
      texts(i) =
        if (i > 0 && rng.nextDouble() < 0.05) texts(rng.nextInt(i)) + " dup"
        else Seq.fill(10 + rng.nextInt(91))(Words(rng.nextInt(Words.size))).mkString(" ")
      (i.toLong, texts(i), Langs(rng.nextInt(Langs.size)), s"src${i % 20}", texts(i).length.toLong)
    }
    val embs = (0 until n).map { i =>
      val v = Array.fill(64)(rng.nextGaussian())
      val norm = math.sqrt(v.map(x => x * x).sum)
      (i.toLong, v.map(x => (x / norm).toFloat), rng.nextInt(10))
    }
    docs.toDF("doc_id", "text", "lang", "source", "n_chars")
      .coalesce(1).write.parquet(dir.resolve("documents.parquet").toString)
    embs.toDF("vec_id", "embedding", "label")
      .coalesce(1).write.parquet(dir.resolve("embeddings.parquet").toString)
  }

  /** Runs `calls` in turn, one warm-up round per mode, then `rounds`
    * rounds per mode, each call fully materialized through a noop sink;
    * prints per call its input bytes (`size`) and per mode its median time
    * and compiles over rounds 1.., then each mode's sum of medians.
    */
  private def measure(calls: Seq[(String, String => DataFrame)], rounds: Int)
                     (size: String => BigInt): Unit = {
    val runs = scala.collection.mutable.Map.empty[(String, String), Vector[(Double, Long)]]
      .withDefaultValue(Vector.empty)
    for (mode <- Modes; (_, call) <- calls) call(mode).write.format("noop").mode("overwrite").save()
    for (mode <- Modes; round <- 0 until rounds; (name, call) <- calls) {
      val c0 = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
      val t0 = System.nanoTime()
      call(mode).write.format("noop").mode("overwrite").save()
      val ms = (System.nanoTime() - t0) / 1e6
      if (round > 0)
        runs((name, mode)) :+= ms -> (CodegenMetrics.METRIC_COMPILATION_TIME.getCount - c0)
    }
    def median(xs: Seq[Double]): Double = xs.sorted.apply(xs.size / 2)
    val totals = Modes.map { mode =>
      calls.map { case (name, _) => median(runs((name, mode)).map(_._1)) }.sum
    }
    calls.foreach { case (name, _) =>
      val cells = Modes.map { mode =>
        val r = runs((name, mode))
        f"$mode ${median(r.map(_._1))}%6.0f ms ${r.map(_._2).sum / r.size}%3d cmp"
      }
      println(f"[probe] $name%-22s in ${size(name).toDouble / (1 << 20)}%6.2f MiB  " +
        cells.mkString("  "))
    }
    println(Modes.zip(totals).map { case (m, t) => f"$m $t%.0f ms" }
      .mkString(s"[probe] all ${calls.size} calls: ", "  ", ""))
  }
}
