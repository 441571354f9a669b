package graft.etl

import java.nio.file.{Files, Path}

import scala.util.Random

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.queries.MahjongAnalytics

/** Times the six MahjongAnalytics reports interpreted, with whole-stage
  * codegen, and in the mode [[Pipeline.executionMode]] picks, over a lake
  * that grows step by step (dev tool; the sweep behind
  * [[Pipeline.SmallLakeBytes]]). Each step appends one day of LogGen
  * games with [[Pipeline.run]], then runs `rounds` rounds of the six
  * reports in turn per mode, as a daily cycle runs them, and prints
  * each report's scanned bytes and median time and compiles per mode
  * (round 0 is warm-up).
  *
  * Usage: ReportModeProbe <workDir> <games per step, e.g. 1000,1000,2000> [rounds]
  */
object ReportModeProbe {
  private val Reports = Seq[(String, (SparkSession, String) => DataFrame)](
    "winRateByRule" -> MahjongAnalytics.winRateByRule,
    "yakuFrequency" -> MahjongAnalytics.yakuFrequency,
    "scoreProgression" -> MahjongAnalytics.scoreProgression,
    "actionSequences" -> MahjongAnalytics.actionSequences,
    "playerRanking" -> MahjongAnalytics.playerRanking,
    "riichiOutcomes" -> MahjongAnalytics.riichiOutcomes)
  private val Modes = Seq("interpreted", "codegen", "rule")

  def main(args: Array[String]): Unit = {
    val work = Files.createDirectories(java.nio.file.Paths.get(args(0)))
    val steps = args(1).split(",").map(_.toInt)
    val rounds = if (args.length > 2) args(2).toInt else 6
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val lake = work.resolve("lake").toString
    var games = 0
    steps.zipWithIndex.foreach { case (n, day) =>
      Pipeline.run(spark, writeDay(work.resolve("logs"), day, games, n), lake)
      games += n
      println(s"[probe] lake of $games games")
      measure(spark, lake, rounds)
    }
    spark.stop()
  }

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

  private def measure(spark: SparkSession, lake: String, rounds: Int): Unit = {
    val runs = scala.collection.mutable.Map.empty[(String, String), Vector[(Double, Long)]]
      .withDefaultValue(Vector.empty)
    val scanned = scala.collection.mutable.Map.empty[String, BigInt]
    for (round <- 0 until rounds; mode <- Modes; (name, report) <- Reports) {
      val df = report(spark, lake)
      if (mode != "rule") {
        val interpreted = mode == "interpreted"
        df.sparkSession.conf.set("spark.sql.codegen.wholeStage", (!interpreted).toString)
        df.sparkSession.conf.set("spark.sql.codegen.factoryMode",
          if (interpreted) "NO_CODEGEN" else "FALLBACK")
      }
      val c0 = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
      val t0 = System.nanoTime()
      df.write.format("noop").mode("overwrite").save()
      val ms = (System.nanoTime() - t0) / 1e6
      scanned(name) = Pipeline.scanBytes(df)
      if (round > 0)
        runs((name, mode)) :+= ms -> (CodegenMetrics.METRIC_COMPILATION_TIME.getCount - c0)
    }
    def median(xs: Seq[Double]): Double = xs.sorted.apply(xs.size / 2)
    val totals = Modes.map { mode =>
      Reports.map { case (name, _) => median(runs((name, mode)).map(_._1)) }.sum
    }
    Reports.foreach { case (name, _) =>
      val cells = Modes.map { mode =>
        val r = runs((name, mode))
        f"$mode ${median(r.map(_._1))}%6.0f ms ${r.map(_._2).sum / r.size}%3d cmp"
      }
      println(f"[probe] $name%-16s scan ${scanned(name).toDouble / (1 << 20)}%6.2f MiB  " +
        cells.mkString("  "))
    }
    println(Modes.zip(totals).map { case (m, t) => f"$m $t%.0f ms" }
      .mkString("[probe] six reports: ", "  ", ""))
  }
}
