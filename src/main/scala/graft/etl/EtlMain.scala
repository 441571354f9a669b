package graft.etl

import graft.{GraftSession, Tables}
import graft.queries.Scratch

/** CLI for the mjlog ETL (reference main.py): parse a log directory tree
  * (`<logDir>/<YYYYMMDD>/<game_id>.xml`) into 9 Hive-partitioned parquet
  * tables under outDir. Usage: EtlMain <logDir> <outDir> [walls]
  * — optional third arg also generates `walls` synthetic paiyamas
  * (reference random_pailist.py) for the first date found.
  */
object EtlMain {
  /** Total bytes under the log dir — one metadata walk (~1-2 s for a
    * 200k-file corpus, cheap next to the pipeline's own listing).
    */
  private def corpusBytes(logDir: String): Long = {
    val s = java.nio.file.Files.walk(java.nio.file.Paths.get(logDir))
    try s.filter(java.nio.file.Files.isRegularFile(_))
      .mapToLong(java.nio.file.Files.size(_)).sum()
    finally s.close()
  }

  def main(rawArgs: Array[String]): Unit = {
    // Engine AUTO-SELECT by corpus size (THROUGHPUT.md decision rule,
    // round 14): below 32 MB the fixed source machinery dominates and
    // the typed binaryFile path holds the measured minima (the ETL's
    // interpreted-mode cut-off in Pipeline.executionMode happens to sit
    // at the same size, but is its own measurement); at or above it the
    // DSv2 path wins the adjacent-pair majorities at 10k/50k games,
    // holds the 200k floor (63.0 s vs 78.7 s, r14), and wins every
    // phase-isolated scan+parse probe ~2x. --typed / --v2 force a path.
    val args = rawArgs.filterNot(_.startsWith("--"))
    require(args.length >= 2, "usage: EtlMain [--typed|--v2] <logDir> <outDir> [nWalls]")
    val unknown = rawArgs.filter(a =>
      a.startsWith("--") && a != "--typed" && a != "--v2")
    require(unknown.isEmpty,
      s"unknown flag(s) ${unknown.mkString(", ")}; " +
        "usage: EtlMain [--typed|--v2] <logDir> <outDir> [nWalls]")
    val forced = rawArgs.contains("--typed") || rawArgs.contains("--v2")
    val useV2 =
      if (rawArgs.contains("--typed")) false
      else if (rawArgs.contains("--v2")) true
      else {
        // the size probe walks the local filesystem before Spark starts;
        // fail with a usage-style message instead of a raw NIO exception
        // when the dir is missing (a non-local URI should force a path)
        require(java.nio.file.Files.isDirectory(java.nio.file.Paths.get(args(0))),
          s"logDir '${args(0)}' is not a readable local directory — " +
            "pass --typed or --v2 to skip the size-based auto-select")
        corpusBytes(args(0)) >= (32L << 20)
      }
    println(s"[etl] engine: ${if (useV2) "mjlog v2" else "typed"}" +
      (if (forced) " (forced)" else " (auto)"))
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = GraftSession.local(cpus).appName("graft-etl").getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val warm = java.nio.file.Files.createTempDirectory("graft_warm_")
    try {
      // Warm the JVM paths the pipeline will hit (first-job executor
      // launch, whole-stage codegen bootstrap, parquet writer + commit
      // protocol): ~3 s of one-time session cost that would otherwise
      // land inside the measured wall. Symmetric with the reference
      // measurement, which excludes CPython interpreter startup
      // (THROUGHPUT.md "Method").
      spark.range(64).selectExpr("id", "id % 4 AS dt")
        .write.mode("overwrite").partitionBy("dt").parquet(warm.toString)
      Tables.parquet(spark, warm.toString).count()
      val t0 = System.nanoTime()
      if (useV2) Pipeline.runV2(spark, args(0), args(1))
      else Pipeline.run(spark, args(0), args(1))
      println(f"[etl] pipeline wall: ${(System.nanoTime() - t0) / 1e9}%.2f s")
      Pipeline.TableNames.foreach { t =>
        val n = Pipeline.readTable(spark, args(1), t).count()
        println(s"[etl] $t: $n rows")
      }
      if (args.length > 2) {
        val n = args(2).toLong
        WallGen.write(spark, n, java.time.LocalDate.now(java.time.Clock.systemUTC()), args(1))
        println(s"[etl] paiyamas: $n walls")
      }
    } finally {
      spark.stop()
      Scratch.rmTree(warm)
    }
  }
}
