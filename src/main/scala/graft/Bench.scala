package graft
import java.nio.file.{Files, Paths}
object Bench {
  /** 1-minute load average, read at suite start and end so the JSON
    * itself records whether the box was quiet — the r15 bench ran on a
    * busy VM and inflated every key ~13%, making round-over-round
    * comparison ambiguous until re-measured.
    */
  private def load1: Double =
    try Files.readString(Paths.get("/proc/loadavg")).split(" ")(0).toDouble
    catch { case _: Throwable => -1.0 }

  def main(args: Array[String]): Unit = {
    val loadStart = load1
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = GraftSession.local(cpus).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    // warm the JVM/codegen/parquet-reader paths once so initialization
    // cost doesn't land on whichever query happens to run first; the
    // warmup is timed separately and reported as warmup_sec so
    // cross-round streaming deltas aren't confounded by one-time init
    val warm0 = System.nanoTime()
    try {
      spark.range(1000).selectExpr("sum(id)").collect()
      Tables.region(spark, sfDir).count()
    } catch { case _: Throwable => }
    // ...and the streaming machinery (incremental planner, state store,
    // checkpoint log) — otherwise whichever MemoryStream semantics
    // check runs first absorbs ~2 s of one-time init
    try {
      import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
      import org.apache.spark.sql.streaming.OutputMode
      import spark.implicits._
      implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
      import org.apache.spark.sql.functions.{col, count, lit, window}
      val ms = MemoryStream[java.sql.Timestamp]
      val ckpt = java.nio.file.Files.createTempDirectory("graft_benchwarm_")
      // mirror the semantics checks' plan shape (watermark + windowed
      // agg + append) so their codegen is already cached when timed
      val q = ms.toDF().withColumnRenamed("value", "ts")
        .withWatermark("ts", "10 minutes")
        .groupBy(window(col("ts"), "1 hour")).agg(count(lit(1)))
        .writeStream.format("memory").queryName("graft_bench_warm")
        .option("checkpointLocation", ckpt.toString)
        .outputMode(OutputMode.Append).start()
      ms.addData(java.sql.Timestamp.valueOf("2024-01-01 00:00:00"))
      q.processAllAvailable()
      ms.addData(java.sql.Timestamp.valueOf("2024-01-01 12:00:00"))
      q.processAllAvailable()
      q.stop()
    } catch { case _: Throwable => }
    val warmupSec = (System.nanoTime() - warm0) / 1e9
    // median-of-3 per query: a single timing on this VM varies ±15%
    // run-to-run and one outlier run inflated q_dedup_jaccard 5× in
    // round 5 — the median is the reported figure, the min is kept
    // alongside as the noise floor. REPS=1 restores single-shot mode.
    val reps = sys.env.getOrElse("SPARK_GRAFT_BENCH_REPS", "3").toInt
    // SPARK_GRAFT_BENCH_ONLY=q_a,q_b restricts to a subset for targeted
    // perf iteration; unset (the driver's mode) benches everything
    val only = sys.env.get("SPARK_GRAFT_BENCH_ONLY")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)
      .getOrElse(Set.empty[String])
    // per-query failure is recorded, NOT timed: a query that dies in
    // analysis would otherwise masquerade as a ~0.05 s "timing" and
    // silently deflate the total (round 12 shipped 26 such entries).
    // Failed queries land in an `errors` map and are excluded from
    // `queries`/`total`; `value` stays comparable across rounds only
    // over the `queries` keys actually present.
    // everything after this point is a measured rep: a seed that fires
    // inside one is flagged so seed_sec_in_reps reports the overlap
    // between per-query wall time and seed_sec (they would otherwise
    // double-count in "suite total + seed_sec ≈ cold run")
    graft.queries.Seeds.beginMeasured()
    val results = SparkEntry.queries
      .filter { case (name, _) => only.isEmpty || only(name) }
      .map { case (name, fn) =>
        var err: Option[String] = None
        val times = (1 to reps).map { _ =>
          val t0 = System.nanoTime()
          try { fn(spark, sfDir).count() } catch {
            case e: Throwable =>
              if (err.isEmpty)
                err = Some(s"${e.getClass.getSimpleName}: ${Option(e.getMessage).getOrElse("").take(200)}")
          }
          (System.nanoTime() - t0) / 1e9
        }.sorted
        name -> (times(times.length / 2), times.head, err)
      }
    import GraftSession.jstr
    val ok = results.filter { case (_, (_, _, err)) => err.isEmpty }
    val failed = results.collect { case (k, (_, _, Some(e))) => k -> e }
    val qs = ok.map { case (k, (med, _, _)) => jstr(k) + ":" + med }
      .mkString("{", ",", "}")
    val qsMin = ok.map { case (k, (_, mn, _)) => jstr(k) + ":" + mn }
      .mkString("{", ",", "}")
    val errs = failed.map { case (k, e) => jstr(k) + ":" + jstr(e) }
      .mkString("{", ",", "}")
    val total = if (ok.nonEmpty) ok.values.map(_._1).sum else 0.0
    if (failed.nonEmpty)
      System.err.println(s"[bench] ${failed.size} queries FAILED: ${failed.keys.mkString(", ")}")
    // once-per-dir artifact builds (seeded layouts, stream week files,
    // memoized dedup/graph chains) land in whichever rep runs first and
    // fall out of the median — the per-query numbers are MARGINAL cost
    // by design. seed_sec makes the excluded cost auditable: suite
    // total + seed_sec ≈ what a cold run pays.
    val seeds = graft.queries.Seeds.breakdown
    val seedsJson = seeds.toSeq.sortBy(-_._2)
      .map { case (k, v) => jstr(k) + ":" + v }.mkString("{", ",", "}")
    // Tables.parquet's schema memo: a hit is a table read that submitted
    // no schema-inference job
    val (schemaHits, schemaMisses) = Tables.schemaReads
    val json =
      s"""{"metric":"total","value":$total,"unit":"sec","warmup_sec":$warmupSec,"seed_sec":${graft.queries.Seeds.totalSec},"schema_reads":{"hits":$schemaHits,"misses":$schemaMisses},"seed_sec_in_reps":${graft.queries.Seeds.measuredSec},"seeds":$seedsJson,"load1_start":$loadStart,"load1_end":$load1,"reps":$reps,"n_ok":${ok.size},"n_err":${failed.size},"queries":$qs,"queries_min":$qsMin,"errors":$errs,"sf":"$sfDir"}"""
    println(json)
    // also land the JSON in a file: sbt interleaves [info] noise on
    // stdout, so stdout-scraping can miss the line (BENCH_r01 parsed:null)
    val out = sys.env.getOrElse("SPARK_GRAFT_BENCH_OUT", "bench_out.json")
    try Files.writeString(Paths.get(out), json + "\n")
    catch { case _: Throwable => }
    spark.stop()
  }
}
