package perfbench

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.PerfbenchShim
import org.apache.spark.sql.SparkSession

import Workloads.{median, steadyFrom, tail}

/** One benchmark run, in one JVM: set up (three times, median reported),
  * make the workload's inputs, run its passes in a closed loop with one
  * client, check the outputs, and print one result line (`PERFBENCH {...}`)
  * for perfbench/run.py.
  *
  * Args: --workload W --seed N --seconds S --trace 0|1 --run-dir D
  *       --launch-us T --expected F [--record F]
  */
object Main {
  val Cpus = 4
  val Setups = 3

  def main(argv: Array[String]): Unit = {
    val a = argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = a("workload")
    val seed = a("seed").toLong
    val seconds = a("seconds").toInt
    val trace = a("trace") == "1"
    val runDir = Paths.get(a("run-dir"))
    val w = Workloads(workload)
    val load0 = load1
    Trace.enabled = trace

    // ---- set-up: JVM start → session ready and warm, then twice more
    // from a stopped context, so the median is steady ----
    var spark = session(runDir, trace)
    warm(spark, runDir)
    val setup = scala.collection.mutable.ArrayBuffer(Trace.nowUs / 1e6 - a("launch-us").toLong / 1e6)
    (1 until Setups).foreach { _ =>
      spark.stop()
      val t0 = System.nanoTime()
      spark = session(runDir, trace)
      warm(spark, runDir)
      setup += (System.nanoTime() - t0) / 1e9
    }

    progress(s"set-up done: ${setup.map(x => f"$x%.2f").mkString(", ")} s")

    val expected = readExpected(Paths.get(a("expected")), workload)
    val c = Ctx(spark, runDir, seed, seconds, expected)
    w.prepare(c)
    progress("inputs ready")

    // ---- measured region ----
    val seeds0 = graft.queries.Seeds.breakdown
    val compiles0 = org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    if (trace) { PerfbenchShim.drainListenerBus(spark.sparkContext); Trace.measuring = true }
    val m0 = Trace.nowUs
    val passes = 1 + w.warmPasses(seconds)
    val results = scala.collection.mutable.ArrayBuffer.empty[(Int, Op, Double, Option[String])]
    val passSecs = (0 until passes).map { p =>
      val t0 = System.nanoTime()
      Trace.pass(p) {
        w.ops(c, p).foreach { op =>
          val s0 = System.nanoTime()
          val err = try { Trace.op(op.kind, op.name)(op.body()); None }
            catch { case e: Throwable => Some(s"${e.getClass.getSimpleName}: ${e.getMessage}".take(300)) }
          results += ((p, op, (System.nanoTime() - s0) / 1e9, err))
        }
      }
      val sec = (System.nanoTime() - t0) / 1e9
      progress(f"pass $p: $sec%.2f s")
      sec
    }
    val m1 = Trace.nowUs
    if (trace) { PerfbenchShim.drainListenerBus(spark.sparkContext); Trace.measuring = false }
    val compiles = org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME.getCount - compiles0
    val seeds1 = graft.queries.Seeds.breakdown
    val skipped = graft.etl.ParseMetrics.skippedFiles(spark).value

    // ---- output checks (untimed) ----
    val bad = try w.check(c) catch {
      case e: Throwable => Seq("check" -> s"${e.getClass.getSimpleName}: ${e.getMessage}".take(300))
    }
    progress(s"checks done, ${bad.size} failed")
    a.get("record").foreach(f => record(Paths.get(f), workload, w, c))
    // a check that could not run leaves every op unverified
    val badOps = bad.map(_._1).toSet
    val failedOps = results.filter { case (p, op, _, err) =>
      err.nonEmpty || badOps("check") || badOps(op.name) || badOps(s"${op.name}@$p") }
    results.foreach { case (p, op, _, err) =>
      err.foreach(e => System.err.println(s"[perfbench] pass $p ${op.name} FAILED: $e")) }
    bad.foreach { case (k, m) => System.err.println(s"[perfbench] check $k: $m") }

    val opSecs = results.map { case (p, op, s, _) => (p, op, s) }.toSeq
    val s0 = steadyFrom(passes)
    val steadyOps = opSecs.filter(_._1 >= s0).map(_._3)
    val (opTail, tailPct, tailN) = tail(steadyOps)
    val e2e = Map(
      "setup_s" -> ("s", median(setup.toSeq)),
      "cold_pass_s" -> ("s", passSecs.head),
      "pass_s" -> ("s", median(passSecs.drop(s0))),
      "op_p50_s" -> ("s", median(steadyOps)))
    val detail = w.detail(c, opSecs) ++ Map(
      "workload" -> workload, "seed" -> seed, "trace" -> trace,
      "setup_samples_s" -> setup.toSeq, "pass_samples_s" -> passSecs, "steady_from_pass" -> s0,
      "op_samples_s" -> opSecs.map { case (p, op, t) => Seq(p, op.name, t) },
      "op_tail_s" -> Map("value" -> opTail, "percentile" -> tailPct, "samples" -> tailN),
      "attempted" -> results.size, "failed" -> failedOps.size,
      "failed_ratio" -> failedOps.size.toDouble / results.size,
      "failed_checks" -> bad.size, "peak_rss_mb" -> peakRssMb,
      "host" -> Map("nproc" -> Runtime.getRuntime.availableProcessors, "local_cpus" -> Cpus,
        "load1_start" -> load0, "load1_end" -> load1,
        "heap_max_mb" -> Runtime.getRuntime.maxMemory / (1 << 20)))

    val (metrics, layerSecs) =
      if (!trace) (e2e, Map.empty[String, Double])
      else layers(w, c, m0, m1, compiles, seeds0, seeds1, skipped, passSecs)
    val out = Map(
      "correct" -> (failedOps.isEmpty && bad.isEmpty),
      "attempted" -> results.size,
      "failed" -> failedOps.size,
      "metrics" -> metrics.map { case (k, (u, v)) => k -> Map("value" -> v, "unit" -> u) },
      "detail" -> (if (!trace) detail else detail ++ Map("layer_seconds" -> layerSecs,
        "end_to_end_traced" -> e2e.map { case (k, (_, v)) => k -> v })))
    if (trace) writeTrace(runDir.resolve("trace.json"))
    spark.stop()
    println("PERFBENCH " + Json.render(out))
  }

  def session(runDir: Path, trace: Boolean): SparkSession = {
    val b = SparkSession.builder()
      .master(s"local[$Cpus]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", Cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.extensions", "graft.expressions.GraftExtensions")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", runDir.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", runDir.resolve("warehouse").toString)
    if (trace) Trace.listenerConfs.foreach { case (k, v) => b.config(k, v) }
    val s = b.getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  /** First-use costs every workload pays once: executor launch, codegen,
    * the parquet writer and reader, a noop sink.
    */
  def warm(spark: SparkSession, runDir: Path): Unit = {
    val dir = runDir.resolve("warm").toString
    spark.range(1000).selectExpr("sum(id)").collect()
    spark.range(64).selectExpr("id", "id % 4 AS dt")
      .write.mode("overwrite").partitionBy("dt").parquet(dir)
    Workloads.noop(spark.read.parquet(dir))
  }

  def progress(msg: String): Unit = System.err.println(s"[perfbench] $msg")

  def load1: Double =
    try Files.readString(Paths.get("/proc/loadavg")).split(" ")(0).toDouble
    catch { case _: Throwable => -1.0 }

  def peakRssMb: Double =
    Files.readAllLines(Paths.get("/proc/self/status")).asScala
      .find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toDouble / 1024.0).getOrElse(-1.0)

  /** Recorded key outputs: `workload<TAB>key<TAB>rows<TAB>digest` lines. */
  def readExpected(f: Path, workload: String): Map[String, (Long, String)] =
    if (!Files.exists(f)) Map.empty
    else Files.readAllLines(f).asScala.map(_.split("\t", -1)).collect {
      case Array(`workload`, k, n, d) => k -> (n.toLong, d)
    }.toMap

  def record(f: Path, workload: String, w: Workload, c: Ctx): Unit = w match {
    case k: LlmKeys =>
      val keep = if (Files.exists(f)) Files.readAllLines(f).asScala.filterNot(_.startsWith(workload + "\t")) else Nil
      val lines = k.observe(c).toSeq.sortBy(_._1).map { case (key, (n, d)) => s"$workload\t$key\t$n\t$d" }
      Files.write(f, (keep ++ lines).asJava)
    case _ => ()
  }

  /** Per-layer metrics of the traced run (perfbench/README.md says which
    * end-to-end metric each should move), and their seconds for the
    * detail line. A layer a workload does not exercise reads 0; its times
    * are given as shares of the op they belong to, so no time is a
    * structural constant.
    */
  def layers(w: Workload, c: Ctx, m0: Long, m1: Long, compiles: Long,
             seeds0: Map[String, Double], seeds1: Map[String, Double], skipped: Long,
             passSecs: Seq[Double]): (Map[String, (String, Double)], Map[String, Double]) = {
    val ingests = Trace.allSpans.filter(_.kind == "ingest")
    // ETL phases of Pipeline.runImpl, cut at the call sites of its jobs:
    // the first `count at Pipeline.scala` materializes the parsed cache,
    // the second the kyoku-id window cache; the 9 table writes follow
    // (their jobs, like AQE's stage jobs, carry a thread-pool call site).
    // Each phase runs from the end of the previous one, so its driver-side
    // planning is included, to the end of its last job.
    val phases = Seq("parse_cache", "kyoku_window", "write")
    val phaseSec = scala.collection.mutable.Map(phases.map(_ -> 0.0): _*)
    ingests.foreach { in =>
      val js = Trace.allJobs.filter(_.op == in.id)
      val cuts = js.filter(_.callSite.startsWith("count at Pipeline.scala")).map(_.endUs).take(2)
      if (cuts.size == 2) {
        val bounds = in.startUs +: cuts :+ js.map(_.endUs).max
        phases.zip(bounds.zip(bounds.tail)).foreach { case (name, (a, b)) =>
          Trace.addSpan(in.id, "etl_phase", name, a, b)
          phaseSec(name) += (b - a) / 1e6
        }
      }
    }
    val ingestSec = ingests.map(i => (i.endUs - i.startUs) / 1e6).sum
    val seedSec = seeds1.map { case (k, v) => v - seeds0.getOrElse(k, 0.0) }.sum
    def share(x: Double, of: Double) = if (of > 0) x / of else 0.0
    val s = Trace.sum _
    val n = (k: String) => Trace.total(k).toDouble
    val wl = w.layers(c)
    val metrics = Map(
      "plan.analysis_s" -> ("s", s("plan.analysis_s")),
      "plan.optimization_s" -> ("s", s("plan.optimization_s")),
      "plan.physical_s" -> ("s", s("plan.physical_s")),
      "plan.exchanges" -> ("count", n("plan.exchanges")),
      "plan.smj" -> ("count", n("plan.smj")),
      "plan.bhj" -> ("count", n("plan.bhj")),
      "codegen.compiles" -> ("count", compiles.toDouble),
      "spark.jobs" -> ("count", n("spark.jobs")),
      "spark.stages" -> ("count", n("spark.stages")),
      "spark.tasks" -> ("count", n("spark.tasks")),
      "spark.sched_delay_s" -> ("s", s("spark.sched_delay_s")),
      "driver.busy_s" -> ("s", Trace.idleUs(m0, m1) / 1e6),
      "spark.task_run_s" -> ("s", s("spark.task_run_s")),
      "spark.task_cpu_s" -> ("s", s("spark.task_cpu_s")),
      "spark.gc_s" -> ("s", s("spark.gc_s")),
      "spark.shuffle_read_bytes" -> ("bytes", s("spark.shuffle_read_bytes")),
      "spark.shuffle_write_bytes" -> ("bytes", s("spark.shuffle_write_bytes")),
      "spark.spill_bytes" -> ("bytes", s("spark.spill_bytes")),
      "spark.input_bytes" -> ("bytes", s("spark.input_bytes")),
      "spark.output_bytes" -> ("bytes", s("spark.output_bytes")),
      "scan.files_read" -> ("count", n("scan.files_read")),
      "seeds.builds" -> ("count", seeds1.count { case (k, v) => seeds0.get(k).forall(_ < v) }.toDouble),
      "seeds.build_share" -> ("ratio", share(seedSec, passSecs.head)),
      "etl.skipped_files" -> ("count", skipped.toDouble),
      "etl.files_written" -> ("count", if (ingests.isEmpty) 0.0 else n("write.files")),
      "etl.bytes_written" -> ("bytes", if (ingests.isEmpty) 0.0 else n("write.bytes")),
      "etl.phase_coverage" -> ("ratio", share(phaseSec.values.sum, ingestSec)),
      "parser.games_per_s" -> ("1/s", wl.getOrElse("parser.games_per_s", 0.0)),
      "parser.events" -> ("count", wl.getOrElse("parser.events", 0.0)),
      "lake.files" -> ("count", wl.getOrElse("lake.files", 0.0)),
      "lake.bytes" -> ("bytes", wl.getOrElse("lake.bytes", 0.0)),
      "traced.pass_s" -> ("s", median(passSecs.drop(steadyFrom(passSecs.size))))
    ) ++ phases.map(p => s"etl.${p}_share" -> ("ratio", share(phaseSec(p), ingestSec)))
    (metrics, phases.map(p => s"etl.${p}_s" -> phaseSec(p)).toMap ++
      Map("etl.ingest_s" -> ingestSec, "seeds.build_s" -> seedSec))
  }

  def writeTrace(f: Path): Unit = {
    val spans = Trace.allSpans.map(s => Map("id" -> s.id, "parent" -> s.parent, "kind" -> s.kind,
      "name" -> s.name, "start_us" -> s.startUs, "end_us" -> s.endUs, "attrs" -> s.attrs))
    Files.writeString(f, Json.render(Map("spans" -> spans)))
  }
}
