package perfbench

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.{AtomicLong, DoubleAdder, LongAdder}

import scala.jdk.CollectionConverters._

import org.apache.spark.SparkConf
import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.{FileSourceScanExec, QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.command.DataWritingCommandExec
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
import org.apache.spark.sql.execution.joins.{BroadcastHashJoinExec, SortMergeJoinExec}
import org.apache.spark.sql.util.QueryExecutionListener

/** The traced run's in-memory record: spans at every call the benchmark
  * makes into the program (pass, op) and at every Spark job, plus
  * per-layer counters filled by the three listeners below. Nothing is
  * recorded unless [[enabled]]; counters only count while [[measuring]].
  */
object Trace {
  final case class Span(id: Long, parent: Long, kind: String, name: String,
                        startUs: Long, endUs: Long, attrs: Map[String, Any])
  final case class JobRec(op: Long, callSite: String, submitUs: Long, endUs: Long)

  @volatile var enabled = false
  @volatile var measuring = false
  @volatile private var currentOp = 0L
  private val ids = new AtomicLong(0)
  private val spans = new ConcurrentLinkedQueue[Span]()
  private val jobSubmit = new java.util.concurrent.ConcurrentHashMap[Int, (Long, String, Long)]()
  private val jobs = new ConcurrentLinkedQueue[JobRec]()
  private val taskIntervals = new ConcurrentLinkedQueue[(Long, Long)]()
  private val sums = new java.util.concurrent.ConcurrentHashMap[String, DoubleAdder]()
  private val counts = new java.util.concurrent.ConcurrentHashMap[String, LongAdder]()

  def nowUs: Long = {
    val i = java.time.Instant.now()
    i.getEpochSecond * 1000000L + i.getNano / 1000
  }

  def add(name: String, v: Double): Unit =
    if (measuring) sums.computeIfAbsent(name, _ => new DoubleAdder).add(v)
  def count(name: String, n: Long = 1L): Unit =
    if (measuring) counts.computeIfAbsent(name, _ => new LongAdder).add(n)

  def sum(name: String): Double = Option(sums.get(name)).map(_.sum).getOrElse(0.0)
  def total(name: String): Long = Option(counts.get(name)).map(_.sum).getOrElse(0L)

  @volatile private var currentPass = 0L

  /** Run one pass as a span; its ops are its children. */
  def pass[A](index: Int)(body: => A): A =
    if (!enabled) body
    else {
      val id = ids.incrementAndGet()
      currentPass = id
      val t0 = nowUs
      try body
      finally spans.add(Span(id, 0L, "pass", s"pass-$index", t0, nowUs, Map.empty))
    }

  /** Run one op (a call into the program) as a span of `kind`. Ops are
    * sequential (one closed-loop client), so the open op is the parent of
    * every job it starts.
    */
  def op[A](kind: String, name: String)(body: => A): A =
    if (!enabled) body
    else {
      val id = ids.incrementAndGet()
      currentOp = id
      val t0 = nowUs
      try body
      finally {
        spans.add(Span(id, currentPass, kind, name, t0, nowUs, Map.empty))
        currentOp = 0L
      }
    }

  def addSpan(parent: Long, kind: String, name: String, startUs: Long, endUs: Long,
              attrs: Map[String, Any] = Map.empty): Unit =
    spans.add(Span(ids.incrementAndGet(), parent, kind, name, startUs, endUs, attrs))

  def allSpans: Seq[Span] = spans.asScala.toSeq.sortBy(_.startUs)
  def allJobs: Seq[JobRec] = jobs.asScala.toSeq.sortBy(_.submitUs)

  /** Wall time inside [fromUs, toUs] during which no task ran. */
  def idleUs(fromUs: Long, toUs: Long): Long = {
    val iv = taskIntervals.asScala.toSeq.map { case (a, b) => (a max fromUs, b min toUs) }
      .filter { case (a, b) => b > a }.sortBy(_._1)
    var covered = 0L
    var curA = -1L
    var curB = -1L
    iv.foreach { case (a, b) =>
      if (a > curB) { if (curB > curA) covered += curB - curA; curA = a; curB = b }
      else curB = curB max b
    }
    if (curB > curA) covered += curB - curA
    (toUs - fromUs) - covered
  }

  // ---- listeners, registered through session conf in the traced run ----

  class Jobs(conf: SparkConf) extends SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = if (measuring) {
      // a job's call site is the name of its result stage
      val site = if (e.stageInfos.isEmpty) "" else e.stageInfos.maxBy(_.stageId).name
      jobSubmit.put(e.jobId, (e.time * 1000L, site, currentOp))
      count("spark.jobs")
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      Option(jobSubmit.remove(e.jobId)).foreach { case (t0, site, op) =>
        jobs.add(JobRec(op, site, t0, e.time * 1000L))
        addSpan(op, "job", site, t0, e.time * 1000L, Map("job_id" -> e.jobId))
      }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = count("spark.stages")
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = if (measuring) {
      val info = e.taskInfo
      count("spark.tasks")
      taskIntervals.add((info.launchTime * 1000L, info.finishTime * 1000L))
      Option(e.taskMetrics).foreach { m =>
        add("spark.task_run_s", m.executorRunTime / 1e3)
        add("spark.task_cpu_s", m.executorCpuTime / 1e9)
        add("spark.gc_s", m.jvmGCTime / 1e3)
        add("spark.shuffle_read_bytes", m.shuffleReadMetrics.totalBytesRead.toDouble)
        add("spark.shuffle_write_bytes", m.shuffleWriteMetrics.bytesWritten.toDouble)
        add("spark.spill_bytes", (m.memoryBytesSpilled + m.diskBytesSpilled).toDouble)
        add("spark.input_bytes", m.inputMetrics.bytesRead.toDouble)
        add("spark.output_bytes", m.outputMetrics.bytesWritten.toDouble)
        // Spark's own scheduler-delay definition (web UI StagePage)
        val delay = info.duration - m.executorRunTime - m.executorDeserializeTime -
          m.resultSerializationTime - info.gettingResultTime
        add("spark.sched_delay_s", math.max(0L, delay) / 1e3)
      }
    }
  }

  class Queries(conf: SparkConf) extends QueryExecutionListener with AdaptiveSparkPlanHelper {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
      if (measuring) {
        val ph = qe.tracker.phases
        def ms(p: String) = ph.get(p).map(_.durationMs).getOrElse(0L) / 1e3
        add("plan.analysis_s", ms("analysis"))
        add("plan.optimization_s", ms("optimization"))
        add("plan.physical_s", ms("planning"))
        val plan: SparkPlan = qe.executedPlan
        def n(pf: PartialFunction[SparkPlan, Unit]) = collectWithSubqueries(plan) {
          case p if pf.isDefinedAt(p) => 1 }.size.toLong
        count("plan.exchanges", n { case _: ShuffleExchangeExec => })
        count("plan.smj", n { case _: SortMergeJoinExec => })
        count("plan.bhj", n { case _: BroadcastHashJoinExec => })
        collectWithSubqueries(plan) { case s: FileSourceScanExec => s.metrics.get("numFiles") }
          .flatten.foreach(m => count("scan.files_read", m.value))
        collect(plan) { case w: DataWritingCommandExec => w.cmd.metrics }.foreach { m =>
          m.get("numFiles").foreach(x => count("write.files", x.value))
          m.get("numOutputBytes").foreach(x => count("write.bytes", x.value))
        }
      }
    override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()
  }

  /** Session confs that register the listeners above. */
  val listenerConfs: Seq[(String, String)] = Seq(
    "spark.extraListeners" -> classOf[Jobs].getName,
    "spark.sql.queryExecutionListeners" -> classOf[Queries].getName)
}
