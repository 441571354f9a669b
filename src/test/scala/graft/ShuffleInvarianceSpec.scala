package graft

import org.scalatest.funsuite.AnyFunSuite

/** Cluster-shape invariance: the driver's correctness hashes are only
  * ever produced at one `local[N]` / `shuffle.partitions` setting, but a
  * real deployment runs every one of these plans at hundreds to
  * thousands of shuffle partitions. Any arrival-order `collect_list`,
  * unstable sort, tie-broken top-k, or float fold-order dependence
  * surfaces as a row-level diff across partition counts — here, before
  * it surfaces on a cluster.
  *
  * Every registered query runs row-for-row identical at
  * `shuffle.partitions` ∈ {1, 7, 64} on sf0.001 (1 = everything in one
  * task, 7 = a prime that misaligns every co-partitioning, 64 = more
  * tasks than rows for small groups), plus a fourth pass with fragmented
  * input splits (maxPartitionBytes=256k, openCostInBytes=0) — the other
  * cluster-shape variable, exercising different scan task boundaries.
  * Comparison is ordered — the result contract includes each query's
  * output order, which the gate's hash also depends on.
  *
  * No keys are excluded: q_agg_approx used to be (its raw sketch
  * estimates merge per-partition summaries and legitimately vary with
  * layout), but it now emits within-guaranteed-error BOOLEANS plus
  * exact anchors — layout-invariant by construction as long as the
  * sketches honor their error bounds under every layout, which is
  * exactly what this suite should be checking.
  */
class ShuffleInvarianceSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark
  private val sfDir = "/root/testdata/sf0.001"

  private val LayoutDependent = Set.empty[String]

  private def runKeys(dir: String,
                      keys: String => Boolean): Map[String, Seq[String]] = {
    val selected = SparkEntry.queries.toSeq.collect {
      case (k, fn) if keys(k) && !LayoutDependent(k) => (k, fn)
    }
    // the sweep reruns every key 4×; at sf0.001 each run is dominated by
    // per-query fixed cost (planning + a few tiny jobs), so overlapping
    // independent queries from a small driver pool back-fills the idle
    // scheduler gaps (guide §2.6) without touching per-key semantics —
    // jobs submitted from different threads share the session and the
    // pass's shuffle.partitions setting, which is set before the pool
    // starts and restored after it drains. No key writes the session's
    // conf (the streaming and scripting keys set theirs on a clone of
    // it), so every key runs through the pool
    import java.util.concurrent.Executors
    import scala.concurrent.{Await, ExecutionContext, Future}
    import scala.concurrent.duration.Duration
    val pool = Executors.newFixedThreadPool(3)
    try {
      implicit val ec: ExecutionContext = ExecutionContext.fromExecutor(pool)
      val out = Future.traverse(selected) { case (k, fn) =>
        Future(k -> fn(spark, dir).collect().map(_.toString).toSeq)
      }
      Await.result(out, Duration.Inf).toMap
    } finally pool.shutdown()
  }

  private def compare(base: Map[String, Seq[String]],
                      got: Map[String, Seq[String]], what: String): Unit = {
    val diffs = base.keys.toSeq.sorted.filter(k => base(k) != got(k))
    assert(diffs.isEmpty,
      s"results changed between shuffle.partitions=7 and $what for: " +
        diffs.map { k =>
          val b = base(k); val g = got(k)
          val firstDiff = b.zipAll(g, "<missing>", "<missing>")
            .indexWhere { case (x, y) => x != y }
          s"$k (rows ${b.size} vs ${g.size}, first diff at row $firstDiff)"
        }.mkString("; "))
  }

  test("every query is row-for-row invariant to shuffle.partitions ∈ {1,7,64}") {
    val prev = spark.conf.get("spark.sql.shuffle.partitions")
    def runAll(): Map[String, Seq[String]] = runKeys(sfDir, _ => true)
    try {
      spark.conf.set("spark.sql.shuffle.partitions", "7")
      val base = runAll()
      Seq("1", "64").foreach { n =>
        spark.conf.set("spark.sql.shuffle.partitions", n)
        compare(base, runAll(), s"=$n")
      }
      // scan-split invariance — the OTHER cluster-shape variable: force
      // many tiny input splits (different file/task boundaries than any
      // local default) and require identical results again
      spark.conf.set("spark.sql.shuffle.partitions", "7")
      val prevMax = spark.conf.getOption("spark.sql.files.maxPartitionBytes")
      val prevCost = spark.conf.getOption("spark.sql.files.openCostInBytes")
      try {
        spark.conf.set("spark.sql.files.maxPartitionBytes", "262144")
        spark.conf.set("spark.sql.files.openCostInBytes", "0")
        compare(base, runAll(), "fragmented scans (maxPartitionBytes=256k)")
      } finally {
        def restore(k: String, v: Option[String]): Unit =
          v.fold(spark.conf.unset(k))(spark.conf.set(k, _))
        restore("spark.sql.files.maxPartitionBytes", prevMax)
        restore("spark.sql.files.openCostInBytes", prevCost)
      }
    } finally spark.conf.set("spark.sql.shuffle.partitions", prev)
  }

  /** The sf0.001 pass can miss order instabilities that only appear
    * with MULTI-ROW TIES (equal sort keys spread across more rows and
    * partitions), so the exchange-heavy subset — joins, windows,
    * streaming/stateful, and the other order-sensitive shapes — re-runs
    * at sf0.01 across two misaligned partition counts.
    */
  test("exchange-heavy keys are layout-invariant at sf0.01 (multi-row ties)") {
    val exchangeHeavy = (k: String) =>
      k.startsWith("q_join_") || k.startsWith("q_win_") ||
      k.startsWith("q_stream_") ||
      Set("q_topk_global", "q_sort_multi", "q_sessionize",
          "q_session_window", "q_seq_pattern", "q_scd2", "q_merge_upsert",
          "q_agg_listagg", "q_interval_sweep", "q_cohort_retention",
          "q_funnel")(k)
    val prev = spark.conf.get("spark.sql.shuffle.partitions")
    try {
      spark.conf.set("spark.sql.shuffle.partitions", "7")
      val base = runKeys("/root/testdata/sf0.01", exchangeHeavy)
      assert(base.size >= 20, s"subset unexpectedly small: ${base.keys}")
      spark.conf.set("spark.sql.shuffle.partitions", "64")
      compare(base, runKeys("/root/testdata/sf0.01", exchangeHeavy),
              "=64 at sf0.01")
    } finally spark.conf.set("spark.sql.shuffle.partitions", prev)
  }
}
