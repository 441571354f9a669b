package graft.queries

import org.apache.spark.SparkContext
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.classic.GraftShim
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

object util {
  /** Signature of every driver-visible query: (session, sf-dir) => result. */
  type Q = (SparkSession, String) => DataFrame

  /** Hash-stable SUM of a 2-decimal double column.
    *
    * Summing raw doubles is order-dependent (fp addition is not
    * associative) and Spark's partial aggregation order differs run to
    * run — at sf0.1 the drift is large enough to flip `round(x, 2)` at a
    * boundary. Casting to DECIMAL first makes the sum exact and
    * engine-independent; the final cast back to double is a single
    * well-defined nearest conversion, so Spark and DuckDB produce
    * bit-identical results. Decimal aggregation is still map-side
    * partial + final (HashAggregateExec), so this costs nothing at scale.
    */
  def dsum(c: Column): Column = sum(c.cast(DecimalType(18, 2))).cast("double")

  /** Same exactness trick for a 2-decimal AVG: exact decimal sum divided
    * by the group count — one IEEE division on identical operands in
    * both engines.
    */
  def davg(c: Column): Column = dsum(c) / count(lit(1))

  /** DuckDB SQL spelling of [[dsum]]. */
  def dsumSql(col: String): String =
    s"CAST(SUM(CAST($col AS DECIMAL(18,2))) AS DOUBLE)"

  def davgSql(col: String): String = s"(${dsumSql(col)} / COUNT(*))"
}

/** Wall-clock registry of the once-per-(session, dir) artifact builds —
  * seeded scan/layout dirs, the streaming week files, the memoized
  * dedup/graph chains. Their cost is deliberately excluded from the
  * per-query medians (they are once-per-dir, like a table load, so the
  * medians report marginal query cost), which made it invisible in
  * `bench_out.json`: the suite total understated what a COLD run pays.
  * Every on-disk seed goes through [[Seeds.once]] and every memo build
  * through [[Seeds.timed]], and Bench emits the accumulated `seed_sec`
  * total plus a per-artifact breakdown, so suite total + seed_sec ≈
  * cold-run cost and the accounting is auditable.
  */
object Seeds {
  private val locks = new java.util.concurrent.ConcurrentHashMap[String, AnyRef]

  /** The one guard for an on-disk seed: a layout a query writes once
    * per data dir into `dir` and reads on every later call, in this JVM
    * and the next.
    *
    *   - A `dir/_SEEDED` marker means the seed is complete; callers that
    *     see it return at once, without a lock. The leading `_` keeps
    *     Spark readers and the oracle globs (`*.parquet`, `part-*`) off it.
    *   - Otherwise the caller takes a lock on `dir`, so racing callers in
    *     one JVM build it once; the others wait and then see the marker.
    *     Nothing guards two processes sharing one dir.
    *   - The build starts from an empty `dir` (a crashed attempt's
    *     partial files are deleted) and runs inside [[timed]]`(name)`.
    *   - The marker is written only after `build` returns, so a build
    *     that throws leaves no marker and the next call rebuilds.
    *
    * The marker records no fingerprint of the build: a change to what a
    * seed writes (its projection or layout) must change the seed's dir
    * name too, or a dir seeded by the old code would feed the new reader.
    */
  def once(name: String, dir: String)(build: => Unit): Unit = {
    val path = java.nio.file.Paths.get(dir).toAbsolutePath.normalize
    val marker = path.resolve("_SEEDED")
    if (!java.nio.file.Files.exists(marker))
      locks.computeIfAbsent(path.toString, _ => new Object).synchronized {
        if (!java.nio.file.Files.exists(marker)) {
          Scratch.rmTree(path)
          java.nio.file.Files.createDirectories(path)
          timed(name)(build)
          java.nio.file.Files.write(marker, Array.emptyByteArray)
        }
      }
  }

  private val acc =
    new java.util.concurrent.ConcurrentHashMap[String, java.lang.Double]
  private val accMeasured =
    new java.util.concurrent.ConcurrentHashMap[String, java.lang.Double]

  /** True while Bench's TIMED reps are running. A seed that fires then
    * lands in that rep's wall clock AND in seed_sec, so "suite total +
    * seed_sec ≈ cold run" would double-count it; tracking the phase
    * lets Bench report the overlap (`seed_sec_in_reps`) so the two
    * totals compose without guesswork.
    */
  @volatile private var measuredPhase = false

  def beginMeasured(): Unit = measuredPhase = true

  def timed[A](name: String)(body: => A): A = {
    val t0 = System.nanoTime()
    val inMeasured = measuredPhase
    try body
    finally {
      val sec = java.lang.Double.valueOf((System.nanoTime() - t0) / 1e9)
      val add = (a: java.lang.Double, b: java.lang.Double) =>
        java.lang.Double.valueOf(a.doubleValue + b.doubleValue)
      acc.merge(name, sec, (a, b) => add(a, b))
      if (inMeasured) accMeasured.merge(name, sec, (a, b) => add(a, b))
    }
  }

  def breakdown: Map[String, Double] = {
    import scala.jdk.CollectionConverters._
    acc.asScala.map { case (k, v) => k -> v.doubleValue }.toMap
  }

  def totalSec: Double = breakdown.values.sum

  /** Portion of [[totalSec]] accrued inside a measured bench rep. */
  def measuredSec: Double = {
    import scala.jdk.CollectionConverters._
    accMeasured.asScala.values.map(_.doubleValue).sum
  }
}

/** In-JVM memo of small eager artifacts (localCheckpoints) a query
  * builds once and serves on later calls, keyed by the SparkContext that
  * holds their blocks plus `K` (data dir, artifact kind). The context,
  * not the session, is the key: every session and clone on one context
  * can read the blocks, so the per-call clones of one caller share one
  * build, and no identity-hash collision can hand a session another
  * session's entry. A hit is served on the calling session, so the
  * caller's conf plans whatever it builds on top. An entry on a stopped
  * context is dropped, never returned — its blocks went with the
  * context.
  */
final class ContextMemo[K] {
  private val memo =
    new java.util.concurrent.ConcurrentHashMap[(SparkContext, K), DataFrame]

  def apply(s: SparkSession, key: K)(build: => DataFrame): DataFrame = {
    memo.keySet.removeIf(_._1.isStopped)
    val df = memo.computeIfAbsent((s.sparkContext, key), _ => build)
    if (df.sparkSession eq s) df else GraftShim.ofRows(s, df.queryExecution.analyzed)
  }
}
