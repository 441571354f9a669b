package graft.etl

import java.util.concurrent.ConcurrentHashMap

import org.apache.spark.sql.SparkSession
import org.apache.spark.util.LongAccumulator

/** Observability for the lenient parse paths (typed `Pipeline.parseRaw`
  * and the `mjlog` DSv2 reader, batch `read` and micro-batch
  * `readStream` alike, so `Pipeline.runV2` and `StreamingPipeline` too):
  * each skips a corrupt log instead of killing the job (the reference
  * aborts the whole run on the first bad file — main.py:25-30), which
  * at 100 TB means skipped files must be *countable*, not just
  * grep-able from executor stderr. One named [[LongAccumulator]] per
  * SparkContext surfaces the skip count in the Spark UI / status API
  * for every stage that parses, shared by every path so they all report
  * into the same counter.
  */
object ParseMetrics {
  private val cache = new ConcurrentHashMap[String, LongAccumulator]()

  /** The per-context "graft.mjlog.skippedFiles" accumulator (registered
    * on first use; driver-side only — call before closing over it).
    */
  def skippedFiles(spark: SparkSession): LongAccumulator =
    named(spark, "graft.mjlog.skippedFiles")

  /** The per-context "graft.mjlog.backfilledFiles" accumulator: files
    * that appeared BELOW the mjlog stream's committed max-path watermark
    * and will therefore never be emitted (the stream's documented
    * exactly-once contract covers path-ordered appends only). Bumped
    * driver-side by [[graft.sources.MjlogMicroBatchStream]] so an
    * operator can alarm on it instead of silently losing a backfill.
    */
  def backfilledFiles(spark: SparkSession): LongAccumulator =
    named(spark, "graft.mjlog.backfilledFiles")

  private def named(spark: SparkSession, name: String): LongAccumulator =
    cache.computeIfAbsent(
      s"${spark.sparkContext.applicationId}/$name",
      _ => spark.sparkContext.longAccumulator(name))
}

/** Executor-side skip logging routed through Spark's log4j (not bare
  * `System.err`), so skips land in the executor log at WARN with the
  * standard layout and are filterable by logger name.
  */
object LenientParse extends org.apache.spark.internal.Logging {
  def warnSkip(tag: String, path: String, e: Throwable): Unit =
    logWarning(s"[$tag] skipping unparseable $path: $e")
}
