package graft.streaming

import java.time.LocalDate
import java.time.format.DateTimeFormatter

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

import graft.etl.{MjlogParser, Pipeline}

/** Incremental form of the mjlog ETL (reference E13: per-date flush —
  * each date directory is conceptually one micro-batch).
  *
  * Structured Streaming file source (text, wholetext) watches the log
  * tree; each micro-batch parses its new files and *appends* to the same
  * 9 Hive-partitioned tables the batch Pipeline writes. Kyoku-id
  * continuity across batches follows the reference's per-date sequence:
  * the batch's window ranks are shifted by the per-date high-water mark
  * read from the existing `kyokus` output (cheap: footer-stat max over
  * the dt partition).
  *
  * Scale notes: the file source tracks processed files in the
  * checkpoint, giving exactly-once table appends through foreachBatch +
  * idempotent dynamic partition overwrite is not needed since input
  * files are immutable. State is bounded by the file-listing window
  * (`maxFilesPerTrigger` at production scale).
  */
object StreamingPipeline {

  private val DirDate = DateTimeFormatter.ofPattern("yyyyMMdd")

  /** Existing per-date kyoku counts in the output (high-water marks). */
  private def existingSeq(spark: SparkSession, outDir: String): Map[String, Long] = {
    val path = new java.io.File(s"$outDir/kyokus")
    if (!path.exists()) Map.empty
    else {
      // the declared schema types dt as DATE and needs no inference job
      Pipeline.readTable(spark, outDir, "kyokus")
        .groupBy(col("dt").cast("string").as("dt"))
        .agg(count(lit(1)).as("n"))
        .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    }
  }

  /** Process one micro-batch of (path, xml) rows. */
  private[streaming] def processBatch(spark: SparkSession, batch: DataFrame,
                                      outDir: String): Unit = {
    import spark.implicits._
    val parsed = batch
      .select(col("path"), col("value"))
      .as[(String, String)]
      .flatMap { case (path, xml) =>
        "(\\d{8})/([^/]+)\\.xml$".r.findFirstMatchIn(path).map { m =>
          MjlogParser.parse(xml, m.group(2), LocalDate.parse(m.group(1), DirDate))
        }
      }
    if (parsed.isEmpty) return
    val offsets = existingSeq(spark, outDir)
    val offsetCol =
      if (offsets.isEmpty) lit(0L)
      else coalesce(element_at(typedLit(offsets), col("dt").cast("string")), lit(0L))
    parsed.cache()
    val kb = Pipeline.kyokusBase(parsed).cache()
    val dts = Pipeline.tables(parsed, kb)
    try {
      import scala.concurrent.{Await, Future}
      import scala.concurrent.duration.Duration
      import scala.concurrent.ExecutionContext.Implicits.global
      val jobs = Pipeline.TableNames.map { name =>
        Future {
          val df = dts(name)
          val shifted = name match {
            case "kyokus" => df.withColumn("id", col("id") + offsetCol)
            case "haipais" | "actions" | "agaris" | "nagares" =>
              df.withColumn("kyoku_id", col("kyoku_id") + offsetCol)
            case _ => df
          }
          shifted
            .withColumn("dt", date_format(col("dt"), "yyyy-MM-dd"))
            .repartition(col("dt"))
            .write.mode("append").partitionBy("dt")
            .parquet(s"$outDir/$name")
        }
      }
      jobs.foreach(Await.result(_, Duration.Inf))
    } finally { parsed.unpersist(); kb.unpersist() }
  }

  /** Drain everything currently in logDir and stop (Trigger.AvailableNow
    * — the streaming analog of one reference ETL run). Subsequent calls
    * only process files the checkpoint hasn't seen.
    */
  def runAvailable(spark: SparkSession, logDir: String, outDir: String,
                   checkpointDir: String): Unit = {
    val stream = spark.readStream
      .format("text")
      .option("wholetext", "true")
      .option("pathGlobFilter", "*.xml")
      .option("recursiveFileLookup", "true")
      .load(logDir)
      .select(col("_metadata.file_path").as("path"), col("value"))
    val q = stream.writeStream
      .trigger(Trigger.AvailableNow())
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: DataFrame, _: Long) =>
        processBatch(spark, batch, outDir)
      }
      .start()
    q.awaitTermination()
  }
}
