package graft.streaming

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.streaming.Trigger

import graft.etl.Pipeline
import graft.model.ParsedGame

/** Incremental form of the mjlog ETL (reference E13: per-date flush —
  * each date directory is conceptually one micro-batch).
  *
  * The `mjlog` stream source (`readStream.format("mjlog")`,
  * [[graft.sources.MjlogMicroBatchStream]]) watches the log tree on an
  * [[Pipeline.etlSession]] clone; each micro-batch's parsed games go to
  * the batch ETL's own write core (`Pipeline.runImpl`), which *appends*
  * them to the same 9 Hive-partitioned tables `Pipeline.run` writes.
  * Lenient parse (a corrupt log is skipped and counted in
  * `graft.mjlog.skippedFiles`), the ETL's pack knobs, the chmod-free
  * local FS and the caller's untouched conf hold here because it is the
  * batch core. Kyoku-id continuity across batches follows the
  * reference's per-date sequence: each date's ids continue after the
  * kyokus the lake already holds for it.
  *
  * Exactly-once contract: the source's checkpointed offset is a
  * max-path watermark, so each file is read once as long as new files
  * land at paths after the committed watermark — the reference's daily
  * layout (`<YYYYMMDD>/<id>.xml`, appended day by day) does. A file that
  * lands below the watermark is never read: it is skipped, warned and
  * counted in `graft.mjlog.backfilledFiles`. A checkpoint written by
  * the earlier `text` file-source drain (a seen-files log) cannot be
  * resumed by this source; drain into a fresh checkpoint and lake.
  */
object StreamingPipeline {

  /** Drain everything currently in logDir and stop (Trigger.AvailableNow
    * — the streaming analog of one reference ETL run). Subsequent calls
    * only process files past the checkpoint's watermark.
    */
  def runAvailable(spark: SparkSession, logDir: String, outDir: String,
                   checkpointDir: String): Unit = {
    val s = Pipeline.etlSession(spark)
    import s.implicits._
    s.readStream.format("mjlog").load(logDir)
      .writeStream
      .trigger(Trigger.AvailableNow())
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: DataFrame, _: Long) =>
        Pipeline.runImpl(batch.as[ParsedGame], outDir, SaveMode.Append)
      }
      .start()
      .awaitTermination()
  }
}
