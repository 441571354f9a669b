package graft

/** Scratch probe (dev-only): where does q_stream_session's wall time go?
  * Replicates the week-file replay inline and prints each micro-batch's
  * StreamingQueryProgress durationMs breakdown plus query start/stop
  * wall. Run: `sbt "Test/runMain graft.SessProbe [sfDir]"`.
  */
object SessProbe {
  def main(args: Array[String]): Unit = {
    import org.apache.spark.sql.SparkSession
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.streaming.OutputMode
    import org.apache.spark.sql.types.DecimalType
    val d = args.headOption.getOrElse("/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.extensions", "graft.expressions.GraftExtensions")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    // warm like Bench does
    spark.range(1000).selectExpr("sum(id)").collect()
    spark.read.parquet(s"$d/region.parquet").count()

    val variants = Seq((2, 1), (8, 1), (16, 1), (2, 3), (8, 3), (8, 6))
    variants.zipWithIndex.foreach { case ((parts, fpt), vi) =>
      (1 to 2).foreach { rep0 =>
      val rep = s"v${vi}_p${parts}_f${fpt}_r$rep0"
      val t0 = System.nanoTime()
      val dir = graft.queries.StreamingQ.eventWeekFiles(spark, d)
      val tSeed = System.nanoTime()
      val confs = Seq(
        "spark.sql.streaming.stateStore.providerClass" ->
          "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider",
        "spark.sql.streaming.stateStore.rocksdb.changelogCheckpointing.enabled" -> "true")
      confs.foreach { case (k, v) => spark.conf.set(k, v) }
      spark.conf.set("spark.sql.shuffle.partitions", parts.toString)
      // same tmpfs-with-fallback placement as the production replay
      // path, and removed after q.stop() — the r17 shape hardcoded
      // /dev/shm and leaked one RocksDB checkpoint dir per rep
      val ckptBase =
        if (java.nio.file.Files.isDirectory(java.nio.file.Paths.get("/dev/shm")))
          java.nio.file.Paths.get("/dev/shm")
        else java.nio.file.Paths.get(sys.props("java.io.tmpdir"))
      val ckpt = java.nio.file.Files.createTempDirectory(
        ckptBase, "graft_sessprobe_")
      val src = spark.readStream
        .schema(org.apache.spark.sql.Encoders.product[graft.queries.Ev].schema)
        .option("maxFilesPerTrigger", fpt.toString)
        .parquet(s"$dir/w*.parquet")
      val q = src.withWatermark("ts", "30 minutes")
        .groupBy(col("user_id"),
                 session_window(col("ts"), "30 minutes").as("w"))
        .agg(count(lit(1)).as("cnt"),
             sum(col("value").cast(DecimalType(18, 2))).cast("double")
               .as("sum_value"))
        .select(col("user_id"), col("w.start").as("session_start"),
                col("cnt"), col("sum_value"))
        .writeStream.format("memory").queryName(s"sess_probe_$rep")
        .option("checkpointLocation", ckpt.toString)
        .outputMode(OutputMode.Append)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination()
      val tStream = System.nanoTime()
      q.recentProgress.foreach { p =>
        println(f"rep$rep batch=${p.batchId}%2d rows=${p.numInputRows}%7d " +
          s"durations=${p.durationMs}")
      }
      q.stop()
      try graft.queries.Scratch.rmTree(ckpt) catch { case _: Exception => }
      val n = spark.table(s"sess_probe_$rep").where(col("user_id") =!= -1L).count()
      val tEnd = System.nanoTime()
      println(f"rep$rep seed=${(tSeed - t0) / 1e9}%.2f stream=${(tStream - tSeed) / 1e9}%.2f " +
        f"collect=${(tEnd - tStream) / 1e9}%.2f rows=$n total=${(tEnd - t0) / 1e9}%.2f")
      spark.conf.set("spark.sql.shuffle.partitions", cpus)
      }
    }
    spark.stop()
  }
}
