package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    // args: <sfDir> <outDir> [queryName ...] — the driver passes two;
    // extra names restrict the dump for fast local iteration
    val sfDir = args(0)
    val outDir = args(1)
    val only = args.drop(2).toSet
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = GraftSession.local(cpus).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    new java.io.File(outDir).mkdirs()
    // Per-query failures are collected into outDir/errors.json and the
    // process exits non-zero — a stderr whisper let round 12 lose 26
    // keys to one schema drift before anyone noticed. The dump itself
    // stays best-effort: one broken query must not block the other 100+.
    val errors = scala.collection.mutable.LinkedHashMap.empty[String, String]
    SparkEntry.queries
      .filter { case (name, _) => only.isEmpty || only(name) }
      .foreach { case (name, fn) =>
      try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        System.err.println(s"[verify] $name FAILED: ${e.getMessage}")
        errors(name) = s"${e.getClass.getName}: ${Option(e.getMessage).getOrElse("").take(500)}"
      }
    }
    import GraftSession.jstr
    // bind per-data-dir scratch handoff paths into the dumped SQL: the
    // static oracle strings carry a placeholder tag (see queries.Scratch)
    // so the SQL DuckDB executes names exactly the file this run wrote
    val json = SparkEntry.oracleSql
      .map { case (k, v) =>
        s"${jstr(k)}: ${jstr(graft.queries.Scratch.resolveSql(v, sfDir))}" }
      .mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    val errJson = errors
      .map { case (k, v) => s"${jstr(k)}: ${jstr(v)}" }
      .mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/errors.json"), errJson)
    spark.stop()
    if (errors.nonEmpty) {
      System.err.println(s"[verify] ${errors.size} queries FAILED — see $outDir/errors.json")
      sys.exit(1)
    }
  }
}
