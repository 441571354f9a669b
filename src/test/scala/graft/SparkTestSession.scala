package graft

import org.apache.spark.sql.SparkSession

/** One shared local session for all Spark-backed suites. */
object SparkTestSession {
  lazy val spark: SparkSession = {
    val s = GraftSession.local("4")
      .appName("graft-test")
      .config("spark.sql.warehouse.dir",
        java.nio.file.Files.createTempDirectory("graft_wh_").toString)
      .getOrCreate()
    // WARN, not the INFO default: the suite drives thousands of tiny
    // jobs through this one session, and at INFO the forked JVM spends
    // real wall time rendering scheduler/FileScanRDD log lines (the r17
    // driver run was killed at its budget mid-INFO-spam)
    s.sparkContext.setLogLevel("WARN")
    s
  }
}
