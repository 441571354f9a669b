package graft

/** Plan audit: print formatted physical plans for selected queries so
  * pushdown / pruning / broadcast / whole-stage-codegen are reviewable.
  * Usage: runMain graft.Explain [sfDir] [query ...]
  */
object Explain {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.001")
    val names = if (args.length > 1) args.drop(1).toSeq
                else Seq("q_scan_pruned", "q_agg_group", "q_join_broadcast",
                         "q_topk_global", "q_join_multiway", "q_sim_topk",
                         "q_join_asof_native", "q_headline_shipping",
                         "q_sim_knn_join", "q_pipeline_clean")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = GraftSession.local(cpus).getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    names.foreach { n =>
      println(s"\n===== $n =====")
      SparkEntry.queries(n)(spark, sfDir).explain("formatted")
    }
    spark.stop()
  }
}
