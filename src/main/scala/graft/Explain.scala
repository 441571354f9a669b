package graft

/** Plan audit. With query names, prints their formatted physical plans,
  * so pushdown / pruning / broadcast / whole-stage-codegen are
  * reviewable. Without, prints one operator-census line per key of
  * [[SparkEntry.queries]] — SMJ/SHJ/BHJ/broadcast-NLJ counts, cartesian
  * products, Exchanges and Windows — so accidental sort-merge joins and
  * exchange-heavy shapes stand out across the whole registry at once; a
  * key whose plan fails to build prints an `ERROR` line instead.
  * Usage: runMain graft.Explain [sfDir] [query ...]
  */
object Explain {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.001")
    val names = args.drop(1).toSeq
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = GraftSession.local(cpus).getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    if (names.nonEmpty) names.foreach { n =>
      println(s"\n===== $n =====")
      SparkEntry.queries(n)(spark, sfDir).explain("formatted")
    } else SparkEntry.queries.toSeq.sortBy(_._1).foreach { case (name, fn) =>
      try {
        val plan = fn(spark, sfDir).queryExecution.executedPlan.toString
        println(f"[audit] $name%-32s ${census(plan)}")
      } catch {
        case e: Throwable =>
          println(s"[audit] $name ERROR ${e.getClass.getSimpleName}: " +
            s"${Option(e.getMessage).getOrElse("").take(120)}")
      }
    }
    spark.stop()
  }

  /** Operator counts of a physical plan's tree string. */
  private def census(plan: String): String = {
    def count(what: String): Int = what.r.findAllIn(plan).size
    val exch = Seq("hashpartitioning", "rangepartitioning", "RoundRobinPartitioning",
                   "SinglePartition").map(p => count(s"Exchange $p")).sum
    s"smj=${count("SortMergeJoin")} shj=${count("ShuffledHashJoin")} " +
      s"bhj=${count("BroadcastHashJoin")} bnlj=${count("BroadcastNestedLoopJoin")} " +
      s"cart=${count("CartesianProduct")} exch=$exch " +
      // WindowExec prints as Window
      s"win=${count("Window\\b")}"
  }
}
