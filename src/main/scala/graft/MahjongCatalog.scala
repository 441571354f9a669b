package graft

import org.apache.spark.sql.SparkSession

import graft.etl.Pipeline
import graft.functions.GraftFunctions

/** The Athena-replacement UX: register the 9 parsed tables (plus
  * paiyamas if generated) as temp views and the codec UDFs, so a
  * reference user points spark.sql at the same table names their Athena
  * queries use (README.md:2 — "analyze with Athena"). The 9 ETL
  * tables are read by their declared schema (`Pipeline.readTable`), so a
  * table dir with no data files registers as an empty view; paiyamas,
  * which WallGen writes outside the ETL, keeps schema inference.
  *
  * {{{
  *   MahjongCatalog.registerViews(spark, "/lake/tenhou")
  *   spark.sql("SELECT count(*) FROM kyokus WHERE dt = '2024-01-01'")
  * }}}
  */
object MahjongCatalog {
  def registerViews(spark: SparkSession, tablesDir: String): Unit = {
    (Pipeline.TableNames :+ "paiyamas").foreach { name =>
      if (new java.io.File(s"$tablesDir/$name").exists()) {
        val df =
          if (name == "paiyamas") Tables.parquet(spark, s"$tablesDir/$name")
          else Pipeline.readTable(spark, tablesDir, name)
        df.createOrReplaceTempView(name)
      }
    }
    GraftFunctions.register(spark)
    graft.expressions.GraftExtensions.install(spark)
  }
}
