package org.apache.spark.sql.classic

import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.internal.SQLConf

/** Bridge into the package-private Dataset constructor so graft's custom
  * logical plans (plans.AsOfJoin) can become DataFrames. Lives in
  * Spark's classic package purely for access; contains no query logic.
  */
object GraftShim {
  def ofRows(spark: org.apache.spark.sql.SparkSession,
             plan: LogicalPlan): org.apache.spark.sql.DataFrame =
    Dataset.ofRows(spark.asInstanceOf[SparkSession], plan)

  /** A copy of `spark` with its own session state: the caller's runtime
    * conf, temp views, functions and listeners are copied, and conf set
    * on the copy never reaches the caller. (`newSession()` would start
    * from the static conf and drop the caller's runtime conf.)
    *
    * Copies share the application's executor class loader, and with it
    * Spark's codegen cache, which is keyed by class loader: with artifact
    * isolation on, every copy would get a loader of its own, so a call
    * could never reuse the classes an earlier call compiled. Isolation
    * is fixed when a session's artifact manager is made, from the conf
    * it is made with, so the copy is cloned from an intermediate copy
    * that has isolation off. Artifacts the caller added to its session
    * are therefore not on the copy's executor class path: the copies run
    * only Spark's and graft's own classes.
    */
  def cloneSession(spark: org.apache.spark.sql.SparkSession)
      : org.apache.spark.sql.SparkSession = {
    val copy = spark.asInstanceOf[SparkSession].cloneSession()
    copy.conf.set(SQLConf.ARTIFACTS_SESSION_ISOLATION_ENABLED.key, "false")
    copy.cloneSession()
  }

  /** Spark 4 Columns wrap ColumnNodes; recover the catalyst Expression. */
  def expression(c: org.apache.spark.sql.Column)
      : org.apache.spark.sql.catalyst.expressions.Expression =
    ExpressionUtils.expression(c)

  /** Wrap a catalyst Expression as a Column — lets query code use custom
    * expressions (VectorCosine, …) directly, with no dependence on the
    * session's function registry.
    */
  def column(e: org.apache.spark.sql.catalyst.expressions.Expression)
      : org.apache.spark.sql.Column =
    ExpressionUtils.column(e)
}
