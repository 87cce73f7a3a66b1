package org.apache.spark.sql.graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.classic

/** The one way an operator overrides session conf. `session` clones the
  * caller's session (same SparkContext and shared state, its own copy of
  * the caller's runtime conf) and applies the overrides to the clone, so
  * the caller's session, and every other thread using it, never sees
  * them. `rebind` hands a frame built in the clone back to the caller's
  * session: later planning of anything built on it uses the caller's
  * conf again, while a checkpoint inside keeps the partitioning and
  * ordering it was built with. */
object ScopedConf {

  def session(spark: SparkSession, overrides: (String, String)*): SparkSession = {
    val scoped = spark.asInstanceOf[classic.SparkSession].cloneSession()
    overrides.foreach { case (k, v) => scoped.conf.set(k, v) }
    scoped
  }

  def rebind(df: DataFrame, spark: SparkSession): DataFrame =
    classic.Dataset.ofRows(spark.asInstanceOf[classic.SparkSession],
      df.queryExecution.analyzed)
}
