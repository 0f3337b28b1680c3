package org.apache.spark.sql

/** Spark's own session clone, which Spark keeps package-private: a new
  * session on the same SparkContext and cache, with copies of the
  * source session's SQL conf, temporary views, functions and registered
  * query-execution listeners. `newSession()` would start with no
  * listeners, so a caller's `QueryExecutionListener` would stop seeing
  * the queries run in it. */
object GraftCloneSession {
  def apply(spark: SparkSession): SparkSession =
    spark.asInstanceOf[classic.SparkSession].cloneSession()
}
