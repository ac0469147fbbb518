package org.apache.spark.sql.graft

import org.apache.spark.sql.{DataFrame, classic}

/** A cached DataFrame's rows as a one-leaf plan over its cache, however
  * long its lineage. Read it only while `df` stays cached: a scan of a
  * dropped cache would quietly rebuild it. */
object CachedRows {
  def of(df: DataFrame): DataFrame = classic.Dataset.ofRows(
    df.sparkSession.asInstanceOf[classic.SparkSession],
    df.queryExecution.withCachedData)
}
