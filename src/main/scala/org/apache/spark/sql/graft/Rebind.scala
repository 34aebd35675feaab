package org.apache.spark.sql.graft

import org.apache.spark.sql.{DataFrame, SparkSession, classic}

/** A frame's analyzed plan as a query of session `s` (`Dataset.ofRows` is
  * `private[sql]`): the plan keeps the relations it was built from, and
  * optimization, physical planning, AQE and execution run under `s`'s
  * conf. */
object Rebind {
  def apply(s: SparkSession, df: DataFrame): DataFrame =
    classic.Dataset.ofRows(s.asInstanceOf[classic.SparkSession],
      df.asInstanceOf[classic.Dataset[_]].logicalPlan)
}
