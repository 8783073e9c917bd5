package org.apache.spark.sql.graft

import org.apache.spark.sql.{SparkSession, SparkSessionExtensions}

/** The optimizer, post-planner, query-stage-prep and columnar rules an
  * extension set hands a session, for specs that count them.
  */
object ExtensionRules {
  def of(ext: SparkSessionExtensions, spark: SparkSession): Seq[AnyRef] =
    ext.buildOptimizerRules(spark) ++ ext.buildQueryPostPlannerStrategyRules(spark) ++
      ext.buildQueryStagePrepRules(spark) ++ ext.buildColumnarRules(spark)
}
