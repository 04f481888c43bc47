package org.apache.spark.sql

import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan

/** The `private[sql]` doorways graft needs: turn a hand-built
  * LogicalPlan into a DataFrame, parse SQL with the session's parser,
  * and build the Hadoop conf a file read runs with. Lives in
  * `org.apache.spark.sql` for the access scope only — the standard
  * pattern for Spark-extension libraries that contribute their own plan
  * nodes (no Spark internals are modified or shadowed here).
  */
object GraftSqlBridge {
  def ofRows(spark: SparkSession, plan: LogicalPlan): DataFrame =
    classic.Dataset.ofRows(spark.asInstanceOf[classic.SparkSession], plan)

  /** Parse SQL text with the session's own parser (dialect flags, ANSI
    * mode and extension-injected parser rules all apply) — used by the
    * DML router to obtain Catalyst MergeIntoTable/UpdateTable/
    * DeleteFromTable command nodes instead of regexing SQL. */
  def parsePlan(spark: SparkSession, sql: String): LogicalPlan =
    spark.asInstanceOf[classic.SparkSession].sessionState.sqlParser.parsePlan(sql)

  /** The Hadoop conf a `spark.read` with these options reads files
    * with: the session's conf overlaid with the reader options (the
    * same call the file-source readers make). */
  def newHadoopConf(spark: SparkSession,
                    options: Map[String, String]): org.apache.hadoop.conf.Configuration =
    spark.asInstanceOf[classic.SparkSession].sessionState.newHadoopConfWithOptions(options)
}
