package org.apache.spark.sql

import org.apache.spark.internal.io.FileCommitProtocol
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.execution.SQLExecution
import org.apache.spark.sql.execution.datasources.{BasicWriteJobStatsTracker, DataSource, FileFormat, FileFormatWriter, WriteJobStatsTracker}
import org.apache.spark.sql.execution.datasources.v2.FileDataSourceV2
import org.apache.spark.util.SerializableConfiguration

/** The `private[sql]` doorways graft needs: turn a hand-built
  * LogicalPlan into a DataFrame, parse SQL with the session's parser,
  * build the Hadoop conf a file read runs with, write a frame's files
  * through a caller's commit protocol, read the typed SQL conf, apply
  * Spark's hidden-path rule, and size an RDD's stored blocks. Lives in
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

  /** The session's SQL conf, typed (`spark.conf.get` returns strings). */
  def sqlConf(spark: SparkSession): internal.SQLConf =
    spark.asInstanceOf[classic.SparkSession].sessionState.conf

  /** True for a file or directory name a file-source listing skips
    * (Spark's hidden-path rule: `_`/`.` prefixes and `._COPYING_`,
    * except the `_metadata`/`_common_metadata` summary files). */
  def hiddenPathName(name: String): Boolean =
    org.apache.spark.util.HadoopFSUtils.shouldFilterOutPathName(name)

  /** Bytes the block manager holds for `rdd`'s cached or checkpointed
    * blocks, memory plus disk, over every block manager. Read from the
    * block manager master on the driver (one local RPC, no job); tasks
    * report each stored block before they finish, so the figure is
    * complete once the materializing job has returned.
    * `SparkContext.getRDDStorageInfo` is not that figure: it reads the
    * status store, which the listener bus fills asynchronously (and at
    * most every `spark.ui.liveUpdate.period`), so right after the job it
    * can read low or zero and send a large graph to the driver. */
  def storedBytes(rdd: org.apache.spark.rdd.RDD[_]): Long =
    org.apache.spark.SparkEnv.get.blockManager.master.getStorageStatus.iterator
      .flatMap(_.rddBlocks.iterator)
      .collect { case (org.apache.spark.storage.RDDBlockId(id, _), b) if id == rdd.id =>
        b.memSize + b.diskSize }
      .sum

  /** The file format `format` names, as `df.write.format(format)`
    * resolves it (a v2 file source falls back to its v1 format); None
    * when it is not a file format. */
  def fileFormat(spark: SparkSession, format: String): Option[FileFormat] =
    DataSource.lookupDataSource(format, spark.asInstanceOf[classic.SparkSession].sessionState.conf)
      .getConstructor().newInstance() match {
      case f: FileFormat => Some(f)
      case v2: FileDataSourceV2 => Some(v2.fallbackFileFormat.getConstructor().newInstance())
      case _ => None
    }

  /** Write `df`'s rows as unpartitioned `fileFormat` files under `dir`
    * with `committer` naming and committing them — the same
    * `FileFormatWriter` job `df.write.save` runs, with the caller's
    * commit protocol and stats trackers beside Spark's own (which keeps
    * the task output metrics). One SQL execution on `df`'s own
    * QueryExecution, so QueryExecutionListeners and Observations see the
    * write exactly once. */
  def writeFiles(df: DataFrame, fileFormat: FileFormat, options: Map[String, String],
                 dir: String, committer: FileCommitProtocol,
                 trackers: Seq[WriteJobStatsTracker]): Unit = {
    val ds = df.asInstanceOf[classic.Dataset[_]]
    val spark = ds.sparkSession
    val qe = ds.queryExecution
    val hadoopConf = spark.sessionState.newHadoopConfWithOptions(options)
    util.SchemaUtils.checkColumnNameDuplication(df.columns.toSeq,
      spark.sessionState.conf.caseSensitiveAnalysis)
    SQLExecution.withNewExecutionId(qe, Some("save")) {
      val plan = qe.executedPlan
      plan.resetMetrics()
      val output = plan.output.zip(df.schema.fieldNames).map { case (a, n) => a.withName(n) }
      FileFormatWriter.write(spark, plan, fileFormat, committer,
        FileFormatWriter.OutputSpec(dir, Map.empty, output), hadoopConf,
        partitionColumns = Nil, bucketSpec = None,
        statsTrackers = trackers :+ new BasicWriteJobStatsTracker(
          new SerializableConfiguration(hadoopConf), BasicWriteJobStatsTracker.metrics),
        options = options): Unit
    }
  }
}
