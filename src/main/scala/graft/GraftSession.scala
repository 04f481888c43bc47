package graft

import org.apache.spark.sql.SparkSession

/** The one place a graft SparkSession is built. Two parts:
  *
  *   - [[resultConf]]: settings that change what a query returns. Every
  *     graft session carries them — `EtlMain` jobs, the local harnesses
  *     and the tests — so a YAML job, `Bench`, `Verify` and `Explain` plan
  *     and answer the same SQL the same way;
  *   - [[localConf]]: the shape of a single-JVM harness (`local[n]`, one
  *     shuffle partition per core, no UI, a fixed warehouse dir).
  *
  * Later pairs win, as with repeated `builder.config` calls, so callers
  * append their extras and overrides. */
object GraftSession {

  val resultConf: Seq[(String, String)] = Seq(
    "spark.sql.session.timeZone" -> "UTC",
    "spark.sql.legacy.parquet.nanosAsLong" -> "true", // events.parquet
    // naive timestamps read as TimestampType (UTC session), not NTZ
    "spark.sql.parquet.inferTimestampNTZ.enabled" -> "false",
    "spark.sql.extensions" -> "graft.sql.GraftExtensions")

  /** Core count of the local harnesses: `SPARK_GRAFT_CPUS`, default 32. */
  def envCpus: Int = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt

  /** [[resultConf]], the local harness shape on `cpus` cores, then `extras`. */
  def localConf(cpus: Int = envCpus,
                extras: Seq[(String, String)] = Nil): Seq[(String, String)] =
    resultConf ++ Seq(
      "spark.master" -> s"local[$cpus]",
      "spark.sql.shuffle.partitions" -> cpus.toString,
      "spark.ui.enabled" -> "false",
      "spark.sql.warehouse.dir" -> "/tmp/graft-warehouse") ++ extras

  /** A local harness session (see [[localConf]]). */
  def local(cpus: Int = envCpus,
            extras: Seq[(String, String)] = Nil): SparkSession =
    create(localConf(cpus, extras))

  def create(conf: Seq[(String, String)]): SparkSession =
    conf.foldLeft(SparkSession.builder()) { case (b, (k, v)) => b.config(k, v) }
      .getOrCreate()
}
