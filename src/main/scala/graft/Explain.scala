package graft

/** Plan-audit tool: prints the formatted physical plan for the named
  * queries (all when none given). Usage:
  *   runMain graft.Explain <sfDir> [query ...]
  * Scale review checklist (what to look for): PushedFilters / ReadSchema
  * on scans (pushdown + pruning), BroadcastHashJoin for KB-sized dims,
  * no single-partition Window/Sort on data-sized inputs, wide
  * WholeStageCodegen spans. Plans on Bench's session
  * ([[GraftSession.local]]), so what it prints is what Bench runs.
  */
object Explain {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.01")
    val names = if (args.length > 1) args.drop(1).toSeq
                else SparkEntry.queries.keys.toSeq.sorted
    val spark = GraftSession.local()
    spark.sparkContext.setLogLevel("ERROR")
    names.foreach { n =>
      println(s"\n===== $n =====")
      try println(SparkEntry.queries(n)(spark, sfDir).queryExecution.explainString(
        org.apache.spark.sql.execution.FormattedMode))
      catch { case e: Throwable => println(s"(failed: ${e.getMessage})") }
    }
    spark.stop()
  }
}
