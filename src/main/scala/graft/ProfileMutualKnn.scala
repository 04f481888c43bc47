package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.scheduler.{SparkListener, SparkListenerStageCompleted}

/** ext121 bend profiler (r13 verdict #8 — stretch): the uncapped
  * mutual-kNN wall-clock grew 61 s → 139 s from 10x to 30x while the
  * within-cell candidate pairs grow 9x — sub-quadratic BETWEEN the
  * points, unexplained in BASELINE. This harness measures WHY, with
  * stage-level metrics instead of argument:
  *
  *   - exact candidate-pair counts from the cell-size distribution
  *     (Σ n·(n−1) over labels — no join run to count);
  *   - the label-key layout: the pair join partitions by `label`, and
  *     the fixture's label count is FIXED under ScaleCheck's copy
  *     scheme (embeddings repeat per copy) — so per-key quadratic work
  *     grows while the key count does not: the skew/parallelism story
  *     lives here;
  *   - phase wall-clocks: `knnGraph` (join+cosine+window) and full
  *     `mutualKnn`, with per-phase task counts, executor-time sums,
  *     and spill/shuffle bytes from a stage listener —
  *     executor-time ratio ≈ pair ratio with wall-clock ratio below it
  *     means better core utilization at 30x (AQE splitting the bigger
  *     skewed partitions finer), spill growth means memory-pressure
  *     amortization, etc. The numbers decide.
  *
  * Usage: `runMain graft.ProfileMutualKnn [dir ...]` (defaults: the
  * 10x and 30x ScaleCheck fixture roots, which must exist). Emits one
  * JSON line per dir.
  */
object ProfileMutualKnn {

  private final class PhaseMetrics extends SparkListener {
    @volatile var tasks = 0L
    @volatile var executorRunMs = 0L
    @volatile var memSpill = 0L
    @volatile var diskSpill = 0L
    @volatile var shuffleRead = 0L
    @volatile var shuffleWrite = 0L
    override def onStageCompleted(sc: SparkListenerStageCompleted): Unit = {
      val si = sc.stageInfo
      val m = si.taskMetrics
      synchronized {
        tasks += si.numTasks
        executorRunMs += m.executorRunTime
        memSpill += m.memoryBytesSpilled
        diskSpill += m.diskBytesSpilled
        shuffleRead += m.shuffleReadMetrics.totalBytesRead
        shuffleWrite += m.shuffleWriteMetrics.bytesWritten
      }
    }
    def snapshot: Map[String, Long] = synchronized {
      Map("tasks" -> tasks, "executor_run_ms" -> executorRunMs,
        "mem_spill" -> memSpill, "disk_spill" -> diskSpill,
        "shuffle_read" -> shuffleRead, "shuffle_write" -> shuffleWrite)
    }
  }

  def main(args: Array[String]): Unit = {
    val dirs = if (args.nonEmpty) args.toSeq
      else Seq("/tmp/graft-scale/sf0.1x10", "/tmp/graft-scale/sf0.1x30")
    val spark = GraftSession.local(extras = Seq(
      "spark.sql.files.maxPartitionBytes" -> (16 * 1024 * 1024).toString))
    spark.sparkContext.setLogLevel("WARN")
    import graft.operators.Similarity

    def phase(body: => Unit): (Double, Map[String, Long]) = {
      val l = new PhaseMetrics
      spark.sparkContext.addSparkListener(l)
      try {
        val t0 = System.nanoTime()
        body
        val secs = (System.nanoTime() - t0) / 1e9
        // stage-completed events arrive on the async listener bus, which
        // has no public drain — a settle sleep bounds the race (profiling
        // harness; phases run for tens of seconds, the bus drains in ms)
        Thread.sleep(2000)
        (secs, l.snapshot)
      } finally spark.sparkContext.removeSparkListener(l)
    }

    val out = dirs.map { dir =>
      val emb = spark.read.parquet(s"$dir/embeddings.parquet")
      // exact candidate pairs + key layout from the size distribution
      val cells = emb.groupBy("label").count()
        .agg(count(lit(1)).as("labels"),
          sum(col("count") * (col("count") - 1)).as("pairs"),
          max(col("count")).as("max_cell"),
          sum(col("count")).as("rows"))
        .head()
      val (graphSecs, graphM) = phase {
        Similarity.knnGraph(emb, "vec_id", "embedding", "label", 3)
          .write.format("noop").mode("overwrite").save()
      }
      val (fullSecs, fullM) = phase {
        Similarity.mutualKnn(emb, "vec_id", "embedding", "label", 3)
          .write.format("noop").mode("overwrite").save()
      }
      val js =
        s"""{"metric":"profile_mutual_knn","dir":"$dir",""" +
          s""""rows":${cells.getAs[Long]("rows")},"labels":${cells.getAs[Long]("labels")},""" +
          s""""pairs":${cells.getAs[Long]("pairs")},"max_cell":${cells.getAs[Long]("max_cell")},""" +
          s""""knn_graph_secs":$graphSecs,""" +
          graphM.map { case (k, v) => s""""graph_$k":$v""" }.mkString(",") + "," +
          s""""mutual_secs":$fullSecs,""" +
          fullM.map { case (k, v) => s""""full_$k":$v""" }.mkString(",") + "}"
      System.err.println(s"[profile] $js")
      js
    }
    out.foreach(println)
    spark.stop()
  }
}
