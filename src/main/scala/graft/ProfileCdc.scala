package graft

import org.apache.spark.sql.functions._

/** ext162/ext163 phase profiler (r15 verdict #4): the two CDC index
  * lifecycles are the #2/#3 close-bench rows (7.4 s / 5.1 s at r14
  * close), and OPTIMIZATION_r14 left them untouched as "largely
  * contract I/O — but unprofiled". This harness replays each query's
  * phases with wall timers so the round can decompose commit / drain /
  * index build / probe / self-dedup instead of arguing: the REQUIREs
  * and drains are contract, the question is whether the non-contract
  * phases (the equality-check re-derivations, the probe read
  * amplification) carry trimmable weight.
  *
  * Usage: `runMain graft.ProfileCdc [sfDir]` (default sf0.1). Emits one
  * `[profile]` stderr line per phase and a JSON summary line.
  */
object ProfileCdc {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val spark = GraftSession.local()
    spark.sparkContext.setLogLevel("WARN")
    import graft.operators.{Dedup, TextAnalysis}

    val timings = scala.collection.mutable.LinkedHashMap.empty[String, Double]
    def phase[A](name: String)(f: => A): A = {
      spark.sparkContext.setJobDescription(name)
      val t0 = System.nanoTime()
      val r = f
      val s = (System.nanoTime() - t0) / 1e9
      timings += name -> s
      System.err.println(f"[profile] $name%-28s $s%7.3f s")
      r
    }
    def docs = spark.read.parquet(s"$sfDir/documents.parquet")
      .filter(col("doc_id").isNotNull && col("text").isNotNull)

    // ---- ext163_minhash_cdc, phase by phase (mirrors the query body) --
    {
      val root = s"/tmp/graft-fw/${sfDir.replaceAll("[^A-Za-z0-9]", "_")}/mhcdc_prof"
      val p = new org.apache.hadoop.fs.Path(root)
      val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
      if (fs.exists(p)) fs.delete(p, true)
      val tbl = s"$root/tbl"; val ckpt = s"$root/ckpt"; val idx = s"$root/idx"
      val corpus = docs.select(col("doc_id"), col("text"))
      val isDelta = col("doc_id") % 5 === 2
      phase("163.commit_v1") {
        graft.sinks.VersionedTable.commit(spark, tbl, corpus.filter(!isDelta), "overwrite")
      }
      phase("163.drain_bootstrap_build") {
        graft.streaming.Streams.drainVersionedChanges(spark, tbl, ckpt) {
          (df, _, _) => Dedup.writeMinHashIndex(
            df.select(col("doc_id"), col("text")), "doc_id", "text", idx)
        }
      }
      val probed = phase("163.probe_delta") {
        Dedup.probeMinHashIndex(spark, idx, corpus.filter(isDelta),
            "doc_id", "text", threshold = 0.8)
          .select(least(col("doc_a"), col("doc_b")).as("doc_a"),
            greatest(col("doc_a"), col("doc_b")).as("doc_b"), col("jaccard"))
          .localCheckpoint()
      }
      phase("163.commit_append") {
        graft.sinks.VersionedTable.commit(spark, tbl, corpus.filter(isDelta), "append")
      }
      phase("163.drain_delta_append") {
        graft.streaming.Streams.drainVersionedChanges(spark, tbl, ckpt) {
          (df, _, _) => Dedup.appendToMinHashIndex(
            df.select(col("doc_id"), col("text")), "doc_id", "text", idx)
        }
      }
      val full = Dedup.lshPairsIndexed(spark, idx, threshold = 0.8)
      val cross = full.filter((col("doc_a") % 5 === 2) =!= (col("doc_b") % 5 === 2))
      phase("163.require_probe_eq_cross") {
        require(probed.exceptAll(cross).unionAll(cross.exceptAll(probed)).isEmpty)
      }
      phase("163.output_full_selfdedup") {
        full.write.format("noop").mode("overwrite").save()
      }
    }

    // ---- ext162_lexindex_cdc, phase by phase ------------------------
    {
      val base = s"/tmp/graft-fw/${sfDir.replaceAll("[^A-Za-z0-9]", "_")}/lexcdc_prof"
      val p = new org.apache.hadoop.fs.Path(base)
      val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
      if (fs.exists(p)) fs.delete(p, true)
      val tbl = s"$base/tbl"; val ckpt = s"$base/ckpt"; val idx = s"$base/idx"
      val corpus = docs.filter(col("doc_id") % 50 =!= 0)
        .select(col("doc_id"), col("text"))
      val isDelta = col("doc_id") % 7 === 3 && col("doc_id") < 10000000L
      phase("162.commit_v1") {
        graft.sinks.VersionedTable.commit(spark, tbl, corpus.filter(!isDelta), "overwrite")
      }
      phase("162.drain_bootstrap_build") {
        graft.streaming.Streams.drainVersionedChanges(spark, tbl, ckpt) {
          (df, _, _) => TextAnalysis.writeLexicalIndex(
            df.select(col("doc_id"), col("text")), "doc_id", "text", idx)
        }
      }
      phase("162.commit_append") {
        graft.sinks.VersionedTable.commit(spark, tbl, corpus.filter(isDelta), "append")
      }
      phase("162.drain_delta_append") {
        graft.streaming.Streams.drainVersionedChanges(spark, tbl, ckpt) {
          (df, _, _) => TextAnalysis.appendToLexicalIndex(
            df.select(col("doc_id"), col("text")), "doc_id", "text", idx)
        }
      }
      phase("162.probe_output") {
        import spark.implicits._
        val seekQ = Seq((1L, "dup dup"), (2L, "dup missingtoken"))
          .toDF("doc_id", "text") // the ext160/161/162 literal workload
        TextAnalysis.tfidfTopKIndexed(spark, idx, seekQ, "doc_id", "text", k = 5)
          .write.format("noop").mode("overwrite").save()
      }
    }

    val js = timings.map { case (k, v) => f""""$k":$v%.3f""" }.mkString("{", ",", "}")
    println(s"""{"metric":"cdc_profile","sf":"$sfDir","phases":$js}""")
    spark.stop()
  }
}
