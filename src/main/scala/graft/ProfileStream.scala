package graft

import org.apache.spark.sql.streaming.StreamingQueryListener

/** Streaming micro-batch FLOOR decomposition (r15 verdict #6): the st*
  * tier is ~90 s of bench total at ~0.25 s/batch and the r14 audit
  * left it alone on semantic grounds (the 4-shard maxFilesPerTrigger=1
  * replay IS the watermark/state contract). Before anyone touches that
  * machinery, measure where a batch's time actually goes: this harness
  * attaches a StreamingQueryListener and, for each named query, sums
  * the per-batch `durationMs` phases Spark itself reports
  * (addBatch = plan+run the batch job, walCommit/commitOffsets =
  * offset-log fsyncs, getBatch/latestOffset = source listing,
  * queryPlanning = incremental planning) across every micro-batch the
  * query's drains run. Emits one [profile] line per query with the
  * phase sums and batch count, plus a JSON summary.
  *
  * Usage: `runMain graft.ProfileStream [sfDir] [query ...]`
  * (defaults: sf0.1; st01_stream_window st22_stream_sessionize_tws
  * st04_stream_join — the stateless / stateful / join floors).
  */
object ProfileStream {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val names = if (args.length > 1) args.drop(1).toSeq
      else Seq("st01_stream_window", "st22_stream_sessionize_tws",
        "st04_stream_join")
    val spark = GraftSession.local()
    spark.sparkContext.setLogLevel("WARN")

    val phases = scala.collection.concurrent.TrieMap
      .empty[String, Long].withDefaultValue(0L)
    val batches = new java.util.concurrent.atomic.AtomicLong(0)
    spark.streams.addListener(new StreamingQueryListener {
      override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
      override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
      override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
        batches.incrementAndGet()
        e.progress.durationMs.forEach { (k, v) =>
          phases.put(k, phases(k) + v)
        }
      }
    })

    val rows = names.map { name =>
      phases.clear(); batches.set(0)
      val t0 = System.nanoTime()
      SparkEntry.queries(name)(spark, sfDir)
        .write.format("noop").mode("overwrite").save()
      // listener-bus delivery is asynchronous — let the tail drain
      Thread.sleep(1500)
      val wall = (System.nanoTime() - t0) / 1e9
      val snap = phases.toMap
      val n = batches.get()
      System.err.println(f"[profile] $name%-28s wall=$wall%6.2f s batches=$n " +
        snap.toSeq.sortBy(-_._2).map { case (k, v) => s"$k=${v}ms" }.mkString(" "))
      name -> (wall, n, snap)
    }
    val js = rows.map { case (n, (w, b, m)) =>
      s""""$n":{"wall_s":${f"$w%.2f"},"batches":$b,${
        m.toSeq.sortBy(-_._2).map { case (k, v) => s""""$k":$v""" }.mkString(",")}}"""
    }.mkString("{", ",", "}")
    println(s"""{"metric":"stream_profile","sf":"$sfDir","queries":$js}""")
    spark.stop()
  }
}
