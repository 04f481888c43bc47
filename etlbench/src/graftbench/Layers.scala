package graftbench

import scala.jdk.CollectionConverters._

/** Per-layer metrics of a traced run, each a per-timed-cycle average
  * unless its name says otherwise. Self time: a span's duration minus its
  * child spans, minus the Spark jobs it started (reported under `exec`)
  * and the Catalyst phases that began inside it (reported under `plan`). */
object Layers {
  import CountingFs._

  /** span-name prefixes, plus the Catalyst and Spark-job time split out of them */
  val SelfLayers = Seq("bench", "config", "engine", "sources", "bookmarks", "operators", "sinks",
    "versioned", "streaming", "plan", "exec")

  def compute(t: Tracer, sc: SparkCounters, pc: PlanCounters, st: StreamCounters,
              cycles: Seq[CycleRecord], windows: Seq[(Long, Long)], par: Int,
              liveFiles: Long, wl: Workload): Map[String, Double] = {
    val ids = cycles.map(_.i).toSet
    val n = cycles.size.toDouble
    def inWindows(ms: Long) = windows.exists { case (a, b) => ms >= a && ms <= b }
    val spans = t.spans.filter(s => ids(s.cycle)).toSeq
    val children = spans.groupBy(_.parent)
    def total(prefix: String) = spans.filter(_.name.startsWith(prefix)).map(_.seconds).sum / n
    def fsSum(ss: Seq[Span], cls: Seq[Int], op: Int, time: Boolean = false) =
      ss.filter(_.fs0.nonEmpty).map(s => cls.map(c => s.fs(if (time) tidx(c, op) else idx(c, op))).sum).sum
    val roots = spans.filter(s => s.name == "bench.cycle" || s.parent == -1)
    val allCls = 0 until Classes

    // Spark work keyed by (cycle, span)
    val aggs = sc.all.filter { case ((c, _), _) => ids(c) }
    val a = aggs.values
    def jobUnionS(span: Span): Double = aggs.get((span.cycle, span.id)).fold(0.0) { g =>
      val iv = g.jobIntervals.map { case (s, e) => (s.max(span.startMs), e.min(span.endMs)) }
        .filter { case (s, e) => e > s }.sortBy(_._1)
      var covered = 0L; var end = Long.MinValue
      iv.foreach { case (s, e) =>
        if (s > end) { covered += e - s; end = e }
        else if (e > end) { covered += e - end; end = e }
      }
      covered / 1e3
    }
    val plans = pc.executions.asScala.toSeq.filter { case (ms, _, _, _) => inWindows(ms) }
    def innermost(ms: Long): Option[Span] =
      spans.filter(s => s.startMs <= ms && ms <= s.endMs).sortBy(s => -s.startNs).headOption
    val planBySpan = plans.groupBy { case (ms, _, _, _) => innermost(ms).map(_.id).getOrElse(-1) }
      .map { case (k, xs) => k -> xs.map(x => x._2 + x._3 + x._4).sum }
    val selfBy = scala.collection.mutable.Map.empty[String, Double].withDefaultValue(0.0)
    spans.foreach { s =>
      val kids = children.getOrElse(s.id, Nil).map(_.seconds).sum
      val jobs = jobUnionS(s)
      val plan = planBySpan.getOrElse(s.id, 0.0)
      selfBy(s.layer) += (s.seconds - kids - jobs - plan).max(0.0)
      selfBy("exec") += jobs
      selfBy("plan") += plan
    }

    val progress = st.progress.asScala.toSeq.filter { case (ms, _, _, _) => inWindows(ms) }
    def dur(k: String*) = progress.map { case (_, d, _, _) => k.map(d.getOrElse(_, 0L)).sum }.sum / 1e3 / n
    val drain = total("streaming.runToSink")
    val trigger = dur("triggerExecution")

    val cycleWallS = cycles.map(_.wallS).sum
    val driverS = cycles.map { c =>
      val iv = aggs.collect { case ((cy, _), g) if cy == c.i => g.jobIntervals }.flatten.toSeq.sortBy(_._1)
      var covered = 0L; var end = Long.MinValue
      iv.foreach { case (s, e) =>
        if (s > end) { covered += e - s; end = e }
        else if (e > end) { covered += e - end; end = e }
      }
      (c.wallS - covered / 1e3).max(0.0)
    }.sum / n
    val skewPerCycle = cycles.flatMap { c =>
      val xs = aggs.collect { case ((cy, _), g) if cy == c.i => g.stageSkew }.flatten
      if (xs.isEmpty) None else Some(xs.max)
    }
    def cnt(name: String) = t.counts.collect { case ((c, k), v) if ids(c) && k == name => v }.sum
    val outRecs = a.map(_.outRecs).sum.toDouble
    val opSpans = spans.filter(_.layer == "operators")
    val opJobs = opSpans.flatMap(s => aggs.get((s.cycle, s.id))).map(_.jobs).sum
    val candidates = cnt("operators.candidate_pairs")
    val mb = 1e6

    Map(
      "config.parse_s" -> total("config.parse"),
      "engine.register_s" -> total("engine.register"),
      "engine.sql_s" -> (total("engine.sql") + total("engine.dml")),
      "plan.analysis_s" -> plans.map(_._2).sum / n,
      "plan.optimization_s" -> plans.map(_._3).sum / n,
      "plan.planning_s" -> plans.map(_._4).sum / n,
      "plan.executions" -> plans.size / n,
      "exec.jobs" -> a.map(_.jobs).sum / n,
      "exec.stages" -> a.map(_.stages).sum / n,
      "exec.tasks" -> a.map(_.tasks).sum / n,
      "exec.task_run_s" -> a.map(_.runMs).sum / 1e3 / n,
      "exec.task_cpu_s" -> a.map(_.cpuNs).sum / 1e9 / n,
      "exec.gc_s" -> a.map(_.gcMs).sum / 1e3 / n,
      "exec.shuffle_read_mb" -> a.map(_.shufRead).sum / mb / n,
      "exec.shuffle_write_mb" -> a.map(_.shufWrite).sum / mb / n,
      "exec.spill_mb" -> a.map(_.spill).sum / mb / n,
      "exec.skew_max" -> Stats.median(skewPerCycle),
      "exec.slot_busy_frac" -> a.map(_.runMs).sum / 1e3 / (cycleWallS * par),
      "exec.driver_s" -> driverS,
      "sources.files_opened" -> fsSum(roots, Seq(Data, Landing), Open) / n,
      "sources.bytes_read_mb" -> a.map(_.inBytes).sum / mb / n,
      "sources.rows_read" -> a.map(_.inRecs).sum / n,
      "sources.rows_read_per_row_out" -> (if (outRecs > 0) a.map(_.inRecs).sum / outRecs else 0.0),
      "bookmarks.plan_s" -> total("bookmarks.plan"),
      "bookmarks.files_listed" -> fsSum(spans.filter(_.name == "bookmarks.plan"), Seq(Landing), Listed) / n,
      "bookmarks.new_files" -> cnt("bookmarks.new_files") / n,
      "operators.dedup_s" -> total("operators."),
      "operators.jobs" -> opJobs / n,
      "operators.candidate_pairs" -> candidates / n,
      "operators.verified_frac" -> (if (candidates > 0) cnt("operators.verified_pairs") / candidates else 0.0),
      "sinks.write_s" -> total("sinks.write"),
      "sinks.commit_s" -> (Seq(Rename, Delete, Mkdirs).map(op => fsSum(roots, allCls, op, time = true)).sum +
        Seq(Create, Open).map(op => fsSum(roots, Seq(Manifest), op, time = true)).sum) / 1e9 / n,
      "sinks.files_written" -> fsSum(roots, Seq(Data), DataFile) / n,
      "sinks.bytes_written_mb" -> a.map(_.outBytes).sum / mb / n,
      "sinks.fs_ops" -> Seq(Create, Rename, Delete, Mkdirs).map(op => fsSum(roots, allCls, op)).sum / n,
      "versioned.merge_s" -> total("versioned.merge"),
      "versioned.read_s" -> total("versioned.read"),
      "versioned.versions_s" -> total("versioned.versions"),
      "versioned.manifest_opens" -> fsSum(roots, Seq(Manifest), Open) / n,
      "versioned.live_files" -> liveFiles.toDouble,
      "versioned.dv_frac" -> 0.0,
      "versioned.maint_s" -> (total("versioned.compactDeletes") + total("versioned.vacuumVersions")),
      "versioned.write_amp" -> (if (cnt("landed_bytes") > 0)
        a.map(_.outBytes).sum / cnt("landed_bytes") else 0.0),
      "streaming.drain_s" -> drain,
      "streaming.batches" -> progress.count(_._2.contains("addBatch")) / n,
      "streaming.add_batch_s" -> dur("addBatch"),
      "streaming.query_planning_s" -> dur("queryPlanning"),
      "streaming.offset_s" -> dur("latestOffset", "getOffset"),
      "streaming.get_batch_s" -> dur("getBatch"),
      "streaming.input_rows" -> progress.map(_._3).sum / n,
      "streaming.state_rows" -> progress.map(_._4).sum / n,
      "streaming.drain_overhead_s" -> (if (drain > 0) (drain - trigger).max(0.0) else 0.0),
      "jvm.gc_s" -> cycles.map(_.gcMs).sum / 1e3 / n,
      "jvm.jit_s" -> cycles.map(_.jitMs).sum / 1e3 / n,
      "jvm.heap_used_max_mb" -> JvmProbe.heapMaxBytes / 1048576.0,
      "trace.cycle_p50_s" -> Stats.median(cycles.map(_.wallS))
    ) ++ SelfLayers.map(l => s"self.${l}_s" -> selfBy(l) / n) ++ wl.layerExtras()
  }
}
