package graftbench

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.GraftBenchBus
import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.bookmarks.BookmarkStore
import graft.config.{ConfigParser, JobSpec, SourceSpec}
import graft.engine.{Engine, SqlDml}
import graft.sinks.Sinks

/** One benchmark workload: a closed loop with a single client. `land`
  * puts cycle i's inputs in place (untimed); `cycle` is the timed unit of
  * user work and returns the input rows it processed. */
trait Workload {
  /** untimed warm-up cycles, run before timing starts */
  def warmup: Int
  /** the timed cycle count is a multiple of this (the maintenance
    * period), so every run does the same mix of work */
  def period: Int = 1
  /** calibrated cycle time; the timed cycle count is --seconds / this */
  def nominalCycleS: Double
  def setup(): Unit
  def land(i: Int): Unit = ()
  def cycle(i: Int): Long
  /** untimed check of what cycle i committed */
  def verify(i: Int): Boolean = true
  /** periodic maintenance after cycle i: timed apart from the cycle and
    * counted in rows_per_s; returns whether any ran */
  def maintenance(i: Int): Boolean = false
  /** untimed check of the final state; returns the failed cycle ids */
  def finalCheck(cycles: Seq[Int]): Seq[Int]
  /** every output table and checkpoint directory */
  def outputRoots: Seq[String]
  def liveRows(): Long
  /** live data files of the versioned tables */
  def liveFiles(): Long
  /** description of the inputs for the result record */
  def inputs: Map[String, Any]
  /** per-layer values the workload measures from final state */
  def layerExtras(): Map[String, Double] = Map.empty
}

/** Runs YAML jobs the way `Engine.runSparkSqlJob` does, one public call
  * per step so each gets its own span: bookmark plan/read of
  * `incremental_source` inputs, `Engine.registerInputs`,
  * `Engine.resolveSql`, `SparkSession.sql` (or `SqlDml.execute`),
  * `Sinks.write`, then the bookmark commit. Streaming and maintenance
  * jobs go through `Engine.run` whole. */
final class JobRunner(spark: SparkSession, val t: Tracer) {
  private val pipeline = "default"

  def parse(yaml: String): JobSpec = t.span("config.parse")(ConfigParser.parse(yaml))

  def batch(job: JobSpec, sinkSpan: String = "sinks.write", dmlSpan: String = "engine.dml"): DataFrame = {
    val vars = job.varsFor(pipeline) + ("pipeline_name" -> pipeline)
    val (incremental, plain) = job.inputTables.partition(_.incrementalSource)
    val commits = incremental.map { in =>
      val src = in.source.asInstanceOf[SourceSpec.File]
      val store = new BookmarkStore(spark, job.bookmarkPath.get)
      val plan = t.span("bookmarks.plan")(store.plan(s"$pipeline:${in.name}", src.location))
      t.count("bookmarks.new_files", plan.files.size.toDouble)
      t.span("bookmarks.read") {
        store.read(plan, src.format, src.options).createOrReplaceTempView(in.name)
      }
      () => t.span("bookmarks.commit")(store.commit(plan))
    }
    t.span("engine.register")(Engine.registerInputs(spark, job.copy(inputTables = plain), vars, pipeline))
    val sql = t.span("engine.resolveSql")(Engine.resolveSql(spark, job, vars))
    val result =
      if (SqlDml.isDml(sql)) t.span(dmlSpan)(SqlDml.execute(spark, job, vars, sql))
      else {
        val df = t.span("engine.sql")(spark.sql(sql))
        job.outputTable.foreach(out => t.span(sinkSpan)(Sinks.write(spark, df, out)))
        df
      }
    commits.foreach(_.apply())
    result
  }

  def whole(job: JobSpec, span: String): Unit =
    t.span(span)(Engine.run(spark, job, pipeline): Unit)
}

final case class CycleRecord(i: Int, wallS: Double, cpuS: Double, rows: Long,
                             gcMs: Long, jitMs: Long, startMs: Long, endMs: Long, ok: Boolean)

object Main {
  def main(args: Array[String]): Unit = {
    val opt = args.grouped(2).map(a => a(0).stripPrefix("--") -> a(1)).toMap
    val name = opt("workload")
    val seed = opt("seed").toLong
    val seconds = opt("seconds").toDouble
    val traced = opt("trace") == "1"
    val work = opt("work")
    val par = opt("parallelism").toInt
    val launchedMs = opt("launched-ms").toLong
    val loadStart = Hygiene.loadavg()

    val builder = SparkSession.builder()
      .master(s"local[$par]")
      .config("spark.sql.shuffle.partitions", par.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
    if (traced) builder.config("spark.hadoop.fs.file.impl", classOf[CountingFs].getName)
    val spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    graft.log.Log.enabled = false

    val sc = spark.sparkContext
    val counters = new SparkCounters(full = traced)
    sc.addSparkListener(counters)
    val planCounters = new PlanCounters
    val streamCounters = new StreamCounters
    if (traced) {
      spark.listenerManager.register(planCounters)
      spark.streams.addListener(streamCounters)
    }
    val tracer = new Tracer(traced, sc)
    val runner = new JobRunner(spark, tracer)
    val wl = Workloads.create(name, seed, s"$work/data", spark, runner)

    val sessionReadyMs = System.currentTimeMillis()
    wl.setup()
    val stagedMs = System.currentTimeMillis()
    // Spark work outside the timed cycle and its maintenance (landing
    // inputs, checks) runs under cycle id -1 so no counter sees it
    def runCycle(i: Int): CycleRecord = {
      tracer.setCycle(-1)
      wl.land(i)
      tracer.setCycle(i)
      val (c0, g0, j0, m0) = (JvmProbe.cpuNs, JvmProbe.gcMs, JvmProbe.jitMs, System.currentTimeMillis())
      val t0 = System.nanoTime()
      val rows = tracer.span("bench.cycle")(wl.cycle(i))
      val t1 = System.nanoTime()
      val rec = CycleRecord(i, (t1 - t0) / 1e9, (JvmProbe.cpuNs - c0) / 1e9, rows,
        JvmProbe.gcMs - g0, JvmProbe.jitMs - j0, m0, System.currentTimeMillis(), ok = true)
      tracer.setCycle(-1)
      rec.copy(ok = wl.verify(i))
    }
    final case class Maint(i: Int, wallS: Double, cpuS: Double, startMs: Long, endMs: Long)
    def runMaintenance(i: Int): Option[Maint] = {
      tracer.setCycle(i)
      val (c0, m0, t0) = (JvmProbe.cpuNs, System.currentTimeMillis(), System.nanoTime())
      val ran = wl.maintenance(i)
      tracer.setCycle(-1)
      if (!ran) None
      else Some(Maint(i, (System.nanoTime() - t0) / 1e9, (JvmProbe.cpuNs - c0) / 1e9,
        m0, System.currentTimeMillis()))
    }

    (0 until wl.warmup).foreach { i => runCycle(i); runMaintenance(i) }
    val n = {
      val raw = math.max(12, math.round(seconds / wl.nominalCycleS).toInt)
      ((raw + wl.period - 1) / wl.period) * wl.period
    }
    val timedStartMs = System.currentTimeMillis()
    val cycles = ArrayBuffer.empty[CycleRecord]
    val maints = ArrayBuffer.empty[Maint]
    // keeps a much slower program inside the run's time limit
    val deadline = System.nanoTime() + (math.max(100.0, 4 * seconds) * 1e9).toLong
    var i = wl.warmup
    while (cycles.size < n && (cycles.size < 12 || System.nanoTime() < deadline)) {
      cycles += runCycle(i)
      maints ++= runMaintenance(i)
      i += 1
    }
    val timedEndMs = System.currentTimeMillis()
    val peakRss = JvmProbe.peakRssMb

    // ---- untimed: state measures, then the output checks
    GraftBenchBus.drain(sc)
    val ids = cycles.map(_.i).toSet
    val storedBytes = wl.outputRoots.map(Hygiene.du).sum
    val liveRows = wl.liveRows()
    val liveFiles = wl.liveFiles()
    val dataFiles = wl.outputRoots.map(Hygiene.countDataFiles).sum
    val failedFinal = wl.finalCheck(cycles.map(_.i).toSeq).toSet
    val failed = cycles.count(c => !c.ok || failedFinal(c.i))

    val walls = cycles.map(_.wallS).sorted
    val timedWall = cycles.map(_.wallS).sum + maints.map(_.wallS).sum
    val e2e = Map(
      "setup_s" -> (cycles.head.startMs - launchedMs) / 1e3,
      "cycle_p50_s" -> Stats.median(walls.toSeq),
      "cycle_tail_s" -> walls(math.max(0, walls.size - 11)),
      "rows_per_s" -> cycles.map(_.rows).sum / timedWall,
      "cpu_s_per_cycle" -> (cycles.map(_.cpuS).sum + maints.map(_.cpuS).sum) / cycles.size,
      "peak_rss_mb" -> peakRss,
      "stored_bytes_per_row" -> storedBytes.toDouble / math.max(1L, liveRows))
    val aggs = counters.all.filter { case ((c, _), _) => ids(c) }.values
    val windows = (cycles.map(c => (c.startMs, c.endMs)) ++ maints.map(m => (m.startMs, m.endMs))).toSeq
    def inWindows(t: Long) = windows.exists { case (a, b) => t >= a && t <= b }
    val determinism = Map(
      "exec.jobs" -> aggs.map(_.jobs).sum.toDouble,
      "exec.stages" -> aggs.map(_.stages).sum.toDouble,
      "exec.tasks" -> aggs.map(_.tasks).sum.toDouble,
      "plan.executions" -> counters.executionStartMs.toArray.count(t => inWindows(t.asInstanceOf[Long])).toDouble,
      "sinks.files_written" -> dataFiles.toDouble,
      "versioned.live_files" -> liveFiles.toDouble,
      "stored_bytes_per_row" -> e2e("stored_bytes_per_row"))
    val perLayer =
      if (!traced) Map.empty[String, Double]
      else Layers.compute(tracer, counters, planCounters, streamCounters, cycles.toSeq,
        windows, par, liveFiles, wl)
    val jit = cycles.map(_.jitMs).sum / 1e3
    val record = Map(
      "workload" -> name, "seed" -> seed, "trace" -> traced,
      "correct" -> (failed == 0), "attempted" -> cycles.size, "failed" -> failed,
      "failed_cycles" -> cycles.filter(c => !c.ok || failedFinal(c.i)).map(_.i).toSeq,
      "end_to_end" -> e2e, "per_layer" -> perLayer, "determinism" -> determinism,
      "cycles" -> cycles.size, "warmup_cycles" -> wl.warmup,
      "cycle_walls_s" -> cycles.map(_.wallS).toSeq,
      "cycle_cpu_s" -> cycles.map(_.cpuS).toSeq,
      "cycle_jit_ms" -> cycles.map(_.jitMs).toSeq,
      "codegen_compilations" -> org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME.getCount,
      "maintenance_walls_s" -> maints.map(_.wallS).toSeq,
      "timed_section_s" -> (timedEndMs - timedStartMs) / 1e3,
      "timed_jit_s" -> jit, "timed_gc_s" -> cycles.map(_.gcMs).sum / 1e3,
      "inputs" -> wl.inputs,
      "setup_phases_s" -> Map("jvm_and_session" -> (sessionReadyMs - launchedMs) / 1e3,
        "stage_inputs" -> (stagedMs - sessionReadyMs) / 1e3,
        "warmup" -> (cycles.head.startMs - stagedMs) / 1e3),
      "hygiene" -> Map(
        "nproc" -> Runtime.getRuntime.availableProcessors(),
        "loadavg_start" -> loadStart, "loadavg_end" -> Hygiene.loadavg(),
        "spark_parallelism" -> par, "master" -> sc.master,
        "heap_max_mb" -> Runtime.getRuntime.maxMemory() / (1024 * 1024),
        "jvm_args" -> java.lang.management.ManagementFactory.getRuntimeMXBean.getInputArguments
          .toArray.map(_.toString).filter(a => a.startsWith("-X")).toSeq,
        "seed" -> seed))
    val w = new java.io.PrintWriter(opt("out"), "UTF-8")
    try w.write(Json.render(record)) finally w.close()
    spark.stop()
  }
}

object Stats {
  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) 0.0
    else if (s.size % 2 == 1) s(s.size / 2)
    else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }
}

object Hygiene {
  def loadavg(): String = {
    val src = scala.io.Source.fromFile("/proc/loadavg")
    try src.mkString.trim.split(" ").take(3).mkString(" ") finally src.close()
  }
  private def walk(root: String): Seq[java.io.File] = {
    def go(f: java.io.File): Seq[java.io.File] =
      if (f.isDirectory) Option(f.listFiles).toSeq.flatten.flatMap(go) else Seq(f)
    go(new java.io.File(root))
  }
  /** bytes on disk under root: every version, manifest, checksum and sidecar */
  def du(root: String): Long = walk(root).map(_.length).sum
  def countDataFiles(root: String): Int =
    walk(root).count(f => f.getName.startsWith("part-") && !f.getName.endsWith(".crc"))
}

object Json {
  private def str(s: String) = "\"" + s.flatMap {
    case '"' => "\\\""; case '\\' => "\\\\"; case '\n' => "\\n"
    case c if c < ' ' => f"\\u${c.toInt}%04x"; case c => c.toString
  } + "\""
  def render(v: Any): String = v match {
    case null => "null"
    case s: String => str(s)
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case f: Float => render(f.toDouble)
    case n: Int => n.toString
    case n: Long => n.toString
    case m: Map[_, _] => m.toSeq.sortBy(_._1.toString)
      .map { case (k, x) => str(k.toString) + ":" + render(x) }.mkString("{", ",", "}")
    case xs: Iterable[_] => xs.map(render).mkString("[", ",", "]")
    case other => str(other.toString)
  }
}
