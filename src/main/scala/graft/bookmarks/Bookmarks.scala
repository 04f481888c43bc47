package graft.bookmarks

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.lit
import graft.util.Json

/** Incremental-source bookmark — reference A22: Glue job bookmarks track
  * processed input per `transformation_ctx` so re-runs skip old files
  * (`glue/glue_etl_framework.py:101,115,186,227,438`). Glue keeps that
  * state in its service; the OSS analog here is a high-watermark store:
  * a JSON file of `source -> {watermark, seen files}`.
  *
  * Design (SURVEY §7 risk 3 — deterministic and testable):
  *   - `plan()` lists the location ONCE and pins the exact file set with
  *     mtime > watermark (and not already seen), plus the max planned
  *     mtime. Reading explicit paths rather than Spark's `modifiedAfter`
  *     option avoids two correctness holes: the option's
  *     second-granularity timestamp parse, and a commit that re-lists the
  *     directory and could advance the watermark past files that were
  *     never read (landed mid-run) — silently dropping them forever.
  *   - `commit()` persists state only after the job's sink write succeeds
  *     (Engine calls it like the reference's trailing `job.commit()`,
  *     `:438`) — a failed run reprocesses.
  *   - The committed watermark LAGS the max planned mtime by
  *     `graceLagMs`, and files inside the lag window are deduped by PATH
  *     (the `seen` map): a file that becomes visible only after the
  *     listing but carries an older mtime (slow multi-part upload,
  *     committer rename preserving a staged mtime, clock skew) is still
  *     picked up on the next run, while files already processed in that
  *     window are never re-read. A bare watermark has a landing-window
  *     hole; a bare grace lag double-reads — it takes both.
  *
  * Scale: the driver-side listing is the same FileSystem listing Spark's
  * own FileIndex performs on every read; no extra cost class. The `seen`
  * map holds only files with mtime inside the lag window — bounded by the
  * producer's write rate × lag, not by history.
  */
class BookmarkStore(spark: SparkSession, statePath: String,
                    graceLagMs: Long = 60000L) {
  private val hadoopConf = spark.sparkContext.hadoopConfiguration

  private def fs(p: org.apache.hadoop.fs.Path) = p.getFileSystem(hadoopConf)

  /** Per-source state: everything at or before `watermark` is done;
    * inside the lag window above it, `seen` (path -> mtime) lists what
    * was already processed. */
  final case class SourceMark(watermark: Long, seen: Map[String, Long])
  private val emptyMark = SourceMark(Long.MinValue, Map.empty)

  /** Exact incremental read plan: the new files and the watermark to
    * commit once they are durably processed. `planned` carries each
    * file's mtime so commit can pin the seen-set. */
  final case class IncrementalPlan(source: String, files: Seq[String],
                                   newWatermark: Long, location: String,
                                   planned: Map[String, Long] = Map.empty)

  def load(): Map[String, SourceMark] = {
    val p = new org.apache.hadoop.fs.Path(statePath)
    val f = fs(p)
    if (!f.exists(p)) Map.empty
    else {
      val in = f.open(p)
      val text = try scala.io.Source.fromInputStream(in, "UTF-8").mkString finally in.close()
      parse(text)
    }
  }

  /** Replace the state file atomically: a crash mid-save leaves the
    * previous state readable, never a torn file. */
  def save(marks: Map[String, SourceMark]): Unit = {
    val p = new org.apache.hadoop.fs.Path(statePath)
    graft.util.Fs.replace(fs(p), p, render(marks).getBytes("UTF-8"))
  }

  /** True when any path component BELOW `root` is hidden (`_`/`.`
    * prefix) — files inside `_temporary/`, `.staging/` etc. must never be
    * planned: they can vanish at committer rename, and rename preserves
    * mtime, so a watermark taken from them would silently skip the
    * finalized file forever. (Spark's own FileIndex applies this filter
    * at every directory level; a leaf-name check is not enough.) */
  private def underHiddenDir(root: org.apache.hadoop.fs.Path,
                             file: org.apache.hadoop.fs.Path): Boolean = {
    var p = file
    while (p != null && p != root) {
      val n = p.getName
      if (n.startsWith("_") || n.startsWith(".")) return true
      p = p.getParent
    }
    false
  }

  /** List `location` recursively; keep visible data files newer than the
    * stored watermark for `source` and not already in its seen-set. A
    * seen path whose CURRENT mtime is newer than the recorded one is a
    * rewrite-in-place — it carries data the recorded read never saw, so it
    * is planned again (and commit then advances its seen mtime); skipping
    * purely by path would drop the rewrite forever, since with no other
    * arrivals the watermark never advances to flush it out of `seen`. A
    * not-yet-existing location (producer hasn't written anything) is an
    * empty plan, not an error. */
  def plan(source: String, location: String): IncrementalPlan = {
    val mark = load().getOrElse(source, emptyMark)
    val root = new org.apache.hadoop.fs.Path(location)
    val f = fs(root)
    val picked = Map.newBuilder[String, Long]
    var maxT = mark.watermark
    if (f.exists(root)) {
      val qualifiedRoot = f.makeQualified(root)
      graft.util.Fs.leafFiles(f, root).foreach { st =>
        val path = st.getPath.toString
        if (!underHiddenDir(qualifiedRoot, st.getPath) &&
            st.getModificationTime > mark.watermark &&
            mark.seen.get(path).forall(_ < st.getModificationTime)) {
          picked += path -> st.getModificationTime
          if (st.getModificationTime > maxT) maxT = st.getModificationTime
        }
      }
    }
    val planned = picked.result()
    IncrementalPlan(source, planned.keys.toSeq.sorted, maxT, location, planned)
  }

  /** Read the planned files (through [[graft.sources.Sources.loadFiles]]:
    * a parquet plan opens with one driver-side footer read, no Spark
    * job). An empty plan returns an empty frame with the location's
    * schema (schema-only read, no data scan); if the location has no
    * data at all, that schema can't exist — fail with a named error
    * instead of UNABLE_TO_INFER_SCHEMA. */
  def read(plan: IncrementalPlan, format: String,
           options: Map[String, String] = Map.empty): DataFrame = {
    if (plan.files.nonEmpty) graft.sources.Sources.loadFiles(spark, format, options, plan.files)
    else try spark.read.format(format).options(options).load(plan.location).filter(lit(false))
    catch { case e: org.apache.spark.sql.AnalysisException =>
      throw new graft.config.ConfigError(
        s"incremental source '${plan.source}': location '${plan.location}' has no readable " +
          s"data yet, so an empty typed frame cannot be built (${e.getErrorClass})")
    }
  }

  /** Persist the plan's watermark (lagged by `graceLagMs`) and seen-set —
    * call only after the downstream write succeeded. The watermark never
    * regresses; seen keeps exactly the processed files still inside the
    * lag window. */
  def commit(plan: IncrementalPlan): Unit =
    if (plan.planned.nonEmpty) {
      val marks = load()
      val old = marks.getOrElse(plan.source, emptyMark)
      val committed = math.max(old.watermark, plan.newWatermark - graceLagMs)
      val seen = (old.seen ++ plan.planned).filter { case (_, t) => t > committed }
      save(marks + (plan.source -> SourceMark(committed, seen)))
    }

  // JSON written with Json.str, read via snakeyaml (YAML ⊇ JSON flow
  // style — same parser the config layer uses; it rejects raw control
  // characters, which Json.str always escapes). Legacy flat
  // {"source": millis} files load as a bare watermark with an empty
  // seen-set.
  private def render(m: Map[String, SourceMark]): String = {
    m.toSeq.sortBy(_._1).map { case (src, mark) =>
      val seen = mark.seen.toSeq.sorted
        .map { case (p, t) => s"${Json.str(p)}: $t" }.mkString("{", ", ", "}")
      s"${Json.str(src)}: {\"watermark\": ${mark.watermark}, \"seen\": $seen}"
    }.mkString("{", ", ", "}")
  }

  private def parse(text: String): Map[String, SourceMark] = {
    val root = new org.yaml.snakeyaml.Yaml().load[Any](text)
    if (root == null) Map.empty
    else root.asInstanceOf[java.util.Map[Any, Any]].asScala.map {
      case (k, v: java.lang.Number) => // legacy flat format
        String.valueOf(k) -> SourceMark(v.longValue(), Map.empty)
      case (k, v: java.util.Map[_, _]) =>
        val m = v.asScala.map { case (a, b) => String.valueOf(a) -> b }
        val seen = m.get("seen") match {
          case Some(s: java.util.Map[_, _]) => s.asScala.map {
            case (p, t: java.lang.Number) => String.valueOf(p) -> t.longValue()
            case (p, t) => throw new graft.config.ConfigError(
              s"bookmark state: bad seen mtime for '$p': $t")
          }.toMap
          case _ => Map.empty[String, Long]
        }
        String.valueOf(k) -> SourceMark(
          m.get("watermark").collect { case n: java.lang.Number => n.longValue() }
            .getOrElse(throw new graft.config.ConfigError(
              s"bookmark state: source '$k' has no watermark")), seen)
      case (k, v) => throw new graft.config.ConfigError(
        s"bookmark state: unrecognized entry '$k': $v")
    }.toMap
  }
}
