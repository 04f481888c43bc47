package graft.log

import graft.util.Json

/** Structured JSON logging — reference A21: the framework logs one JSON
  * object per event with timestamp/level/location plus job-context fields
  * (`glue/glue_etl_framework.py:311-359`). JVM analog: a tiny zero-dep
  * emitter with a process-wide context map (the MDC role), so every engine
  * stage logs `{"ts":..., "level":..., "msg":..., "job":..., "pipeline":...}`
  * on one line — machine-parseable by any log shipper.
  *
  * Deliberately not log4j-config-based: Spark owns the log4j2 config in
  * this process, and fighting it per-session is fragile; a dedicated
  * stderr JSON stream keeps framework events separate from Spark's own
  * logging, like the reference's dedicated loguru sink.
  */
object Log {

  @volatile private var context: Map[String, String] = Map.empty
  @volatile var enabled: Boolean = true

  /** Set job-scoped fields (job name, pipeline) added to every event. */
  def setContext(fields: (String, String)*): Unit = context = fields.toMap

  def info(msg: String, fields: (String, String)*): Unit = emit("INFO", msg, fields)
  def warn(msg: String, fields: (String, String)*): Unit = emit("WARN", msg, fields)
  def error(msg: String, fields: (String, String)*): Unit = emit("ERROR", msg, fields)

  private[log] def render(level: String, msg: String,
                          fields: Seq[(String, String)], ts: String): String = {
    val kv = (Seq("ts" -> ts, "level" -> level, "msg" -> msg) ++
      context.toSeq.sortBy(_._1) ++ fields)
    kv.map { case (k, v) => s"${Json.str(k)}:${Json.str(v)}" }.mkString("{", ",", "}")
  }

  private def emit(level: String, msg: String, fields: Seq[(String, String)]): Unit =
    if (enabled)
      System.err.println(render(level, msg, fields, java.time.Instant.now().toString))
}
