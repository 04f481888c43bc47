package graft.sinks

import scala.collection.mutable.ArrayBuffer

import org.apache.hadoop.fs.Path
import org.apache.hadoop.mapreduce.{JobContext, TaskAttemptContext}
import org.apache.spark.internal.io.{FileCommitProtocol, FileNameSpec}
import org.apache.spark.internal.io.FileCommitProtocol.TaskCommitMessage
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.Murmur3HashFunction
import org.apache.spark.sql.catalyst.util.TypeUtils
import org.apache.spark.sql.execution.datasources.{WriteJobStatsTracker, WriteTaskStats, WriteTaskStatsTracker}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** The one way a versioned table writes data files: ONE Spark job that
  * writes each file directly under its final, commit-unique name in
  * `data/` and computes the file's zone-map stats inside the write task
  * (the Delta `TransactionalWrite` shape). Nothing is staged, listed or
  * renamed: the files stay invisible until a manifest references them,
  * and the manifest CAS remains the only commit point. A file whose
  * commit never publishes is an unreferenced orphan that
  * [[VersionedTable.vacuumVersions]]' age gate reclaims.
  *
  * The stats equal what a read-back `groupBy(input_file_name())` query of
  * the new files computes: Spark's own min/max ordering of the values,
  * row and null counts, and bucket bitmaps for integral and string
  * columns; a file with no rows gets no stats. */
private[sinks] object FileWrite {

  /** Per-file stats as the write task saw them: `min`/`max`/`nulls` per
    * stats column (internal Spark values; min and max are null for an
    * all-null column) and, for bitmap columns, the 4096-bit bucket set. */
  final class FileStats(val name: String, var rows: Long, val min: Array[Any],
                        val max: Array[Any], val nulls: Array[Long],
                        val buckets: Array[Array[Byte]]) extends Serializable

  /** What a write produced: `(file name, bytes)` per data file, and the
    * stats of every file holding rows. */
  final case class Written(files: Seq[(String, Long)], stats: Seq[FileStats])

  val BitmapBuckets = 4096

  /** The bitmap bucket of a value: `pmod(murmur3(cast(v as string), 42),
    * 4096)`, Spark's `hash()` of the string form. A null hashes to the
    * seed, as `hash(NULL)` does. */
  def bucketOf(s: UTF8String): Int = {
    val h = Murmur3HashFunction.hash(s, StringType, 42L).toInt
    ((h % BitmapBuckets) + BitmapBuckets) % BitmapBuckets
  }

  /** Bitmaps exist only for columns whose cast-to-string form a probe's
    * toString reproduces exactly: integral and string kinds. A double
    * column would hash "50.0" while an integral probe hashes "50"
    * (equal under Spark's casting equality), so fractional, decimal and
    * temporal columns get no bitmap and prune by range alone. */
  def hasBitmap(t: DataType): Boolean = t match {
    case ByteType | ShortType | IntegerType | LongType | StringType => true
    case _ => false
  }

  /** Write `df` as `format` files into `dir`, each named
    * `<commitId>-part-<split>-<uuid><ext>`, collecting stats for
    * `statsColumns` (all present in `df`). One SQL execution, so query
    * listeners and observations see the write exactly once. */
  def apply(df: DataFrame, format: String, options: Map[String, String], dir: String,
            commitId: String, statsColumns: Seq[String]): Written = {
    val fileFormat = org.apache.spark.sql.GraftSqlBridge.fileFormat(df.sparkSession, format)
      .getOrElse(throw new graft.config.ConfigError(
        s"versioned write: '$format' is not a file format"))
    val schema = df.schema
    val cols = statsColumns.map { c =>
      val i = schema.fieldIndex(c)
      StatsColumn(i, schema(i).dataType, hasBitmap(schema(i).dataType))
    }
    val committer = new FinalNameCommitProtocol(dir, commitId)
    val tracker = new ZoneStatsTracker(cols)
    org.apache.spark.sql.GraftSqlBridge.writeFiles(df, fileFormat, options, dir,
      committer, if (cols.isEmpty) Nil else Seq(tracker))
    Written(committer.written, tracker.files)
  }
}

private[sinks] final case class StatsColumn(index: Int, dataType: DataType, bitmap: Boolean)

/** Names each task's files under their final names in `dir` and reports
  * `(name, bytes)` per file from `commitTask`. A failed or speculative
  * attempt deletes its files in `abortTask`; anything else a failed job
  * leaves is an unreferenced orphan. No staging directory, no rename,
  * no `_SUCCESS` marker. */
private[sinks] final class FinalNameCommitProtocol(dir: String, commitId: String)
    extends FileCommitProtocol with Serializable {

  // per task attempt (each task deserializes its own copy)
  @transient private var attemptFiles: ArrayBuffer[Path] = _
  // on the instance the job was submitted with
  @volatile private var result: Seq[(String, Long)] = Nil

  /** The `(name, bytes)` of every file the job wrote (after commitJob). */
  def written: Seq[(String, Long)] = result

  override def setupJob(job: JobContext): Unit = ()

  override def commitJob(job: JobContext, msgs: Seq[TaskCommitMessage]): Unit =
    result = msgs.flatMap(_.obj.asInstanceOf[Seq[(String, Long)]])

  override def abortJob(job: JobContext): Unit = ()

  override def setupTask(ctx: TaskAttemptContext): Unit =
    attemptFiles = ArrayBuffer.empty

  override def newTaskTempFile(ctx: TaskAttemptContext, partDir: Option[String],
                               spec: FileNameSpec): String = {
    require(partDir.isEmpty, "versioned write: tables are not partitioned")
    val split = ctx.getTaskAttemptID.getTaskID.getId
    val p = new Path(dir,
      f"$commitId-${spec.prefix}part-$split%05d-${java.util.UUID.randomUUID()}${spec.suffix}")
    attemptFiles += p
    p.toString
  }

  override def newTaskTempFileAbsPath(ctx: TaskAttemptContext, absoluteDir: String,
                                      spec: FileNameSpec): String =
    throw new UnsupportedOperationException("versioned write: tables are not partitioned")

  override def commitTask(ctx: TaskAttemptContext): TaskCommitMessage = {
    val written = attemptFiles.toList.map { p =>
      (p.getName, p.getFileSystem(ctx.getConfiguration).getFileStatus(p).getLen)
    }
    new TaskCommitMessage(written)
  }

  override def abortTask(ctx: TaskAttemptContext): Unit =
    Option(attemptFiles).toSeq.flatten.foreach { p =>
      try p.getFileSystem(ctx.getConfiguration).delete(p, false)
      catch { case _: java.io.IOException => () } // left over: an orphan vacuum reclaims
    }
}

/** Collects [[FileWrite.FileStats]] for the stats columns `cols` inside
  * the write tasks; the instance passed to the write holds every file's stats
  * once the job has finished. */
private[sinks] final class ZoneStatsTracker(cols: Seq[StatsColumn]) extends WriteJobStatsTracker {
  @volatile private var collected: Seq[FileWrite.FileStats] = Nil

  def files: Seq[FileWrite.FileStats] = collected

  override def newTaskInstance(): WriteTaskStatsTracker = new ZoneStatsTaskTracker(cols)

  override def processStats(stats: Seq[WriteTaskStats], jobCommitTime: Long): Unit =
    collected = stats.flatMap(_.asInstanceOf[ZoneTaskStats].files)
}

private[sinks] final case class ZoneTaskStats(files: Seq[FileWrite.FileStats]) extends WriteTaskStats

private[sinks] final class ZoneStatsTaskTracker(cols: Seq[StatsColumn]) extends WriteTaskStatsTracker {
  private val n = cols.size
  private val ordering = cols.map(c => TypeUtils.getInterpretedOrdering(c.dataType)).toArray
  private val get = cols.map(c => InternalRow.getAccessor(c.dataType)).toArray
  private val index = cols.map(_.index).toArray
  private val bitmap = cols.map(_.bitmap).toArray
  private val byPath = scala.collection.mutable.LinkedHashMap.empty[String, FileWrite.FileStats]

  override def newPartition(partitionValues: InternalRow): Unit = ()

  override def newFile(filePath: String): Unit =
    byPath(filePath) = new FileWrite.FileStats(new Path(filePath).getName, 0L,
      new Array[Any](n), new Array[Any](n), new Array[Long](n),
      bitmap.map(b => if (b) new Array[Byte](FileWrite.BitmapBuckets / 8) else null))

  override def closeFile(filePath: String): Unit = ()

  private def setBucket(bits: Array[Byte], b: Int): Unit =
    bits(b >> 3) = (bits(b >> 3) | (1 << (b & 7))).toByte

  override def newRow(filePath: String, row: InternalRow): Unit = {
    val f = byPath(filePath)
    f.rows += 1
    var i = 0
    while (i < n) {
      if (row.isNullAt(index(i))) {
        f.nulls(i) += 1
        if (bitmap(i)) setBucket(f.buckets(i), FileWrite.bucketOf(null))
      } else {
        val v = get(i)(row, index(i))
        // Spark's Min/Max keep the first-seen value among equals
        if (f.min(i) == null || ordering(i).lt(v, f.min(i))) f.min(i) = InternalRow.copyValue(v)
        if (f.max(i) == null || ordering(i).gt(v, f.max(i))) f.max(i) = InternalRow.copyValue(v)
        if (bitmap(i)) setBucket(f.buckets(i), FileWrite.bucketOf(v match {
          case s: UTF8String => s
          case other => UTF8String.fromString(other.toString)
        }))
      }
      i += 1
    }
  }

  override def getFinalStats(taskCommitTime: Long): WriteTaskStats =
    ZoneTaskStats(byPath.values.filter(_.rows > 0).toList)
}
