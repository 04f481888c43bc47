package graft.sinks

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.hadoop.fs.{FileSystem, Path}
import graft.util.Json
import scala.jdk.CollectionConverters._

/** Versioned-manifest table — the minimal TABLE FORMAT the A15/A16
  * contracts were missing (SURVEY "what's missing" #2): multi-writer
  * atomic commits, snapshot-isolated reads, and time travel, built on
  * nothing but the filesystem primitives every object store / HDFS
  * provides. A tiny Delta-shaped log, not a Delta dependency (none is
  * available offline — and the protocol is ~200 lines).
  *
  * Layout:
  * {{{
  *   <table>/data/<commitId>-part-<split>-<uuid>.<ext>  (append-only namespace)
  *   <table>/_graft_log/v00001.json                     (one manifest per version)
  *   <table>/_graft_log/stats-<commitId>.jsonl          (zone-map sidecar)
  *   <table>/_graft_log/dv-<commitId>/                  (deletion-vector sidecar)
  * }}}
  * Data files are written once, by the commit's one Spark job, directly
  * under these final names ([[FileWrite]]) — there is no staging
  * directory and no rename; the same job's write tasks compute the
  * sidecar's per-file stats.
  * A manifest's fields are listed once, on [[Manifest]] — the one record
  * that writes and reads the log.
  *
  * Protocol:
  *  - WRITE: write the frame's files straight into `data/` under a
  *    commit-unique prefix (invisible: readers only see files a manifest
  *    references), then publish manifest `v{N+1}` through the commit
  *    coordinator's publish-if-absent ([[CommitCoordinator]]; `link(2)`
  *    on a local disk) — that CAS is the commit point: two writers
  *    racing to the same version number have exactly one winner; the
  *    loser re-reads the new latest and REBASES (append: new base file
  *    list; overwrite: nothing to rebase) up to `maxRetries` times.
  *    Optimistic concurrency, the Delta/Iceberg commit shape.
  *  - SERIALIZABLE WRITES ([[merge]], [[deleteWhere]], [[updateWhere]],
  *    [[compactDeletes]], [[restore]], [[publishBranch]]) take the same
  *    three steps, each written once: OPEN the head ([[open]]: the
  *    versions, the `expectedLatest` check, the head manifest and its
  *    sidecar, each read once); CLAIM what the next version adds
  *    ([[claim]]: new data files with their sidecar, and the next
  *    deletion vector — the head's, restricted to the carried files,
  *    plus the newly claimed (file, position) rows — all under
  *    commit-unique names); PUBLISH it ([[publishNext]]: one CAS at
  *    latest+1; losing it is a serializable conflict, never a rebase).
  *  - READ: resolve the latest (or `asOf`) manifest and load EXACTLY its
  *    file list. A reader planned at version N never sees version N+1's
  *    files — snapshot isolation by construction. Data files never
  *    referenced (a writer that died before its manifest) are invisible
  *    forever and reclaimed by [[vacuumVersions]].
  *  - A failed commit leaves only unreferenced data files — the table is
  *    never partially visible (the A15 contract, now PER COMMIT rather
  *    than per staged-swap window, and concurrency-safe).
  *
  * At 100 TB: commits move metadata, not data (the manifest lists files;
  * an append rewrites nothing); readers plan from one small JSON instead
  * of a directory listing of millions of files; upsert composes as
  * read-latest → merge → overwrite-commit with snapshot isolation.
  * Atomicity of create-if-absent holds on HDFS and local filesystems;
  * on S3 proper it needs a coordination layer (documented deviation —
  * the same one Delta-on-S3 has).
  *
  * The full protocol surface (each `fw_*`-oracled and spec-pinned):
  *  - time travel by version and wall clock ([[read]], [[versionAt]]);
  *    metadata DESCRIBE HISTORY ([[history]]); CDC over appends
  *    ([[changesBetween]]) and the two-snapshot row diff for everything
  *    else ([[diffVersions]])
  *  - MERGE ([[merge]]): a parquet upsert claims the replaced rows of
  *    its zone-map-matched files into the deletion vector and writes
  *    only the arrivals; a file whose deleted fraction would reach 0.3
  *    is rewritten instead
  *  - row-level DELETE/UPDATE via DELETION VECTORS ([[deleteWhere]],
  *    [[updateWhere]] — type-preserving SETs enforced): (file, position)
  *    sidecars, zero data files rewritten; [[compactDeletes]] rewrites
  *    only delete-heavy files
  *  - zero-copy BRANCHES + write-audit-publish ([[createBranch]],
  *    [[branchCommit]] with exactly-once txns, [[readBranch]],
  *    [[publishBranch]] — serializable fast-forward, [[dropBranch]])
  *  - zone maps + bucket bitmaps ([[readPruned]]); schema-drift guard
  *    with opt-in mergeSchema evolution; exactly-once streaming commits
  *    (txn); branch-aware [[vacuumVersions]]
  *  - version-aware MATERIALIZED VIEWS with incremental additive
  *    maintenance live in [[MaterializedView]]
  *
  * ZONE MAPS (r10): `commit(statsColumns = ...)` records per-FILE
  * min/max/null-count for the named columns in a JSONL sidecar the
  * manifest references (`stats_file`), and [[readPruned]] plans a scan
  * from ONLY the files whose [min,max] can satisfy a predicate — the
  * manifest-level data skipping a 100 TB table needs before any byte of
  * parquet is opened (file pruning from one small JSON beats opening a
  * million parquet footers; the footers then prune row groups WITHIN
  * the kept files). Stats are computed by the write tasks as they write
  * the commit's NEW files (no extra pass), and appends carry base-file
  * stats forward by name.
  */
object VersionedTable {

  private def fsFor(spark: SparkSession, p: Path): FileSystem =
    p.getFileSystem(spark.sparkContext.hadoopConfiguration)

  /** The commit-publish primitive ([[CommitCoordinator]]). Default:
    * atomic rename-if-absent (HDFS/local/conditional-PUT stores). Swap
    * in [[LockFileCommitCoordinator]] for overwrite-only object stores
    * — a process-wide deployment property set once at startup, like a
    * Delta LogStore class. */
  @volatile private var coordinatorImpl: CommitCoordinator = RenameCommitCoordinator
  def setCommitCoordinator(c: CommitCoordinator): Unit = coordinatorImpl = c
  def commitCoordinator: CommitCoordinator = coordinatorImpl

  private def logDir(root: Path) = new Path(root, "_graft_log")
  private def dataDir(root: Path) = new Path(root, "data")
  private def manifestPath(root: Path, v: Long) =
    new Path(logDir(root), f"v$v%05d.json")

  /** Committed versions on MAIN, ascending (empty for a fresh location).
    * Branch manifests (`vNNNNN@branch.json`, [[createBranch]]) are a
    * separate lineage and are excluded here. */
  def versions(spark: SparkSession, location: String): Seq[Long] = {
    val root = new Path(location)
    val fs = fsFor(spark, root)
    if (!fs.exists(logDir(root))) Seq.empty
    else fs.listStatus(logDir(root)).toSeq
      .map(_.getPath.getName)
      .collect { case n if n.startsWith("v") && n.endsWith(".json")
          && !n.contains("@") =>
        n.stripPrefix("v").stripSuffix(".json").toLong }
      .sorted
  }

  private val BranchName = "^[a-z0-9][a-z0-9_-]{0,31}$".r

  private def branchManifestPath(root: Path, v: Long, branch: String) =
    new Path(logDir(root), f"v$v%05d@$branch.json")

  private def rebaseMarkerPath(root: Path, branch: String, uuid: String) =
    new Path(logDir(root), s".rebase-commit-$branch-$uuid.json")

  /** Crashed-rebase recovery (r11 ADVICE): [[rebaseBranch]] decides at
    * its commit MARKER — everything after (old-manifest deletes, temp→
    * real publishes, cleanup) is replayable from the marker's recorded
    * (tmp, versions). A marker found on a branch read means a rebase
    * crashed mid-publish (or is seconds from finishing — helping is
    * safe: publishes are CAS'd with identical content, deletes are
    * idempotent): adopt the recorded lineage, drop stale pre-rebase
    * manifests outside the recorded version set, clear the marker.
    * Markerless temp lineages are UNDECIDED debris — the old branch is
    * intact by construction — and are expired once older than
    * `spark.graft.rebase.recovery.ttl.ms` (default 10 min; the TTL
    * keeps recovery from racing a live rebase's own window between
    * temp-write and marker). */
  private def recoverRebase(fs: FileSystem, root: Path, branch: String,
                            names: Seq[String], ttlMillis: Long): Boolean = {
    val q = java.util.regex.Pattern.quote(branch)
    val Marker = s"^\\.rebase-commit-$q-[0-9a-f]{8}\\.json$$".r
    val TmpManifest = s"^v[0-9]+@$q\\.rebase-[0-9a-f]{8}\\.json$$".r
    val markers = names.filter(n => Marker.pattern.matcher(n).matches())
    var acted = false
    markers.foreach { mn =>
      try {
        val marker = Json.read(readText(fs, new Path(logDir(root), mn)))
        val vs = Option(marker.get("versions")).filter(_.isArray)
          .map(_.elements.asScala.map(_.longValue).toSet)
        for (tmp <- Json.string(marker, "tmp"); versions <- vs) {
          versions.toSeq.sorted.foreach { v =>
            val tmpPath = branchManifestPath(root, v, tmp)
            if (fs.exists(tmpPath)) {
              val content = manifestAt(fs, tmpPath)
              // anything at this version under the real name is the old
              // lineage (possibly version-colliding) — the marker decided
              fs.delete(branchManifestPath(root, v, branch), false)
              publish(fs, root, branchManifestPath(root, v, branch), content.render): Unit
              fs.delete(tmpPath, false)
            } // temp gone = already published (temp deletion follows publish)
          }
          // stale pre-rebase lineage outside the recorded set — swept
          // from the ORIGINAL `names` snapshot, never a fresh listing:
          // a manifest that appeared after our listing is a
          // post-recovery commit by someone who already finished this
          // recovery (their marker-delete precedes any new commit) and
          // must survive the sweep
          val suffix = s"@$branch.json"
          names
            .collect { case n if n.startsWith("v") && n.endsWith(suffix) =>
              (n.stripPrefix("v").stripSuffix(suffix).toLong, n) }
            .filterNot { case (v, _) => versions(v) }
            .foreach { case (_, n) => fs.delete(new Path(logDir(root), n), false) }
          fs.delete(new Path(logDir(root), mn), false)
          acted = true
        }
      } catch { case _: java.io.IOException => () } // torn/contended: retry next read
    }
    // markerless temp debris: the rebase never decided — expire past TTL
    val now = System.currentTimeMillis()
    names.filter(n => TmpManifest.pattern.matcher(n).matches()).foreach { n =>
      try {
        val p = new Path(logDir(root), n)
        if (now - fs.getFileStatus(p).getModificationTime > ttlMillis) {
          fs.delete(p, false); acted = true
        }
      } catch { case _: java.io.IOException => () }
    }
    acted
  }

  /** Committed versions on `branch`, ascending (empty if the branch does
    * not exist). Branch version numbers continue the parent's sequence
    * from the fork point. Finishes any crashed rebase it finds first
    * ([[recoverRebase]]), so a branch is never unreadable under its real
    * name because a rebase died mid-publish. */
  private[sinks] def branchVersions(spark: SparkSession, location: String,
                                    branch: String): Seq[Long] = {
    val root = new Path(location)
    val fs = fsFor(spark, root)
    val suffix = s"@$branch.json"
    if (!fs.exists(logDir(root))) Seq.empty
    else {
      var names = fs.listStatus(logDir(root)).toSeq.map(_.getPath.getName)
      // cheap name probe first — recovery work only when rebase debris
      // for THIS branch is actually present
      if (names.exists(n => n.startsWith(s".rebase-commit-$branch-") ||
            n.contains(s"@$branch.rebase-"))) {
        val ttl = spark.conf.getOption("spark.graft.rebase.recovery.ttl.ms")
          .map(_.toLong).getOrElse(600000L)
        if (recoverRebase(fs, root, branch, names, ttl))
          names = fs.listStatus(logDir(root)).toSeq.map(_.getPath.getName)
      }
      names.collect { case n if n.startsWith("v") && n.endsWith(suffix) =>
        n.stripPrefix("v").stripSuffix(suffix).toLong }
        .sorted
    }
  }

  /** One log entry: the only way the versioned-table log is written
    * ([[render]]) and read ([[Manifest.parse]]). On disk it is one flat
    * JSON object, fields in this order (strings through [[Json.str]]):
    *  - `version`: the version number (a branch fork keeps its base's);
    *  - `ts`: the commit wall clock, epoch millis — what as-of-TIMESTAMP
    *    reads resolve against (informational ordering only; the version
    *    number is the truth). Absent on pre-upgrade manifests;
    *  - `mode`: the commit kind (overwrite, append, merge, delete,
    *    update, compact_deletes, branch, publish, restore; read as
    *    overwrite when absent);
    *  - `txn_app`, `txn_batch`: the exactly-once streaming txn, if any;
    *  - `txns`: every app's last committed txn as of this version,
    *    `{"<app>":[batch,version]}` in app order — the exactly-once
    *    check reads it off the head instead of walking the log. Written
    *    on every new manifest (a branch fork's holds only its base's own
    *    txn, as the branch lineage starts there); absent on manifests
    *    written before it existed, for which the check walks back;
    *  - `stats_file`: the zone-map sidecar under `_graft_log/`, if any;
    *  - `dv_file`, `dv_rows`: the deletion-vector sidecar under
    *    `_graft_log/` and its row count, if any;
    *  - `n_files`, then `files`: the data files under `data/`, each
    *    `{"name","bytes"}`, in name order. Data file names are
    *    commit-unique in an append-only namespace, so a carried file's
    *    recorded bytes are what a stat of it returns. */
  private[sinks] final case class Manifest(version: Long, ts: Option[Long],
      mode: String, txn: Option[(String, Long)], statsFile: Option[String],
      dv: Option[(String, Long)], files: Seq[(String, Long)],
      txns: Option[Map[String, (Long, Long)]] = None) {
    def names: Seq[String] = files.map(_._1)

    def render: String =
      s"""{"version":$version,""" + ts.fold("")(t => s""""ts":$t,""") +
        s""""mode":${Json.str(mode)},""" +
        txn.fold("") { case (app, batch) =>
          s""""txn_app":${Json.str(app)},"txn_batch":$batch,""" } +
        txns.fold("") { m =>
          m.toSeq.sortBy(_._1).map { case (app, (batch, v)) => s"${Json.str(app)}:[$batch,$v]" }
            .mkString(""""txns":{""", ",", "},") } +
        statsFile.fold("")(sf => s""""stats_file":${Json.str(sf)},""") +
        dv.fold("") { case (name, rows) =>
          s""""dv_file":${Json.str(name)},"dv_rows":$rows,""" } +
        s""""n_files":${files.size},"files":""" +
        files.map { case (n, b) => s"""{"name":${Json.str(n)},"bytes":$b}""" }
          .mkString("[", ",", "]") + "}"
  }

  private[sinks] object Manifest {
    /** A new commit's manifest, stamped with the wall clock; its `txns`
      * are `carried` (the parent version's) plus its own txn. */
    def next(version: Long, mode: String, files: Seq[(String, Long)],
             txn: Option[(String, Long)] = None, statsFile: Option[String] = None,
             dv: Option[(String, Long)] = None,
             carried: Map[String, (Long, Long)] = Map.empty): Manifest =
      Manifest(version, Some(System.currentTimeMillis()), mode, txn, statsFile,
        dv, files.sortBy(_._1),
        Some(carried ++ txn.map { case (app, batch) => app -> ((batch, version)) }))

    def parse(text: String): Manifest = {
      val n = Json.read(text)
      def num(k: String) = Json.long(n, k)
      Manifest(
        version = num("version").getOrElse(
          throw new java.io.IOException(s"not a versioned-table manifest: ${text.take(200)}")),
        ts = num("ts"),
        mode = Json.string(n, "mode").getOrElse("overwrite"),
        txn = for (app <- Json.string(n, "txn_app"); b <- num("txn_batch")) yield (app, b),
        statsFile = Json.string(n, "stats_file"),
        dv = Json.string(n, "dv_file").map((_, num("dv_rows").getOrElse(0L))),
        files = Option(n.get("files")).toSeq.flatMap(_.elements.asScala).flatMap { f =>
          Json.string(f, "name").map((_, Json.long(f, "bytes").getOrElse(0L))) },
        txns = Option(n.get("txns")).filter(_.isObject).map(_.properties.asScala.map { e =>
          e.getKey -> ((e.getValue.get(0).longValue, e.getValue.get(1).longValue)) }.toMap))
    }
  }

  /** Publish `text` at `p` through the commit coordinator — a crashed
    * writer can never expose a torn file. False: `p` already exists. */
  private def publish(fs: FileSystem, root: Path, p: Path, text: String): Boolean =
    coordinatorImpl.publish(fs, logDir(root), p,
      text.getBytes(java.nio.charset.StandardCharsets.UTF_8))

  /** [[publish]] where a lost race cannot happen (a uuid-unique name). */
  private def publishNew(fs: FileSystem, root: Path, p: Path, text: String): Unit =
    if (!publish(fs, root, p, text))
      throw new java.io.IOException(s"manifest '$p' already exists")

  /** CAS-publish `m` as its version on main (or on `branch`). False: a
    * concurrent writer won the version. */
  private def writeManifestCas(fs: FileSystem, root: Path, m: Manifest,
                               branch: Option[String] = None): Boolean =
    // The publish primitive is PLUGGABLE ([[CommitCoordinator]]): the
    // default is write-complete-content-then-rename-if-absent
    // (FileContext + Options.Rename.NONE — the Delta HDFSLogStore
    // pattern), correct on HDFS/local/conditional-PUT stores; a
    // lease-based [[LockFileCommitCoordinator]] covers overwrite-only
    // object stores where atomic rename does not exist. Either way the
    // content exists in full before the committed name does, so a
    // crashed writer can never expose a torn manifest that readers
    // would treat as a committed version (and whose empty file list the
    // next append would silently adopt as its base).
    publish(fs, root,
      branch.fold(manifestPath(root, m.version))(branchManifestPath(root, m.version, _)),
      m.render)

  private def readText(fs: FileSystem, p: Path): String = {
    val in = fs.open(p)
    try {
      val out = new java.io.ByteArrayOutputStream()
      org.apache.hadoop.io.IOUtils.copyBytes(in, out, 8192, false)
      out.toString("UTF-8")
    } finally in.close()
  }

  private def manifestAt(fs: FileSystem, p: Path): Manifest =
    Manifest.parse(readText(fs, p))

  private def manifestOf(fs: FileSystem, root: Path, v: Long): Manifest =
    manifestAt(fs, manifestPath(root, v))

  /** Main manifests by version, each opened at most once per operation. */
  private def manifestCache(fs: FileSystem, root: Path): Long => Manifest = {
    val opened = scala.collection.mutable.Map.empty[Long, Manifest]
    v => opened.getOrElseUpdate(v, manifestOf(fs, root, v))
  }

  // ------------------------------------------------------- deletion vectors

  /** A deletion-vector sidecar ([[Manifest]] `dv_file`) is a parquet
    * DIRECTORY under `_graft_log/` of (data file name, row position). */
  private val DvSchema = org.apache.spark.sql.types.StructType.fromDDL("file STRING, pos BIGINT")

  // the sidecar's schema is fixed, so opening it reads no footer
  private def readDv(spark: SparkSession, root: Path, name: String): DataFrame =
    spark.read.schema(DvSchema).parquet(new Path(logDir(root), name).toString)

  /** Deletion-vector rows and their count: held on the driver
    * ([[DriverDv]]) when small enough ([[dvOnDriver]]), else a Spark
    * frame ([[SparkDv]]). */
  private sealed trait Dv {
    def n: Long
    def frame(spark: SparkSession): DataFrame
    /** The rows of the data files `names`, None when that is none at
      * all; `known` is their count when the caller has it (a restricted
      * Spark frame is counted otherwise, one job). */
    def over(names: Seq[String], known: Option[Long] = None): Option[Dv]
    /** The DV a scan of the data files `names` applies
      * ([[livePositions]]): rows held on the driver restricted to those
      * files (None when none is), a Spark frame whole (its rows of other
      * files match nothing). */
    def scanning(names: Seq[String]): Option[Dv]
    /** Rows per data file (a Spark frame counts them in one job). */
    def perFile: Map[String, Long]
  }
  private final case class DriverDv(rows: Seq[(String, Long)]) extends Dv {
    def n: Long = rows.size.toLong
    def frame(spark: SparkSession): DataFrame = spark.createDataFrame(rows).toDF("file", "pos")
    def over(names: Seq[String], known: Option[Long]): Option[Dv] = {
      val keep = names.toSet
      Some(DriverDv(rows.filter(r => keep(r._1)))).filter(_.rows.nonEmpty)
    }
    def scanning(names: Seq[String]): Option[Dv] = over(names)
    def perFile: Map[String, Long] = rows.groupMapReduce(_._1)(_ => 1L)(_ + _)
  }
  private final case class SparkDv(df: DataFrame, n: Long) extends Dv {
    def frame(spark: SparkSession): DataFrame = df
    def over(names: Seq[String], known: Option[Long]): Option[Dv] = {
      val kept = df.filter(org.apache.spark.sql.functions.col("file").isin(names: _*))
      Some(SparkDv(kept, known.getOrElse(kept.count()))).filter(_.n > 0L)
    }
    def scanning(names: Seq[String]): Option[Dv] = Some(this)
    def perFile: Map[String, Long] = {
      import org.apache.spark.sql.functions.{col, count, lit}
      df.groupBy(col("file")).agg(count(lit(1))).collect()
        .map(r => (r.getString(0), r.getLong(1))).toMap
    }
  }
  private object Dv {
    /** The (file, pos) rows of `entries` ([[dvEntries]]), collected: one job. */
    def collect(entries: DataFrame): DriverDv =
      DriverDv(entries.collect().toSeq.map(r => (r.getString(0), r.getLong(1))))
    def union(spark: SparkSession, a: Dv, b: Dv): Dv = (a, b) match {
      case (DriverDv(x), DriverDv(y)) => DriverDv(x ++ y)
      case _ => SparkDv(a.frame(spark).unionByName(b.frame(spark)), a.n + b.n)
    }
  }

  /** True when `rows` deletion-vector rows over data files named like
    * `names` fit under the session's `spark.sql.autoBroadcastJoinThreshold`
    * (-1 turns the driver path off), each sized as Spark holds a (file,
    * pos) row: 24 bytes plus the name rounded up to 8. Callers pass counts
    * known before any job runs: a manifest's `dv_rows` and the sidecar
    * row counts of the files whose rows may be claimed. */
  private def dvOnDriver(spark: SparkSession, rows: Long, names: Seq[String]): Boolean = {
    val limit = org.apache.spark.sql.GraftSqlBridge.sqlConf(spark).autoBroadcastJoinThreshold
    val rowBytes = 24L + (names.map(_.length).maxOption.getOrElse(0) + 7) / 8 * 8
    limit > 0 && rows <= limit / rowBytes
  }

  /** The deletion vector `dv` (sidecar name, recorded rows) of a version
    * whose data files are `names`: read on the driver when it is small
    * ([[dvOnDriver]]), else left to Spark. */
  private def openDv(spark: SparkSession, fs: FileSystem, root: Path,
                     dv: (String, Long), names: Seq[String]): Dv =
    if (dvOnDriver(spark, dv._2, names)) DriverDv(readDvRows(fs, root, dv._1))
    else SparkDv(readDv(spark, root, dv._1), dv._2)

  /** The rows of the DV sidecar `name`, read on the driver with parquet-mr:
    * every part file of the directory, skipping the names Spark's listing
    * skips (`_SUCCESS`, `.crc` and other `_`/`.` names). */
  private[sinks] def readDvRows(fs: FileSystem, root: Path, name: String): Seq[(String, Long)] = {
    import org.apache.parquet.example.data.simple.convert.GroupRecordConverter
    import org.apache.parquet.hadoop.ParquetFileReader
    import org.apache.parquet.hadoop.util.HadoopInputFile
    import org.apache.parquet.io.ColumnIOFactory
    fs.listStatus(new Path(logDir(root), name)).toSeq
      .filter { st => val n = st.getPath.getName
        st.isFile && !n.startsWith("_") && !n.startsWith(".") }
      .sortBy(_.getPath.getName)
      .flatMap { st =>
        val in = ParquetFileReader.open(HadoopInputFile.fromStatus(st, fs.getConf))
        try {
          val schema = in.getFooter.getFileMetaData.getSchema
          val io = new ColumnIOFactory().getColumnIO(schema)
          Iterator.continually(in.readNextRowGroup()).takeWhile(_ != null).flatMap { pages =>
            val rows = io.getRecordReader(pages, new GroupRecordConverter(schema))
            Iterator.fill(pages.getRowCount.toInt)(rows.read())
              .map(g => (g.getString("file", 0), g.getLong("pos", 0)))
          }.toVector
        } finally in.close()
      }
  }

  /** Write `rows` as the DV sidecar `name`: one snappy parquet file, rows
    * in (file, pos) order, built in memory with parquet-mr and written
    * through [[graft.util.Fs.write]] — no Spark job, no committer. */
  private def writeDvRows(fs: FileSystem, root: Path, name: String,
                          rows: Seq[(String, Long)]): Unit = {
    import org.apache.parquet.example.data.simple.SimpleGroupFactory
    import org.apache.parquet.hadoop.example.ExampleParquetWriter
    val schema = org.apache.parquet.schema.MessageTypeParser.parseMessageType(
      "message spark_schema { optional binary file (STRING); optional int64 pos; }")
    val bytes = new java.io.ByteArrayOutputStream()
    val out = new org.apache.parquet.io.OutputFile {
      private def stream = new org.apache.parquet.io.PositionOutputStream {
        def getPos: Long = bytes.size.toLong
        def write(b: Int): Unit = bytes.write(b)
        override def write(b: Array[Byte], off: Int, len: Int): Unit = bytes.write(b, off, len)
      }
      def create(blockSizeHint: Long): org.apache.parquet.io.PositionOutputStream = stream
      def createOrOverwrite(blockSizeHint: Long): org.apache.parquet.io.PositionOutputStream = stream
      def supportsBlockSize: Boolean = false
      def defaultBlockSize: Long = 0L
    }
    val groups = new SimpleGroupFactory(schema)
    val w = ExampleParquetWriter.builder(out).withType(schema).withConf(fs.getConf)
      .withCompressionCodec(org.apache.parquet.hadoop.metadata.CompressionCodecName.SNAPPY)
      .build()
    try rows.sorted.foreach { case (f, p) => w.write(groups.newGroup().append("file", f).append("pos", p)) }
    finally w.close()
    graft.util.Fs.write(fs, new Path(new Path(logDir(root), name), s"part-00000-$name.snappy.parquet"),
      bytes.toByteArray)
  }

  /** Write `dv` as the DV sidecar `name` under `_graft_log/`: rows held
    * on the driver as one file ([[writeDvRows]]); a Spark frame through
    * Spark's committer path (`df.write`: a temporary directory, then a
    * rename into place), unlike data files ([[writeData]]): readers load
    * a DV by listing its directory, so a failed task attempt's file
    * written in place would join the DV. */
  private def writeDv(fs: FileSystem, root: Path, dv: Dv, name: String): Unit = dv match {
    case DriverDv(rows) => writeDvRows(fs, root, name, rows)
    case SparkDv(df, _) =>
      df.write.mode(SaveMode.Overwrite).parquet(new Path(logDir(root), name).toString)
  }

  /** The data files `names` of the table at `root`, opened through
    * [[graft.sources.Sources.loadFiles]]: a parquet schema is pinned
    * from one driver-side footer read, so opening starts no Spark job.
    * The only way this file reads table data. */
  private def loadData(spark: SparkSession, root: Path, names: Seq[String],
                       format: String, options: Map[String, String]): DataFrame =
    graft.sources.Sources.loadFiles(spark, format,
      graft.sources.Sources.mapOptions(options),
      names.map(n => new Path(dataDir(root), n).toString))

  /** `df` (which must carry parquet `_metadata`) with its row
    * positions exposed as `__dv_file` (`_metadata.file_name`) /
    * `__dv_pos` (row index) and the deletion vector `dv` removed. Rows
    * held on the driver filter the scan through a per-file sorted
    * position array the tasks receive with their closure (broadcasting
    * a local relation for a join would start a Spark job); a Spark frame
    * is anti-joined, the small side that AQE broadcasts. The ONE
    * position-derivation in this file: [[applyDv]], [[deleteWhere]],
    * [[updateWhere]] and both DV routes of [[merge]] read through it, so
    * the DV layout cannot fork. */
  private def livePositions(spark: SparkSession, df: DataFrame, dv: Option[Dv]): DataFrame = {
    import org.apache.spark.sql.functions.{col, udf}
    val withPos = df
      .withColumn("__dv_file", col("_metadata.file_name"))
      .withColumn("__dv_pos", col("_metadata.row_index"))
    dv.fold(withPos) {
      case DriverDv(rows) =>
        val dead = rows.groupMap(_._1)(_._2).map { case (f, ps) => f -> ps.toArray.sorted }
        val live = udf((f: String, p: Long) =>
          dead.get(f).forall(java.util.Arrays.binarySearch(_, p) < 0))
        withPos.filter(live(col("__dv_file"), col("__dv_pos")))
      case d =>
        withPos.join(d.frame(spark)
            .select(col("file").as("__dv_file"), col("pos").as("__dv_pos")),
          Seq("__dv_file", "__dv_pos"), "left_anti")
    }
  }

  /** The (file, pos) rows of a [[livePositions]] frame: DV entries. */
  private def dvEntries(live: DataFrame): DataFrame = {
    import org.apache.spark.sql.functions.col
    live.select(col("__dv_file").as("file"), col("__dv_pos").as("pos"))
  }

  /** Anti-join `df` (which must carry parquet `_metadata`) against the
    * deletion vector: rows whose (file name, row position) appear in
    * the DV disappear. */
  private def applyDv(spark: SparkSession, df: DataFrame, dv: Option[Dv]): DataFrame = {
    import org.apache.spark.sql.functions.col
    dv.fold(df)(d => livePositions(spark, df, Some(d)).select(df.columns.toSeq.map(col): _*))
  }

  /** The live rows of the data files `names`: `dv`'s rows removed; a
    * DV read on the driver applies only its rows of `names`, and not at
    * all when it holds none. */
  private def liveRows(spark: SparkSession, root: Path, names: Seq[String],
                       dv: Option[(String, Long)], format: String,
                       options: Map[String, String]): DataFrame =
    applyDv(spark, loadData(spark, root, names, format, options),
      dv.flatMap(d => openDv(spark, fsFor(spark, root), root, d, names).scanning(names)))

  /** The snapshot `m` of the main table at `location`: exactly its files,
    * minus its deletion vector. */
  private def snapshot(spark: SparkSession, root: Path, location: String,
                       m: Manifest, format: String,
                       options: Map[String, String]): DataFrame = {
    if (m.files.isEmpty) throw new graft.config.ConfigError(
      s"versioned read: version ${m.version} of '$location' references no files")
    liveRows(spark, root, m.names, m.dv, format, options)
  }

  // ---------------------------------------------------------------- stats

  /** Per-file column stats. `min`/`max` are CANONICAL TOKENS (see
    * [[canonToken]]): an unquoted decimal for numeric/temporal values, a
    * JSON string otherwise, the literal `null` for an all-null file.
    * Ordering on tokens of the same kind equals ordering on the values. */
  final case class ColStats(min: String, max: String, nulls: Long)

  /** One total order per kind, chosen so stats written at commit time and
    * predicate values supplied at read time compare exactly:
    *  - numbers (int/long/float/double/decimal) -> decimal token
    *  - timestamps -> epoch micros; dates -> epoch days (numeric tokens:
    *    java.sql.Timestamp.toString renders in the WRITER JVM's default
    *    time zone, so its string form is not comparable across writers —
    *    epoch numbers are exact and zone-free)
    *  - booleans -> 0/1
    *  - strings (and anything else) -> JSON string, lexicographic
    * A kind mismatch at prune time keeps the file (conservative). */
  private[sinks] def canonToken(v: Any): String = v match {
    case null => "null"
    case b: Boolean => if (b) "1" else "0"
    case n: Byte => n.toString
    case n: Short => n.toString
    case n: Int => n.toString
    case n: Long => n.toString
    case n: Float => BigDecimal(n.toDouble).bigDecimal.toPlainString
    case n: Double => BigDecimal(n).bigDecimal.toPlainString
    case n: java.math.BigDecimal => n.toPlainString
    case n: BigDecimal => n.bigDecimal.toPlainString
    case t: java.sql.Timestamp => // floorDiv: exact for pre-epoch instants
      (Math.floorDiv(t.getTime, 1000L) * 1000000L + t.getNanos / 1000L).toString
    case t: java.time.Instant =>
      (t.getEpochSecond * 1000000L + t.getNano / 1000L).toString
    case t: java.time.LocalDateTime =>
      canonToken(java.time.Instant.from(t.atZone(java.time.ZoneOffset.UTC)))
    case d: java.sql.Date => d.toLocalDate.toEpochDay.toString
    case d: java.time.LocalDate => d.toEpochDay.toString
    case s => Json.str(s.toString)
  }

  /** [[canonToken]] of a zone-map bound, or None for NaN and ±Infinity:
    * Spark orders them past every decimal (NaN largest of all), which no
    * decimal token can, so such a bound is UNKNOWN — the file records no
    * zone map for that column, a merge treats every file as a hit, and a
    * probe keeps every file. */
  private[sinks] def boundToken(v: Any): Option[String] = v match {
    case d: Double if d.isNaN || d.isInfinite => None
    case f: Float if f.isNaN || f.isInfinite => None
    case _ => Some(canonToken(v))
  }

  /** cmp on canonical tokens; None = not comparable (null / kind
    * mismatch). Strings compare on the UNESCAPED value — the escaped
    * form is not order-preserving (any raw char below '"' would sort
    * prefixes wrong). */
  private def cmpTokens(a: String, b: String): Option[Int] = {
    val aStr = a.startsWith("\""); val bStr = b.startsWith("\"")
    if (a == "null" || b == "null") None
    else if (aStr != bStr) None
    else if (aStr) Some(Json.unstr(a).compareTo(Json.unstr(b)))
    else Some(BigDecimal(a).compare(BigDecimal(b)))
  }

  /** A commit's sidecar content: per-(file,col) zone maps, per-file row
    * counts (the metadata [[history]] answers count(*) from), and
    * per-(file,col) bucket BITMAPS — which of 4096 value-hash buckets
    * the file's values occupy (base64; 512 bytes/file/col). The bitmap
    * is the point-lookup tier: an `=` probe on an UNCLUSTERED column
    * skips a file whose [min,max] spans the value but whose bucket bit
    * is clear (the ORC-bloom / Iceberg-value-set shape, one-hash form —
    * false positives only cost an open, never correctness). */
  private[sinks] final case class SidecarStats(cols: Seq[(String, String, ColStats)],
                                               rows: Seq[(String, Long)],
                                               sets: Seq[(String, String, String)] = Nil) {
    def isEmpty: Boolean = cols.isEmpty && rows.isEmpty && sets.isEmpty
    def ++(o: SidecarStats): SidecarStats =
      SidecarStats(cols ++ o.cols, rows ++ o.rows, sets ++ o.sets)
    def filterFiles(keep: Set[String]): SidecarStats =
      SidecarStats(cols.filter(x => keep.contains(x._1)),
        rows.filter(x => keep.contains(x._1)),
        sets.filter(x => keep.contains(x._1)))

    /** The sidecar file: one JSON object per line — the zone maps by
      * (file, column), `{"name","col","min","max","nulls"}` with min/max
      * as their canonical tokens; then the row counts by file,
      * `{"name","rows"}`; then the bitmaps by (file, column),
      * `{"name","col","buckets"}`. */
    def render: String =
      (cols.sortBy(x => (x._1, x._2)).map { case (f, c, s) =>
        s"""{"name":${Json.str(f)},"col":${Json.str(c)},"min":${s.min},"max":${s.max},"nulls":${s.nulls}}"""
      } ++ rows.sortBy(_._1).map { case (f, n) =>
        s"""{"name":${Json.str(f)},"rows":$n}"""
      } ++ sets.sortBy(x => (x._1, x._2)).map { case (f, c, b) =>
        s"""{"name":${Json.str(f)},"col":${Json.str(c)},"buckets":${Json.str(b)}}"""
      }).mkString("", "\n", "\n")
  }
  private[sinks] object SidecarStats {
    val empty: SidecarStats = SidecarStats(Nil, Nil)

    /** Reads [[SidecarStats.render]]'s text back; min/max keep the exact
      * text of their tokens ([[Json.rawObjects]]). */
    def parse(text: String): SidecarStats = {
      val lines = Json.rawObjects(text).map(_.toMap)
      def str(line: Map[String, String], k: String) = Json.unstr(line(k))
      SidecarStats(
        cols = lines.collect { case l if l.contains("min") =>
          (str(l, "name"), str(l, "col"), ColStats(l("min"), l("max"), l("nulls").toLong)) },
        rows = lines.collect { case l if l.contains("rows") => (str(l, "name"), l("rows").toLong) },
        sets = lines.collect { case l if l.contains("buckets") =>
          (str(l, "name"), str(l, "col"), str(l, "buckets")) })
    }
  }

  /** The bucket of one probe value under the bitmap's hashing
    * ([[FileWrite.bucketOf]]: murmur3, Spark's `hash()` with seed 42, of
    * the value's string form — columns are hashed as cast to string, so
    * an Int column and a Long probe agree); consulted only for
    * integral/string probes, whose toString matches Spark's cast to
    * string exactly. */
  private def bitmapBucket(canonical: String): Int =
    FileWrite.bucketOf(org.apache.spark.unsafe.types.UTF8String.fromString(canonical))

  private def bitmapHas(b64: String, bucket: Int): Boolean = {
    val bytes = java.util.Base64.getDecoder.decode(b64)
    (bytes(bucket >> 3) & (1 << (bucket & 7))) != 0
  }

  /** Write `df` as this commit's new data files under their final names
    * in `data/` ([[FileWrite]]: one Spark job, no staging or rename), with
    * zone maps for `cols` computed inside the write tasks. Returns the
    * files `(name, bytes)` and their sidecar stats: min/max as canonical
    * tokens of the values Spark's own min/max pick (none for a column
    * whose min or max is NaN or infinite, [[boundToken]]), null and row counts,
    * and bucket bitmaps for integral and string columns (the bitmap feed
    * is bounded at 4096 buckets per file and column). A stats column the
    * frame lacks fails before any file is written. */
  private def writeData(root: Path, df: DataFrame, commitId: String, cols: Seq[String],
                        format: String, options: Map[String, String]): (Seq[(String, Long)], SidecarStats) = {
    val missing = cols.filterNot(df.columns.contains)
    if (missing.nonEmpty) throw new graft.config.ConfigError(
      s"versioned commit: stats columns ${missing.mkString(", ")} not in the " +
        s"frame (has: ${df.columns.mkString(", ")})")
    val written = FileWrite(df, format, graft.sources.Sources.mapOptions(options),
      dataDir(root).toString, commitId, cols)
    val types = cols.map(c => df.schema(c).dataType)
    def token(v: Any, t: org.apache.spark.sql.types.DataType): Option[String] =
      boundToken(org.apache.spark.sql.catalyst.CatalystTypeConverters.convertToScala(v, t))
    val stats = SidecarStats(
      cols = written.stats.flatMap { f =>
        cols.indices.flatMap(i =>
          for (lo <- token(f.min(i), types(i)); hi <- token(f.max(i), types(i)))
            yield (f.name, cols(i), ColStats(lo, hi, f.nulls(i))))
      },
      rows = written.stats.map(f => (f.name, f.rows)),
      sets = written.stats.flatMap { f =>
        cols.indices.collect { case i if f.buckets(i) != null =>
          (f.name, cols(i), java.util.Base64.getEncoder.encodeToString(f.buckets(i))) }
      })
    (written.files, stats)
  }

  private def writeStatsFile(fs: FileSystem, root: Path, name: String,
                             all: SidecarStats): Unit = {
    // commit-unique name: safe to overwrite on a rebase retry
    graft.util.Fs.write(fs, new Path(logDir(root), name),
      all.render.getBytes(java.nio.charset.StandardCharsets.UTF_8))
  }

  /** The stats sidecar `m` references (empty when it has none). */
  private def sidecarOf(fs: FileSystem, root: Path, m: Manifest): SidecarStats =
    m.statsFile.fold(SidecarStats.empty) { name =>
      val p = new Path(logDir(root), name)
      if (!fs.exists(p)) SidecarStats.empty // conservative: prune nothing
      else SidecarStats.parse(readText(fs, p))
    }

  private def sidecarAt(spark: SparkSession, location: String, v: Long): SidecarStats = {
    val root = new Path(location)
    val fs = fsFor(spark, root)
    sidecarOf(fs, root, manifestOf(fs, root, v))
  }

  /** A sidecar's zone maps: file -> column -> stats. */
  private def statsByFile(sc: SidecarStats): Map[String, Map[String, ColStats]] =
    sc.cols.groupBy(_._1).map { case (f, xs) =>
      (f, xs.map { case (_, c, s) => (c, s) }.toMap) }

  /** The columns a sidecar tracks zone maps for. */
  private def trackedColumns(sc: SidecarStats): Seq[String] =
    sc.cols.map(_._2).distinct.sorted

  /** Write `all` as the commit's sidecar `stats-<commitId>.jsonl` — BEFORE
    * the CAS (commit-unique name: a rebase retry overwrites it, a loser
    * leaves a vacuumable orphan, never a dangling reference). None when
    * there is nothing to record. */
  private def writeSidecar(fs: FileSystem, root: Path, commitId: String,
                           all: SidecarStats): Option[String] =
    if (all.isEmpty) None
    else {
      val name = s"stats-$commitId.jsonl"
      writeStatsFile(fs, root, name, all)
      Some(name)
    }

  /** Per-file stats of version `v`: file -> column -> stats. Empty map if
    * the version carries no stats (readers then prune nothing). */
  def fileStats(spark: SparkSession, location: String,
                v: Long): Map[String, Map[String, ColStats]] =
    statsByFile(sidecarAt(spark, location, v))

  /** Per-file row counts of version `v` (recorded when the commit ran
    * with statsColumns). Empty if the version carries no sidecar. */
  def fileRows(spark: SparkSession, location: String,
               v: Long): Map[String, Long] =
    sidecarAt(spark, location, v).rows.toMap

  /** The columns the table's LATEST version tracks zone maps for —
    * what a maintenance rewrite (compact / cluster) must recompute so
    * its overwrite commit doesn't silently drop the pruning tier. */
  def trackedStatsColumns(spark: SparkSession, location: String): Seq[String] =
    versions(spark, location).lastOption
      .fold(Seq.empty[String])(v => trackedColumns(sidecarAt(spark, location, v)))

  /** Every app's last committed txn, app -> (batch, version), as of the
    * newest of `vs`: the `txns` map of the newest manifest carrying one,
    * plus the own txn of any newer manifest written before the map
    * existed (walked newest-first). A new manifest carries this forward,
    * so on a table written by this code it costs the head's open alone.
    * The streaming exactly-once check: a foreachBatch REPLAY (crash
    * between sink commit and checkpoint commit) re-offers a batch id the
    * table already holds — the commit must be skipped, not appended
    * twice. */
  private def txnsAt(vs: Seq[Long])(
      manifest: Long => Manifest): Map[String, (Long, Long)] = {
    val walked = scala.collection.mutable.LinkedHashMap.empty[String, (Long, Long)]
    val carried = vs.sorted.reverseIterator.map(v => (v, manifest(v))).flatMap {
      case (v, m) =>
        m.txn.foreach { case (app, batch) => if (!walked.contains(app)) walked(app) = (batch, v) }
        m.txns
    }.nextOption().getOrElse(Map.empty)
    carried ++ walked
  }

  /** A branch's first manifest, forked from main's `base`: the base's
    * file, stats and DV references by name, mode `branch`, and of the
    * txns only the base's own — a branch's lineage starts at its fork. */
  private def forkOf(base: Manifest): Manifest =
    base.copy(mode = "branch",
      txns = Some(base.txn.map { case (app, batch) => app -> ((batch, base.version)) }.toMap))

  /** Schema-drift guard for a write whose new files join `head`'s: the
    * snapshot read loads an explicit file list, so a drifted column set
    * would surface only at read time (missing/extra columns depending on
    * which file the reader samples first). Evolution is opt-in: commit
    * AND read with mergeSchema=true. One footer read — metadata, not
    * data. `what` names the write in the message. */
  private def checkDrift(spark: SparkSession, root: Path, location: String,
                         what: String, head: Manifest, columns: Seq[String],
                         format: String, options: Map[String, String]): Unit =
    if (head.files.nonEmpty &&
      !options.get("mergeSchema").exists(_.equalsIgnoreCase("true"))) {
      val tableCols = loadData(spark, root, head.names.take(1), format, options)
        .columns.toSet
      val newCols = columns.toSet
      if (tableCols != newCols) {
        val missing = (tableCols -- newCols).toSeq.sorted
        val added = (newCols -- tableCols).toSeq.sorted
        throw new graft.config.ConfigError(
          s"versioned $what schema drift at '$location' v${head.version} — " +
            (if (missing.nonEmpty) s"missing: ${missing.mkString(", ")}; " else "") +
            (if (added.nonEmpty) s"added: ${added.mkString(", ")}; " else "") +
            "pass mergeSchema=true in options (commit AND read) to evolve")
      }
    }

  private def newCommitId(): String = java.util.UUID.randomUUID().toString.take(8)

  // ------------------------------------------------ open → claim → publish

  /** What a serializable writer `op` opened ([[open]]): main's versions,
    * each manifest opened at most once, the head and — on first use —
    * the head's stats sidecar and deletion vector. `retry` ends its
    * conflict messages. */
  private final class Opened(spark: SparkSession, val location: String, val fs: FileSystem,
                             val vs: Seq[Long], val op: String, val retry: String) {
    val root = new Path(location)
    val manifest: Long => Manifest = manifestCache(fs, root)
    def latest: Long = vs.last
    def next: Long = latest + 1
    lazy val head: Manifest = manifest(latest)
    lazy val sidecar: SidecarStats = sidecarOf(fs, root, head)
    lazy val dv: Option[Dv] = head.dv.map(openDv(spark, fs, root, _, head.names))
  }

  /** OPEN: list main's versions; an empty table fails unless
    * `allowEmpty`, and a latest version other than `expectedLatest` (a
    * commit since the caller's snapshot) is a serializable conflict. */
  private def open(spark: SparkSession, location: String, op: String, retry: String,
                   expectedLatest: Option[Long] = None, allowEmpty: Boolean = false): Opened = {
    val t = new Opened(spark, location, fsFor(spark, new Path(location)),
      versions(spark, location), op, retry)
    if (t.vs.isEmpty && !allowEmpty) throw new graft.config.ConfigError(
      s"versioned $op: no committed versions at '$location'")
    val latest = t.vs.lastOption.getOrElse(0L)
    expectedLatest.foreach { exp =>
      if (latest != exp) throw new java.util.ConcurrentModificationException(
        s"versioned $op: serializable conflict at '$location' — snapshot " +
          s"was v$exp, latest is v$latest; $retry")
    }
    t
  }

  /** The next manifest's content: its files, stats sidecar and DV. */
  private final case class Claim(files: Seq[(String, Long)], statsFile: Option[String],
                                 dv: Option[(String, Long)])
  private object Claim {
    /** Exactly `m`'s files, sidecar and DV, by reference. */
    def of(m: Manifest): Claim = Claim(m.files, m.statsFile, m.dv)
  }

  /** CLAIM: write what the next version adds over the head of `t`, whose
    * files `carried` (None: all of them) stay by reference:
    *  - `images`, if any, become new data files ([[writeData]], zone maps
    *    for `statsColumns`) and the sidecar `stats-<commitId>.jsonl`
    *    holds the carried files' stats and theirs; with no images the
    *    head's sidecar carries by name;
    *  - the next deletion vector is the head's restricted to the carried
    *    files plus the `claimed` (file, pos) rows, written once as
    *    `dv-<commitId>` ([[writeDv]]: on the driver when every part is
    *    held there, else by Spark), or not at all when empty. With every
    *    file carried and nothing claimed, the head's DV carries by name.
    *    Kept whole, the head's DV keeps its recorded count; restricted,
    *    the driver counts its rows, and a Spark DV takes
    *    `carriedDvRows` when the caller knows it, else one job counts it.
    * Every write lands under a commit-unique name before the CAS. */
  private def claim(spark: SparkSession, t: Opened, carried: Option[Seq[String]],
                    claimed: Option[Dv], images: Option[DataFrame],
                    statsColumns: Seq[String], format: String,
                    options: Map[String, String],
                    carriedDvRows: Option[Long] = None): Claim = {
    val commitId = newCommitId()
    // None: every head file carries
    val keep = carried.map(_.toSet).filterNot(k => t.head.names.forall(k))
    val kept = keep.fold(t.head.files)(k => t.head.files.filter(f => k(f._1)))
    val (files, statsFile) = images.fold((kept, t.head.statsFile)) { df =>
      val (written, fresh) = writeData(t.root, df, commitId, statsColumns, format, options)
      (kept ++ written, writeSidecar(t.fs, t.root, commitId,
        keep.fold(t.sidecar)(t.sidecar.filterFiles) ++ fresh))
    }
    val dv =
      if (keep.isEmpty && claimed.isEmpty) t.head.dv
      else {
        val prev = t.dv.flatMap(d => keep.fold(Option(d))(k => d.over(k.toSeq, carriedDvRows)))
        (prev ++ claimed.filter(_.n > 0L)).reduceOption(Dv.union(spark, _, _)).map { d =>
          writeDv(t.fs, t.root, d, s"dv-$commitId")
          (s"dv-$commitId", d.n)
        }
      }
    Claim(files, statsFile, dv)
  }

  /** PUBLISH: one CAS attempt of `c` as version latest+1 (mode `mode`,
    * main's txns carried). Losing it means a concurrent commit landed
    * since the head was opened, and `c` was built from a stale snapshot:
    * a serializable conflict, never a rebase. Then logs `event` with
    * `fields` after the location. Returns the new version. */
  private def publishNext(t: Opened, mode: String, c: Claim)(
      event: String, fields: (String, String)*): Long = {
    if (!writeManifestCas(t.fs, t.root, Manifest.next(t.next, mode, c.files, None,
      c.statsFile, c.dv, txnsAt(t.vs)(t.manifest))))
      throw new java.util.ConcurrentModificationException(
        s"versioned ${t.op}: serializable conflict at '${t.location}' — snapshot " +
          s"was v${t.latest}; a concurrent commit won v${t.next}; ${t.retry}")
    graft.log.Log.info(event, ("location" -> t.location) +: fields: _*)
    t.next
  }

  /** Atomically commit `df` as the next version. `mode` = "overwrite"
    * (the new version IS this frame) or "append" (new version = latest
    * version's files + this frame's). Returns the committed version.
    * `expectedLatest` turns the commit SERIALIZABLE: when set, the
    * commit succeeds only if the table's latest version still equals it
    * — a concurrent commit since the caller's snapshot aborts loudly
    * (the read-merge-write upsert shape needs this: a silent rebase
    * would overwrite the concurrent writer's rows with a stale merge). */
  def commit(spark: SparkSession, location: String, df: DataFrame,
             mode: String, format: String = "parquet",
             options: Map[String, String] = Map.empty,
             maxRetries: Int = 10,
             expectedLatest: Option[Long] = None,
             txn: Option[(String, Long)] = None,
             statsColumns: Seq[String] = Nil): Long = {
    require(mode == "overwrite" || mode == "append",
      s"versioned commit: mode must be overwrite|append, got '$mode'")
    val root = new Path(location)
    val fs = fsFor(spark, root)
    fs.mkdirs(dataDir(root))
    fs.mkdirs(logDir(root))
    // every manifest this commit consults is opened once: the head the
    // drift check and the txn scan read is the append base unless a
    // concurrent commit moved it
    val manifest = manifestCache(fs, root)
    lazy val listed = versions(spark, location)
    // appends must match the table's column set
    if (mode == "append") listed.lastOption.foreach { lv =>
      checkDrift(spark, root, location, "commit: append", manifest(lv),
        df.columns.toSeq, format, options)
    }
    // exactly-once for streaming foreachBatch: if this (app, batch) — or
    // a later batch of the same app — is already committed, the offer is
    // a WAL replay: skip BEFORE any data is written, return the version
    // that already holds it
    txn.foreach { case (app, batch) =>
      txnsAt(listed)(manifest).get(app).filter(_._1 >= batch).foreach {
        case (_, atV) =>
          graft.log.Log.info("versioned commit: txn replay skipped",
            "location" -> location, "app" -> app,
            "batch" -> batch.toString, "committed_at" -> s"v$atV")
          return atV
      }
    }
    // the new files go straight into the append-only data namespace
    // under a commit-unique prefix (invisible until a manifest references
    // them), zone maps computed by the same job
    val commitId = newCommitId()
    val (written, newStats) = writeData(root, df, commitId, statsColumns, format, options)
    var attempt = 0
    while (attempt < maxRetries) {
      val now = versions(spark, location)
      val latest = now.lastOption
      expectedLatest.foreach { exp =>
        if (latest.getOrElse(0L) != exp) throw new java.util.ConcurrentModificationException(
          s"versioned commit: serializable conflict at '$location' — snapshot " +
            s"was v$exp, latest is v${latest.getOrElse(0L)}; re-read and re-merge")
      }
      // an append carries the base's files, their stats by name (so one
      // sidecar per manifest covers every file it references) and its
      // deletion vector verbatim (every base file is kept, so the DV
      // stays valid — zero rewrite); an overwrite replaces the file set
      // and clears both
      val head = if (mode == "append") latest.map(manifest) else None
      val v = latest.getOrElse(0L) + 1
      val baseStats = head.fold(SidecarStats.empty)(h =>
        sidecarOf(fs, root, h).filterFiles(h.names.toSet))
      val statsFile = writeSidecar(fs, root, commitId, baseStats ++ newStats)
      if (writeManifestCas(fs, root, Manifest.next(v, mode,
        head.fold(Seq.empty[(String, Long)])(_.files) ++ written,
        txn, statsFile, head.flatMap(_.dv), txnsAt(now)(manifest)))) return v
      attempt += 1 // lost the race: re-read latest and rebase
    }
    throw new java.io.IOException(
      s"versioned commit: lost the version race $maxRetries times at '$location'")
  }

  /** Snapshot read: exactly the file list of `asOf` (default: latest).
    * The returned frame is pinned to that version — later commits never
    * change what it reads. Opening it starts no Spark job: the manifest
    * and the deletion-vector reference are read on the driver, and a
    * parquet schema comes from one footer read
    * ([[graft.sources.Sources.loadFiles]]). */
  def read(spark: SparkSession, location: String,
           asOf: Option[Long] = None, format: String = "parquet",
           options: Map[String, String] = Map.empty): DataFrame = {
    val root = new Path(location)
    val fs = fsFor(spark, root)
    val vs = versions(spark, location)
    if (vs.isEmpty) throw new graft.config.ConfigError(
      s"versioned read: no committed versions at '$location'")
    val v = asOf.getOrElse(vs.last)
    if (!vs.contains(v)) throw new graft.config.ConfigError(
      s"versioned read: version $v not in committed set ${vs.mkString("[", ",", "]")}")
    snapshot(spark, root, location, manifestOf(fs, root, v), format, options)
  }

  /** MERGE (upsert): arrivals replace table rows with equal `keys`, new
    * keys insert. Only the files whose zone maps can contain an arrival
    * key (the zone-hit files) are read; pruning is the [min(arrival key),
    * max(arrival key)] range against each file's `keys.head` zone map —
    * conservative (missing stats → a hit; sound for multi-key merges
    * since it prunes on the leading key only); an all-null-key file is
    * never hit (equality never matches NULL).
    *
    * On parquet the row-replace upsert rewrites no file it need not: the
    * live rows of the zone-hit files whose key equals an arrival key give
    * their positions to the next DELETION VECTOR, the arrivals are
    * written as the only new rows, and every file carries BY REFERENCE —
    * the Delta deletion-vector shape, bytes written ∝ the change. A
    * zone-hit file whose deleted fraction would reach
    * [[RewriteFraction]] with this merge's claims is rewritten instead
    * (its live, unreplaced rows), in the same write job as the arrivals.
    * Non-parquet formats have no row positions, conditional MATCHED
    * actions change rows in place, and a zone-hit file without a recorded
    * row count (a table written without `statsColumns`) has no deleted
    * fraction: those merges rewrite the zone-hit files.
    * SERIALIZABLE: a concurrent commit since the snapshot aborts loudly
    * — a silent rebase would resurrect rows the concurrent writer
    * replaced. Returns the committed version. */
  def merge(spark: SparkSession, location: String, arrivals: DataFrame,
            keys: Seq[String], format: String = "parquet",
            options: Map[String, String] = Map.empty,
            statsColumns: Seq[String] = Nil,
            // applied to the frame this commit writes (the arrivals and
            // any rewritten rows) right before staging — the hook
            // sink-level Observations attach through (the arrivals frame
            // appears twice in a rewrite plan, so observing it upstream
            // would double the counts)
            publishTransform: DataFrame => DataFrame = identity,
            // a caller that computed `arrivals` against a pinned snapshot
            // passes that version here: a commit that landed since aborts
            // at entry (the read-to-publish window is guarded by the
            // single-attempt CAS regardless)
            expectedLatest: Option[Long] = None,
            // None / RowReplace = the classic upsert (arrivals replace
            // equal-key rows, new keys insert). Anything else runs the
            // ANSI-shaped conditional evaluator ([[MergeActions]]):
            // first-true action per row kind, DELETE/column-SET/insert
            // chains, with the file-carry contract preserved. WHEN NOT
            // MATCHED BY SOURCE reaches every unmatched target row, but
            // on parquet it routes through DELETION VECTORS (claimed
            // positions to the DV, update re-images appended, one
            // atomic commit) so the carried files survive by reference;
            // only non-parquet formats fall back to the whole-table
            // rewrite (no row positions to record)
            actions: MergeActions = MergeActions.RowReplace): Long = {
    import org.apache.spark.sql.functions.{col, min => fmin, max => fmax}
    require(keys.nonEmpty, "versioned merge: keys must be non-empty")
    val conditional = actions != MergeActions.RowReplace
    val t = open(spark, location, "merge", "re-read and re-merge", expectedLatest,
      allowEmpty = true)
    if (t.vs.isEmpty && conditional) throw new graft.config.ConfigError(
      s"versioned merge: conditional MERGE actions need an existing versioned " +
        s"table at '$location' (the action semantics are defined against the " +
        "target schema) — seed it with a commit first")
    // a conditional merge consumes arrivals THREE times (cardinality
    // probe, key-bounds agg, evaluator join) — persist for the
    // duration so an expensive USING query runs once, released in the
    // finally below (the Caching no-leak discipline)
    if (conditional)
      arrivals.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK): Unit
    try {
    // BY SOURCE actions route through DELETION VECTORS on parquet:
    // claimed positions go to the DV, update re-images append, and the
    // zone-map file-carry contract survives — a retention merge READS
    // the table but rewrites nothing. Non-parquet formats have no row
    // positions, so they keep the whole-table rewrite.
    val bySourceViaDv = conditional && actions.bySource.nonEmpty &&
      format == "parquet"
    // The evaluator's full-outer join runs only when a MATCHED action
    // exists (or on the non-parquet BY SOURCE fallback) — and only that
    // join can duplicate a multi-matched target row. With no matched
    // action, a key-duplicated source is ANSI-legal: matched target
    // rows are simply untouched, and every not-matched source row
    // inserts with its multiplicity (r13 verdict #4a — the insert-only
    // over-rejection).
    val needsEvaluatorJoin = conditional && (actions.matched.nonEmpty ||
      (actions.bySource.nonEmpty && !bySourceViaDv))
    if (needsEvaluatorJoin) {
      // ANSI cardinality rule: a target row matching MORE than one
      // source row makes the conditional result order-dependent —
      // reject a key-duplicated source loudly (null-key source rows
      // never match anything and may repeat freely). Bounded: the
      // check aggregates to the first offending key only.
      val dup = arrivals
        .filter(keys.map(col(_).isNotNull).reduce(_ && _))
        .groupBy(keys.map(col): _*)
        .agg(org.apache.spark.sql.functions.count(
          org.apache.spark.sql.functions.lit(1)).as("__n"))
        .filter(col("__n") > 1).limit(1).collect()
      if (dup.nonEmpty) throw new graft.config.ConfigError(
        s"versioned merge: the MERGE source has multiple rows for key " +
          s"(${keys.mkString(", ")}) = (${dup.head.toSeq.init.mkString(", ")}) — " +
          "conditional MERGE requires a key-unique source (ANSI cardinality " +
          "rule: a multi-match result would be order-dependent)")
    }
    if (t.vs.isEmpty)
      // expectedLatest = 0 keeps the bootstrap SERIALIZABLE: losing the
      // v1 race must abort loudly, not rebase over the winner's rows
      return commit(spark, location, publishTransform(arrivals), "overwrite",
        format, options, statsColumns = statsColumns,
        expectedLatest = Some(0L))
    val (root, head) = (t.root, t.head)
    val files = head.names
    val stats = statsByFile(t.sidecar)
    val k0 = keys.head
    val bounds = arrivals.agg(fmin(col(k0)), fmax(col(k0))).head()
    // None: a NaN or infinite bound, unknown to the zone maps
    val (lo, hi) = (boundToken(bounds.get(0)), boundToken(bounds.get(1)))
    def touchedBy(f: String): Boolean =
      if (lo.contains("null")) false // every arrival key NULL: equality never matches
      else stats.get(f).flatMap(_.get(k0)) match {
        case None => true // no zone map: must assume a match
        case Some(s) =>
          if (s.min == "null" && s.max == "null") false // all-null-key file
          else (lo.flatMap(cmpTokens(s.max, _)), hi.flatMap(cmpTokens(s.min, _))) match {
            case (Some(a), Some(b)) => a >= 0 && b <= 0 // ranges overlap
            case _ => true // kinds incomparable or bound unknown: conservative hit
          }
      }
    // the zone-hit files: the only files whose rows CAN match an
    // arrival key (pruning on the leading key; conservative)
    val touchedProbe = files.filter(touchedBy)
    // the DV route weighs each zone-hit file's deleted fraction, so it
    // needs the file's recorded row count; a table written without stats
    // columns records none and rewrites its zone-hit files below
    val counted = t.sidecar.rows.map(_._1).toSet
    if (!conditional && format == "parquet" && touchedProbe.forall(counted))
      return upsertViaDv(spark, t, arrivals, keys, touchedProbe, statsColumns,
        publishTransform, options)
    // files REWRITTEN this commit: the zone-hit files of an upsert off
    // the DV route. MATCHED actions change rows in
    // place, so the zone-hit files rewrite through the evaluator;
    // insert actions never touch existing files; BY SOURCE actions
    // reach every unmatched target row, but on parquet they route
    // through the deletion vector (below) instead of forcing the
    // whole-table rewrite the r13 verdict marked weak.
    val touched =
      if (!conditional) touchedProbe
      else if (actions.bySource.nonEmpty && !bySourceViaDv) files
      else if (actions.matched.nonEmpty) touchedProbe
      else Nil // insert/BY SOURCE only: nothing rewrites in place
    val isTouched = touched.toSet
    val untouched = files.filterNot(isTouched)
    // ONE footer read serves the conditional path's target-schema needs
    // (star-action validation + the insert-only projection) — lazy so
    // the row-replace path never pays it
    lazy val tableSchema: org.apache.spark.sql.types.StructType = {
      if (files.isEmpty) throw new graft.config.ConfigError(
        s"versioned merge: version ${t.latest} of '$location' references no data " +
          "files — conditional MERGE needs the target schema; seed the table " +
          "with a committed snapshot first")
      loadData(spark, root, Seq(files.head), format, options).schema
    }
    // the conditional evaluator projects to the TARGET schema (star
    // actions validate the source carries every target column below),
    // so the drift check applies to the row-replace path only
    if (conditional && actions.needsFullSourceRow) {
      val have = arrivals.columns.map(_.toLowerCase).toSet
      val missing = tableSchema.fieldNames.filterNot(c => have(c.toLowerCase))
      if (missing.nonEmpty) throw new graft.config.ConfigError(
        s"versioned merge: UPDATE SET * / INSERT * needs every target column " +
          s"in the source — missing: ${missing.mkString(", ")}")
      // strict star expansion (the Spark/Delta rule): a source column
      // absent from the target must error BY NAME, not silently drop in
      // the target-schema projection — MERGE does not evolve schemas
      val tset = tableSchema.fieldNames.map(_.toLowerCase).toSet
      val extra = arrivals.columns.filterNot(c => tset(c.toLowerCase))
      if (extra.nonEmpty) throw new graft.config.ConfigError(
        s"versioned merge: UPDATE SET * / INSERT * star expansion found " +
          s"source columns absent from the target: ${extra.mkString(", ")} — " +
          "drop them in the USING query, or assign explicitly with " +
          "UPDATE SET c = e / INSERT (c, ...) VALUES (e, ...) " +
          "(MERGE does not apply schema evolution)")
    }
    // when nothing is touched, the unionByName that would otherwise
    // catch a drifted arrival schema never runs — check it explicitly
    // (one footer read), or v+1 would mix schemas across its files
    if (!conditional && touched.isEmpty)
      checkDrift(spark, root, location, "merge: arrival", head,
        arrivals.columns.toSeq, format, options)
    // live rows of the named files (a touched file's deleted rows must
    // not resurrect — the DV applies to the snapshot being merged).
    // The EVALUATOR reads the rewrite set (`touched` — which is ALL
    // files on the non-parquet BY SOURCE fallback, not just the
    // zone-hit probe set: loading the probe set there would drop every
    // zone-miss file's rows from the rewrite); the no-matched-action
    // anti-join reads the probe set alone.
    def liveOf(names: Seq[String]): DataFrame =
      applyDv(spark, loadData(spark, root, names, format, options),
        t.dv.flatMap(_.scanning(names)))
    val merged =
      if (!conditional) {
        if (touched.isEmpty) arrivals
        else liveOf(touched).join(arrivals, keys, "left_anti")
          .unionByName(arrivals)
      } else if (actions.matched.nonEmpty ||
        (actions.bySource.nonEmpty && !bySourceViaDv)) {
        if (touched.isEmpty)
          // no target row can match: every arrival is not-matched, so
          // the insert chain applies directly (projected to the shared
          // lazily-read table schema)
          MergeActions.applyInsertOnly(arrivals, tableSchema, actions)
        else MergeActions(liveOf(touched), arrivals, keys, actions)
      } else {
        // no MATCHED actions: no existing row changes in place, so no
        // file rewrites — arrivals whose key matches a zone-hit LIVE
        // row are matched (no action applies; anti-join drops them
        // whatever their multiplicity), the rest run the insert chain
        val fresh =
          if (touchedProbe.isEmpty) arrivals
          else arrivals.join(liveOf(touchedProbe).select(keys.map(col): _*),
            keys, "left_anti")
        MergeActions.applyInsertOnly(fresh, tableSchema, actions)
      }
    // BY SOURCE via deletion vectors: evaluate the BY SOURCE chain over
    // the live rows of every CARRIED file — delete-claimed positions go
    // to the DV; update-claimed positions go to the DV with their
    // re-images staged alongside the merged output, so ONE atomic
    // commit covers both. The carried files are READ once, but bytes
    // written ∝ claimed rows — the Delta DV shape: a 100 TB retention
    // merge appends kilobytes instead of rewriting the table.
    // localCheckpoint pins the claimed set (cost ∝ claimed rows, the
    // rows the merge writes anyway) so the DV positions, the count,
    // and the re-images cannot disagree under a non-deterministic
    // condition (the deleteWhere/updateWhere discipline).
    val bySourceClaimed: Option[(DataFrame, Long)] =
      if (!bySourceViaDv || untouched.isEmpty) None
      else {
        val base = loadData(spark, root, untouched, format, options)
        val live = livePositions(spark, base, t.dv.flatMap(_.scanning(untouched)))
        // zone-miss files cannot hold an arrival key, but carried
        // zone-HIT files (no matched actions) can — those matched rows
        // are NOT "not matched by source": anti-join the arrival keys
        // out first (a no-op for zone-miss rows, so one uniform join)
        val unmatchedLive =
          if (untouched.toSet.intersect(touchedProbe.toSet).isEmpty) live
          else live.join(arrivals.select(keys.map(col): _*).distinct(),
            keys, "left_anti")
        val claimed = MergeActions.claimBySource(unmatchedLive, tableSchema,
          arrivals.schema, actions, Seq("__dv_file", "__dv_pos"))
          .localCheckpoint()
        val n = claimed.count()
        if (n == 0L) None else Some((claimed, n))
      }
    val bySourceReimages: Option[DataFrame] = bySourceClaimed.flatMap {
      case (claimed, _) =>
        if (actions.bySource.exists(_.isInstanceOf[MergeActions.BySourceUpdate]))
          Some(MergeActions.bySourceImages(claimed, tableSchema, actions))
        else None
    }
    val publishFrame = bySourceReimages.fold(merged)(merged.unionByName(_))
    // the rewritten files materialized their deletes away; the carried
    // files keep their DV entries, joined by the BY SOURCE claims
    val c = claim(spark, t, Some(untouched),
      bySourceClaimed.map { case (claimed, n) => SparkDv(dvEntries(claimed), n) },
      Some(publishTransform(publishFrame)), statsColumns, format, options)
    publishNext(t, "merge", c)("versioned merge", "version" -> s"v${t.next}",
      "files_rewritten" -> touched.size.toString,
      "files_carried" -> untouched.size.toString,
      "by_source_dv_rows" -> bySourceClaimed.map(_._2).getOrElse(0L).toString)
    } finally {
      if (conditional) arrivals.unpersist(blocking = false): Unit
    }
  }

  /** The deleted fraction at which a merge rewrites a file it claims
    * rows in rather than growing its deletion vector, and the default
    * `minDeletedFraction` of [[compactDeletes]]. */
  private val RewriteFraction = 0.3

  /** The parquet row-replace [[merge]] over the zone-hit files `hit` of
    * `t`'s head: the live rows of `hit` whose `keys` equal an arrival's
    * are claimed into the next DV, and the arrivals are written as the
    * only new rows — every file carries by reference, except a file
    * this merge claims rows in whose deleted fraction (the head DV's
    * rows of it plus these claims, over its sidecar row count, which
    * every file of `hit` has) reaches [[RewriteFraction]]: its rows that
    * are neither deleted nor claimed are written with the arrivals, in
    * one job.
    *
    * The claims are at most `hit`'s rows. When that count plus the head
    * DV's recorded rows fits under the broadcast threshold
    * ([[dvOnDriver]]), the claimed positions are collected to the driver
    * (one job: the collected set is the one evaluation every count and
    * the DV derive from) and the next DV is counted and written there;
    * otherwise one job counts the claims per file and Spark writes the
    * DV. The arrivals are never collected. */
  private def upsertViaDv(spark: SparkSession, t: Opened, arrivals: DataFrame,
                          keys: Seq[String], hit: Seq[String], statsColumns: Seq[String],
                          publishTransform: DataFrame => DataFrame,
                          options: Map[String, String]): Long = {
    import org.apache.spark.sql.functions.{col, count, lit}
    val rowsOf = t.sidecar.rows.toMap
    def scan(names: Seq[String]) = loadData(spark, t.root, names, "parquet", options)
    def dvOf(names: Seq[String]) = t.dv.flatMap(_.scanning(names))
    lazy val hits = dvEntries(livePositions(spark, scan(hit), dvOf(hit))
      .join(arrivals.select(keys.map(col): _*), keys, "left_semi"))
    val onDriver = dvOnDriver(spark, t.head.dv.fold(0L)(_._2) + hit.map(rowsOf).sum,
      t.head.names)
    // the claims, and per hit file: (rows claimed now, rows the head DV holds)
    val (claims, perFile): (Dv, Map[String, (Long, Long)]) =
      if (hit.isEmpty) (DriverDv(Nil), Map.empty)
      else if (onDriver) {
        val claimed = Dv.collect(hits)
        val held = t.dv.fold(Map.empty[String, Long])(_.perFile)
        (claimed, claimed.perFile.map { case (f, n) => f -> ((n, held.getOrElse(f, 0L))) })
      } else {
        val tagged = hits.select(col("file"), lit(true).as("now"))
        val counts = t.dv.fold(tagged)(d => tagged.unionByName(d.frame(spark)
            .filter(col("file").isin(hit: _*)).select(col("file"), lit(false).as("now"))))
          .groupBy("file", "now").agg(count(lit(1))).collect()
          .map(r => ((r.getString(0), r.getBoolean(1)), r.getLong(2))).toMap
        val per = counts.collect { case ((f, true), n) => f -> ((n, counts.getOrElse((f, false), 0L))) }
        (SparkDv(hits, per.values.map(_._1).sum), per)
      }
    val rewrite = hit.filter(f => perFile.get(f).exists { case (now, held) =>
      (now + held).toDouble >= RewriteFraction * rowsOf(f) })
    val gone = rewrite.toSet
    val carried = t.head.names.filterNot(gone)
    val rewrittenClaims = rewrite.map(perFile(_)._1).sum
    val images =
      if (rewrite.isEmpty) {
        // no rewritten rows' union checks the arrivals' columns: one footer read
        checkDrift(spark, t.root, t.location, "merge: arrival", t.head,
          arrivals.columns.toSeq, "parquet", options)
        arrivals
      } else {
        // a rewritten file keeps the rows neither its DV entries nor this
        // merge's claims (its live rows an arrival replaces) name
        val dropped = (dvOf(rewrite) ++ claims.over(rewrite, Some(rewrittenClaims)))
          .reduceOption(Dv.union(spark, _, _))
        applyDv(spark, scan(rewrite), dropped).unionByName(arrivals)
      }
    // the claims in carried files (every claim is in a hit file)
    val kept = claims.over(hit.filterNot(gone), Some(claims.n - rewrittenClaims))
    val c = claim(spark, t, Some(carried), kept,
      Some(publishTransform(images)), statsColumns, "parquet", options,
      carriedDvRows = t.head.dv.map(_._2 - rewrite.map(perFile(_)._2).sum))
    publishNext(t, "merge", c)("versioned merge", "version" -> s"v${t.next}",
      "files_rewritten" -> rewrite.size.toString,
      "files_carried" -> carried.size.toString,
      "dv_rows_claimed" -> kept.fold(0L)(_.n).toString,
      "by_source_dv_rows" -> "0")
  }

  /** Row-level DELETE via DELETION VECTORS — the Iceberg v2 / Delta DV
    * shape: matching rows are recorded as (file, row-position) pairs in
    * a parquet sidecar the manifest references; NO data file is
    * rewritten or moved: a delete touching 0.001% of a 100 TB table
    * moves kilobytes of metadata. Readers ([[read]]/[[readPruned]]) drop
    * the DV's positions ([[livePositions]]; broadcast-sized until a
    * compaction materializes it away);
    * [[compact]]/cluster maintenance reads through the DV, so their
    * overwrite commit purges it naturally.
    *
    * Semantics: deletes rows of the LATEST snapshot matching `condition`
    * (a SQL boolean expression over the table's columns). Accumulates
    * with prior DVs; a no-match delete returns the current version
    * without committing. SERIALIZABLE single-attempt CAS (the merge
    * discipline): losing the race aborts loudly. Zone maps stay valid
    * as over-approximations; metadata row counts subtract `dv_rows`
    * ([[history]]). CDC ([[changesBetween]]) aborts crossing a delete
    * commit, the same contract as overwrites. Parquet-only: positions
    * come from `_metadata.row_index`. */
  def deleteWhere(spark: SparkSession, location: String, condition: String,
                  format: String = "parquet",
                  options: Map[String, String] = Map.empty,
                  expectedLatest: Option[Long] = None): Long =
    changeWhere(spark, location, condition, Map.empty, format, options, expectedLatest)

  /** Row-level UPDATE via deletion vectors: matching LIVE rows get their
    * old positions added to the DV and their updated images appended as
    * new files — ONE atomic commit covers both, so readers see either
    * the old rows or the new, never neither/both. The Delta/Iceberg
    * UPDATE shape without rewriting the touched files: cost ∝ matched
    * rows, not ∝ the files containing them. `set` maps column name →
    * SQL expression over the row's (pre-update) columns. Same
    * serializable single-attempt CAS and CDC/delete contracts as
    * [[deleteWhere]]. Returns the committed version (unchanged when
    * nothing matches). */
  def updateWhere(spark: SparkSession, location: String, condition: String,
                  set: Map[String, String],
                  format: String = "parquet",
                  options: Map[String, String] = Map.empty,
                  expectedLatest: Option[Long] = None): Long = {
    require(set.nonEmpty, "versioned update: set must be non-empty")
    changeWhere(spark, location, condition, set, format, options, expectedLatest)
  }

  /** [[updateWhere]], or with no `set` [[deleteWhere]] — its no-image
    * case: the live rows matching `condition` give their positions to
    * the DV, and an update appends their images. */
  private def changeWhere(spark: SparkSession, location: String, condition: String,
                          set: Map[String, String], format: String,
                          options: Map[String, String], expectedLatest: Option[Long]): Long = {
    import org.apache.spark.sql.functions._
    val (op, what) = if (set.isEmpty) ("delete", "deleted") else ("update", "updated")
    require(format == "parquet",
      s"versioned $op: deletion vectors need parquet row positions")
    val t = open(spark, location, op, s"re-read and re-$op", expectedLatest)
    val base = loadData(spark, t.root, t.head.names, format, options)
    // only LIVE rows can match (a row deleted twice would double-count)
    val live = livePositions(spark, base, t.dv.flatMap(_.scanning(t.head.names)))
    val dataCols = base.columns.toSeq
    set.keys.foreach { c =>
      require(dataCols.contains(c),
        s"versioned update: set column '$c' not in the table (has: ${dataCols.mkString(", ")})")
    }
    // PINNED once: the count, the DV positions and an update's images
    // all derive from one evaluation of the matched set. Without
    // pinning, a nondeterministic condition (rand(), now()) would
    // evaluate independently per consumer and the DV could disagree with
    // the count or the images inside one "atomic" commit (silently
    // losing or duplicating rows). An update pins the matched rows
    // (localCheckpoint, eager), which it appends anyway — cost ∝ the
    // change itself. The positions come to the driver when the table's
    // rows and the head DV's fit under the broadcast threshold
    // ([[dvOnDriver]]) — for a delete that collect is the one
    // evaluation — else a delete pins the (file, pos) pairs alone.
    val matched = live.filter(expr(condition))
    val rowsOf = t.sidecar.rows.toMap
    val onDriver = t.head.names.forall(rowsOf.contains) && dvOnDriver(spark,
      t.head.dv.fold(0L)(_._2) + t.head.names.map(rowsOf).sum, t.head.names)
    val pinned = if (set.isEmpty && onDriver) matched else
      (if (set.isEmpty) dvEntries(matched) else matched).localCheckpoint()
    val claimed: Dv =
      if (onDriver) Dv.collect(dvEntries(pinned))
      else SparkDv(if (set.isEmpty) pinned else dvEntries(pinned), pinned.count())
    val nMatched = claimed.n
    if (nMatched == 0L) {
      graft.log.Log.info(s"versioned $op: no matching rows",
        "location" -> location, "version" -> s"v${t.latest}")
      return t.latest
    }
    // the updated images: SET expressions evaluate against the OLD row
    val images = if (set.isEmpty) None else Some(pinned.select(dataCols.map { c =>
      set.get(c).map(e => expr(e).as(c)).getOrElse(col(c))
    }: _*))
    // TYPE-PRESERVING contract: a SET expression that silently changes
    // the column's type would publish mixed-schema files the snapshot
    // read then fails on (INT literal vs BIGINT column is the classic)
    // — reject loudly, requiring an explicit CAST in the expression
    images.foreach(updated => dataCols.foreach { c =>
      val oldT = base.schema(c).dataType
      val newT = updated.schema(c).dataType
      if (oldT != newT) throw new graft.config.ConfigError(
        s"versioned update: SET would change column '$c' from $oldT to $newT — " +
          s"add an explicit CAST(... AS ${oldT.sql}) to the expression")
    })
    // every file carries (its stats stay sound over-approximations); the
    // images get fresh stats for the tracked columns
    val c = claim(spark, t, None, Some(claimed), images,
      images.fold(Seq.empty[String])(_ => trackedColumns(t.sidecar)), format, options)
    publishNext(t, op, c)(s"versioned $op", "version" -> s"v${t.next}",
      s"rows_$what" -> nMatched.toString, "files_rewritten" -> "0")
  }

  /** ROW-LEVEL DIFF of two snapshots — the CDC fallback for the commits
    * [[changesBetween]] rightly aborts on (overwrite / merge / delete /
    * update): bag-semantics EXCEPT in both directions, tagged
    * `_change_type` ∈ {insert, delete}. An unchanged row (same
    * multiplicity both sides) appears in neither. This is a
    * two-snapshot scan by design — the price of row-level change
    * capture over commits that rewrote rows; append-only ranges should
    * keep using changesBetween (file-level metadata, no scan). */
  def diffVersions(spark: SparkSession, location: String,
                   fromVersion: Long, toVersion: Long,
                   format: String = "parquet",
                   options: Map[String, String] = Map.empty): DataFrame = {
    import org.apache.spark.sql.functions.lit
    require(fromVersion != toVersion,
      s"versioned diff: fromVersion and toVersion must differ, got $fromVersion")
    val a = read(spark, location, Some(fromVersion), format, options)
    val b = read(spark, location, Some(toVersion), format, options)
    b.exceptAll(a).withColumn("_change_type", lit("insert"))
      .unionByName(a.exceptAll(b).withColumn("_change_type", lit("delete")))
  }

  /** TARGETED delete compaction — the Iceberg
    * rewrite_position_delete_files analog: rewrite ONLY the files whose
    * deleted fraction reaches `minDeletedFraction`, materializing their
    * deletes away; every other file (and its DV entries) carries by
    * reference. Bounds the read-side anti-join cost without paying a
    * full-table compaction: at 100 TB a hot-spot delete pattern leaves
    * most files untouched forever. Per-file row counts come from the
    * stats sidecar when present; files the sidecar does not cover are
    * counted with one bounded scan over the DV-TOUCHED files only.
    * Serializable single-attempt CAS (mode `compact_deletes`). Returns
    * (version, filesRewritten) — (latest, 0) when nothing qualifies. */
  def compactDeletes(spark: SparkSession, location: String,
                     minDeletedFraction: Double = RewriteFraction,
                     format: String = "parquet",
                     options: Map[String, String] = Map.empty): (Long, Int) = {
    import org.apache.spark.sql.functions._
    require(minDeletedFraction > 0 && minDeletedFraction <= 1,
      s"compactDeletes: minDeletedFraction must be in (0,1], got $minDeletedFraction")
    val t = open(spark, location, "compactDeletes", "re-run")
    val dv = t.dv match {
      case None => return (t.latest, 0)
      case Some(x) => x
    }
    val files = t.head.names
    // deleted counts per file — the DV is delete-sized (counted on the
    // driver when it is read there, else one job)
    val delCounts = dv.perFile
    val knownRows = t.sidecar.rows.toMap
    val uncounted = delCounts.keySet.filter(f =>
      files.contains(f) && !knownRows.contains(f)).toSeq
    val countedRows: Map[String, Long] =
      if (uncounted.isEmpty) Map.empty
      else loadData(spark, t.root, uncounted, format, options)
        .groupBy(col("_metadata.file_name").as("f"))
        .agg(count(lit(1)).as("n"))
        .collect().map(r => (r.getString(0), r.getLong(1))).toMap
    val rowsOf = knownRows ++ countedRows
    val rewrite = files.filter { f =>
      delCounts.get(f).exists { nd =>
        rowsOf.get(f).exists(n => n > 0 && nd.toDouble / n >= minDeletedFraction)
      }
    }
    if (rewrite.isEmpty) return (t.latest, 0)
    val carried = files.filterNot(rewrite.toSet)
    val live = applyDv(spark, loadData(spark, t.root, rewrite, format, options),
      dv.scanning(rewrite))
    // the rewritten output gets fresh stats; the carried files keep
    // theirs and their DV entries, whose count is the per-file sum
    val c = claim(spark, t, Some(carried), None, Some(live),
      trackedColumns(t.sidecar), format, options,
      carriedDvRows = Some(carried.map(delCounts.getOrElse(_, 0L)).sum))
    (publishNext(t, "compact_deletes", c)("versioned delete compaction",
      "version" -> s"v${t.next}",
      "files_rewritten" -> rewrite.size.toString,
      "files_carried" -> carried.size.toString,
      "dv_remaining" -> c.dv.fold(0L)(_._2).toString), rewrite.size)
  }

  // ---------------------------------------------------------------- branches

  /** ZERO-COPY BRANCH (the Iceberg-refs / WAP shape): fork a named
    * lineage at a main version — no data moves, the branch's first
    * manifest copies the base's file references BY NAME into
    * `vNNNNN@branch.json` in the same log. [[branchCommit]]s then stage
    * into the shared `data/` namespace invisible to main readers; the
    * write-audit-publish flow is createBranch → branchCommit(s) → audit
    * the branch read → [[publishBranch]] (serializable fast-forward) or
    * [[dropBranch]]. Returns the fork version. */
  def createBranch(spark: SparkSession, location: String, branch: String,
                   fromVersion: Option[Long] = None): Long = {
    require(BranchName.pattern.matcher(branch).matches(),
      s"versioned branch: invalid branch name '$branch' (want ${BranchName.regex})")
    val root = new Path(location)
    val fs = fsFor(spark, root)
    val vs = versions(spark, location)
    if (vs.isEmpty) throw new graft.config.ConfigError(
      s"versioned branch: no committed versions at '$location'")
    val base = fromVersion.getOrElse(vs.last)
    if (!vs.contains(base)) throw new graft.config.ConfigError(
      s"versioned branch: version $base not in committed set ${vs.mkString("[", ",", "]")}")
    if (branchVersions(spark, location, branch).nonEmpty)
      throw new graft.config.ConfigError(
        s"versioned branch: branch '$branch' already exists at '$location'")
    // the fork manifest: the base's with mode rewritten — file, stats
    // and DV references copied by name, zero bytes moved ([[forkOf]]) —
    // published through the coordinator like every other manifest
    if (!publish(fs, root, branchManifestPath(root, base, branch),
      forkOf(manifestOf(fs, root, base)).render))
      throw new java.util.ConcurrentModificationException(
        s"versioned branch: branch '$branch' creation raced at '$location'")
    graft.log.Log.info("versioned branch created",
      "location" -> location, "branch" -> branch, "base" -> s"v$base")
    base
  }

  /** Append/overwrite commit ON A BRANCH — the WAP staging write. Same
    * stage-then-CAS protocol as [[commit]]; the data files land in the
    * shared append-only namespace but are referenced only by branch
    * manifests, so main readers never see them. Zone maps / DV sidecars
    * of the base carry by name on appends (new files get no fresh
    * stats — the branch is a staging area; publish-side maintenance
    * recomputes if needed). Returns the branch version. */
  def branchCommit(spark: SparkSession, location: String, branch: String,
                   df: DataFrame, mode: String,
                   format: String = "parquet",
                   options: Map[String, String] = Map.empty,
                   maxRetries: Int = 10,
                   txn: Option[(String, Long)] = None): Long = {
    require(mode == "overwrite" || mode == "append",
      s"versioned branch commit: mode must be overwrite|append, got '$mode'")
    val root = new Path(location)
    val fs = fsFor(spark, root)
    if (branchVersions(spark, location, branch).isEmpty)
      throw new graft.config.ConfigError(
        s"versioned branch commit: branch '$branch' does not exist at '$location'")
    // exactly-once for streaming foreachBatch INTO a branch: a replayed
    // (app, batch) — or any later batch of the same app — is skipped
    // before any data is staged (the [[commit]] txn contract)
    val branchManifest = (v: Long) => manifestAt(fs, branchManifestPath(root, v, branch))
    txn.foreach { case (app, batch) =>
      txnsAt(branchVersions(spark, location, branch))(branchManifest).get(app)
        .filter(_._1 >= batch).foreach { case (_, atV) =>
          graft.log.Log.info("versioned branch commit: txn replay skipped",
            "location" -> location, "branch" -> branch,
            "batch" -> batch.toString, "committed_at" -> s"v$atV")
          return atV
        }
    }
    val (written, _) = writeData(root, df, newCommitId(), Nil, format, options)
    var attempt = 0
    while (attempt < maxRetries) {
      val bvs = branchVersions(spark, location, branch)
      val head = bvs.last
      val headManifest = branchManifest(head)
      // an append carries the head's files, stats and DV by name
      val carry = if (mode == "append") Some(headManifest) else None
      if (writeManifestCas(fs, root, Manifest.next(head + 1, mode,
        carry.fold(Seq.empty[(String, Long)])(_.files) ++ written, txn,
        carry.flatMap(_.statsFile), carry.flatMap(_.dv),
        txnsAt(bvs)(v => if (v == head) headManifest else branchManifest(v))), Some(branch))) {
        graft.log.Log.info("versioned branch commit",
          "location" -> location, "branch" -> branch, "version" -> s"v${head + 1}")
        return head + 1
      }
      attempt += 1
    }
    throw new java.io.IOException(
      s"versioned branch commit: lost the version race $maxRetries times " +
        s"on branch '$branch' at '$location'")
  }

  /** Snapshot read of a branch head (or `asOf` a branch version). */
  def readBranch(spark: SparkSession, location: String, branch: String,
                 asOf: Option[Long] = None, format: String = "parquet",
                 options: Map[String, String] = Map.empty): DataFrame = {
    val root = new Path(location)
    val fs = fsFor(spark, root)
    val bvs = branchVersions(spark, location, branch)
    if (bvs.isEmpty) throw new graft.config.ConfigError(
      s"versioned branch read: branch '$branch' does not exist at '$location'")
    val v = asOf.getOrElse(bvs.last)
    if (!bvs.contains(v)) throw new graft.config.ConfigError(
      s"versioned branch read: version $v not on branch '$branch' ${bvs.mkString("[", ",", "]")}")
    val m = manifestAt(fs, branchManifestPath(root, v, branch))
    if (m.files.isEmpty) throw new graft.config.ConfigError(
      s"versioned branch read: v$v@$branch of '$location' references no files")
    liveRows(spark, root, m.names, m.dv, format, options)
  }

  /** PUBLISH a branch to main — the WAP promote: the branch head's file
    * list (with its stats/DV references) becomes the next MAIN version,
    * SERIALIZABLE against the fork point: if main moved since the
    * branch forked, the publish aborts loudly (the branch staged
    * against a snapshot main no longer has; re-fork and re-stage).
    * Branch manifests stay for lineage until [[dropBranch]]. Returns
    * the published main version. */
  def publishBranch(spark: SparkSession, location: String,
                    branch: String): Long = {
    val bvs = branchVersions(spark, location, branch)
    if (bvs.isEmpty) throw new graft.config.ConfigError(
      s"versioned publish: branch '$branch' does not exist at '$location'")
    val forkBase = bvs.head
    val t = open(spark, location, "publish", "re-fork and re-stage")
    if (t.latest != forkBase)
      throw new java.util.ConcurrentModificationException(
        s"versioned publish: serializable conflict at '$location' — branch " +
          s"'$branch' forked at v$forkBase but main is at v${t.latest}; " +
          "rebaseBranch (append-only staging) or re-fork and re-stage")
    // main's txns carry on; the branch's own stay on the branch
    publishNext(t, "publish", Claim.of(manifestAt(t.fs, branchManifestPath(t.root, bvs.last, branch))))(
      "versioned branch published", "branch" -> branch, "version" -> s"v${t.next}")
  }

  /** REBASE an append-only branch onto the moved main head — the retry
    * path [[publishBranch]]'s serializable conflict points at, without
    * re-staging any data: the branch's STAGED files (those its head
    * references beyond its fork manifest) are re-attached to the new
    * main head in a fresh branch lineage. Sound only when every branch
    * commit was an append (an overwrite dropped base files, and
    * re-attaching its survivors to a different base would silently
    * resurrect or lose rows — rejected by name). Returns the new fork
    * version. Single-writer maintenance op: a writer racing the branch
    * during its rebase loses manifests by design (the branch is being
    * rewritten). */
  def rebaseBranch(spark: SparkSession, location: String,
                   branch: String): Long = {
    val root = new Path(location)
    val fs = fsFor(spark, root)
    val bvs = branchVersions(spark, location, branch)
    if (bvs.isEmpty) throw new graft.config.ConfigError(
      s"versioned rebase: branch '$branch' does not exist at '$location'")
    val lineage = bvs.map(v => manifestAt(fs, branchManifestPath(root, v, branch)))
    val nonAppend = lineage.drop(1).map(_.mode).filterNot(_ == "append")
    if (nonAppend.nonEmpty) throw new graft.config.ConfigError(
      s"versioned rebase: branch '$branch' has non-append commits " +
        s"(${nonAppend.mkString(", ")}) — a rebase would change their " +
        "semantics; drop the branch and re-stage against the new head")
    val forkFiles = lineage.head.names.toSet
    val staged = lineage.last.files.filterNot(f => forkFiles(f._1))
    val mainLatest = versions(spark, location).last
    if (mainLatest == bvs.head)
      return bvs.head // nothing to rebase onto
    // carry the NEW main head's stats/DV (they cover its files; the
    // staged files simply have no stats — conservative)
    val head = manifestOf(fs, root, mainLatest)
    // rewrite the branch lineage CRASH-SAFELY: the complete new lineage
    // (fork + append) is written under a TEMP branch name first, so the
    // staged data files are referenced by at least one full lineage at
    // every instant — a crash anywhere leaves them vacuum-proof. The
    // old delete-first order had a window where the branch held zero
    // manifests and the staged files were eligible for reclamation.
    // Temp names can't collide with old manifests even when the new
    // main head's version number overlaps the old staged range.
    val uuid = newCommitId()
    val tmpBranch = s"$branch.rebase-$uuid"
    val fork = forkOf(head)
    publishNew(fs, root, branchManifestPath(root, mainLatest, tmpBranch), fork.render)
    if (!writeManifestCas(fs, root, Manifest.next(mainLatest + 1, "append",
      head.files ++ staged, None, head.statsFile, head.dv, fork.txns.get), Some(tmpBranch)))
      throw new java.util.ConcurrentModificationException(
        s"versioned rebase: branch '$branch' raced at '$location'")
    // COMMIT MARKER: from this instant the rebase is DECIDED — a crash
    // anywhere below is finished by the next branch read
    // ([[recoverRebase]] adopts the recorded lineage). Without the
    // marker a crash leaves the old branch intact and the temp lineage
    // is expired as debris. Published via the coordinator (never torn);
    // the uuid-unique name means the CAS always wins.
    val marker = rebaseMarkerPath(root, branch, uuid)
    publishNew(fs, root, marker,
      s"""{"branch":${Json.str(branch)},"tmp":${Json.str(tmpBranch)},""" +
        s""""versions":[$mainLatest,${mainLatest + 1}]}""")
    bvs.foreach(v => fs.delete(branchManifestPath(root, v, branch), false))
    // publish the new lineage under the real name THROUGH the
    // coordinator (r11 ADVICE: the direct FileContext.rename here made
    // rebase the one non-atomic publish on a lockfile deployment) —
    // fork first so the branch reappears base-first. A CAS loss against
    // IDENTICAL content means a concurrent recovery already adopted
    // this very manifest (benign); anything else is a real race.
    // The marker above makes the rebase DECIDED, so a concurrent
    // branch READ may run [[recoverRebase]] and finish it UNDER us —
    // deleting the tmp manifest after publishing the real-name twin
    // (r12 ADVICE): a vanished tmp here therefore means HELPED, not
    // raced — mirror recovery's own idempotence rule and adopt the
    // published twin (bounded wait across recovery's transient
    // delete-dst-then-republish window) instead of throwing on a
    // rebase that completed consistently.
    Seq(mainLatest, mainLatest + 1).foreach { v =>
      val tmpPath = branchManifestPath(root, v, tmpBranch)
      val dst = branchManifestPath(root, v, branch)
      val tmpManifest =
        try Some(manifestAt(fs, tmpPath))
        catch { case _: java.io.FileNotFoundException => None }
      tmpManifest match {
        case Some(m) =>
          if (!publish(fs, root, dst, m.render) && manifestAt(fs, dst) != m)
            throw new java.util.ConcurrentModificationException(
              s"versioned rebase: branch '$branch' manifest v$v raced at '$location'")
          fs.delete(tmpPath, false)
        case None =>
          // only recovery deletes a tmp manifest, and only after
          // publishing the twin — confirm it landed (it may be mid
          // delete-dst-then-republish for a moment)
          val deadline = System.nanoTime() + 5000000000L // 5 s
          var published = fs.exists(dst)
          while (!published && System.nanoTime() < deadline) {
            Thread.sleep(50)
            published = fs.exists(dst)
          }
          if (!published) throw new java.util.ConcurrentModificationException(
            s"versioned rebase: branch '$branch' tmp manifest v$v vanished " +
              s"at '$location' without a recovered real-name twin")
      }
    }
    fs.delete(marker, false)
    graft.log.Log.info("versioned branch rebased",
      "location" -> location, "branch" -> branch,
      "new_base" -> s"v$mainLatest", "staged_files" -> staged.size.toString)
    mainLatest
  }

  /** Delete a branch's manifests. Its unpublished data files become
    * unreferenced and are reclaimed by [[vacuumVersions]]. */
  def dropBranch(spark: SparkSession, location: String, branch: String): Unit = {
    val root = new Path(location)
    val fs = fsFor(spark, root)
    branchVersions(spark, location, branch).foreach { v =>
      fs.delete(branchManifestPath(root, v, branch), false)
    }
    graft.log.Log.info("versioned branch dropped",
      "location" -> location, "branch" -> branch)
  }

  /** Names of live branches at the location. */
  private[sinks] def branches(spark: SparkSession, location: String): Seq[String] = {
    val root = new Path(location)
    val fs = fsFor(spark, root)
    if (!fs.exists(logDir(root))) Seq.empty
    else fs.listStatus(logDir(root)).toSeq.map(_.getPath.getName)
      .collect { case n if n.startsWith("v") && n.contains("@") && n.endsWith(".json") =>
        n.substring(n.indexOf('@') + 1).stripSuffix(".json") }
      .distinct.sorted
  }

  /** A zone-map-pruned snapshot scan: `df` reads ONLY the kept files. */
  final case class PrunedScan(df: DataFrame, totalFiles: Int, keptFiles: Int)

  /** Pruning predicate against a stats column. `op` ∈ {=, <, <=, >, >=};
    * `value` is canonicalized by the SAME rule as the stored stats
    * ([[canonToken]]) — pass the natural JVM type (Long, String,
    * java.sql.Date/Timestamp, ...). */
  final case class Prune(column: String, op: String, value: Any) {
    require(Set("=", "<", "<=", ">", ">=").contains(op),
      s"prune: op must be one of = < <= > >=, got '$op'")
  }

  /** Snapshot read that PLANS FROM THE ZONE MAPS: a file is skipped when
    * its recorded [min,max] proves no row can satisfy ALL `predicates`
    * (conjunction). Conservative everywhere stats are absent or not
    * comparable — the scan is always a superset of the matching rows,
    * so callers apply the real filter on the result exactly as they
    * would after parquet row-group pruning. An all-null file is skipped
    * for every op (no comparison predicate matches NULL).
    *
    * At 100 TB this is the first pruning tier: one small JSONL decides
    * which of a million files to open, before any parquet footer is
    * touched; the footers' row-group stats then prune WITHIN kept files
    * (the sink's sort_by/range_partition_keys make both tiers sharp). */
  def readPruned(spark: SparkSession, location: String,
                 predicates: Seq[Prune],
                 asOf: Option[Long] = None, format: String = "parquet",
                 options: Map[String, String] = Map.empty): PrunedScan = {
    val root = new Path(location)
    val fs = fsFor(spark, root)
    val vs = versions(spark, location)
    if (vs.isEmpty) throw new graft.config.ConfigError(
      s"versioned read: no committed versions at '$location'")
    val v = asOf.getOrElse(vs.last)
    if (!vs.contains(v)) throw new graft.config.ConfigError(
      s"versioned read: version $v not in committed set ${vs.mkString("[", ",", "]")}")
    val m = manifestOf(fs, root, v)
    val files = m.names
    val sidecar = sidecarOf(fs, root, m)
    val stats = statsByFile(sidecar)
    val sets = sidecar.sets
      .groupBy(_._1).map { case (f, xs) =>
        (f, xs.map { case (_, c, b) => (c, b) }.toMap) }
    // the bucket-bitmap tier applies to `=` probes whose toString equals
    // Spark's cast-to-string of the column (integral and string kinds)
    def bitmapCanonical(v: Any): Option[String] = v match {
      case _: Byte | _: Short | _: Int | _: Long => Some(v.toString)
      case s: String => Some(s)
      case _ => None
    }
    // a NaN or infinite probe value has no token: it keeps every file
    val preds = predicates.flatMap(p => boundToken(p.value).map(tok => (p.column, p.op, tok,
      if (p.op == "=") bitmapCanonical(p.value).map(bitmapBucket) else None)))
    def mayMatch(f: String): Boolean = preds.forall { case (c, op, tok, bkt) =>
      val rangeOk = stats.get(f).flatMap(_.get(c)) match {
        case None => true // no stats for this file/column: keep
        case Some(s) =>
          if (s.min == "null" && s.max == "null") false // all-null file
          else {
            val vsMin = cmpTokens(tok, s.min) // sign of (value - min)
            val vsMax = cmpTokens(tok, s.max)
            (op, vsMin, vsMax) match {
              case ("=", Some(a), Some(b)) => a >= 0 && b <= 0
              case ("<", Some(a), _) => a > 0 // min < value
              case ("<=", Some(a), _) => a >= 0 // min <= value
              case (">", _, Some(b)) => b < 0 // max > value
              case (">=", _, Some(b)) => b <= 0 // max >= value
              case _ => true // kind mismatch: keep (conservative)
            }
          }
      }
      // point-lookup tier: a clear bucket bit PROVES absence even when
      // the range spans the value (unclustered columns). Only consulted
      // when the probe's kind matches the stored stats' kind — a numeric
      // probe against a STRING column would hash "50" while the column
      // holds "050", yet Spark's equality casts and matches; kind
      // mismatch falls back to the conservative range answer.
      val kindOk = stats.get(f).flatMap(_.get(c))
        .exists(s => cmpTokens(tok, s.min).isDefined)
      val bitmapOk = !kindOk || bkt.forall { b =>
        sets.get(f).flatMap(_.get(c)).forall(b64 => bitmapHas(b64, b))
      }
      rangeOk && bitmapOk
    }
    val kept = files.filter(mayMatch)
    val df =
      if (kept.isEmpty)
        // provably empty under the predicates: an empty frame with the
        // table's schema, zero files opened
        snapshot(spark, root, location, m, format, options).limit(0)
      else
        // deleted rows stay invisible on the pruned path too (DV entries
        // for pruned-away files match nothing, harmlessly)
        liveRows(spark, root, kept, m.dv, format, options)
    graft.log.Log.info("versioned pruned read",
      "location" -> location, "version" -> s"v$v",
      "files_total" -> files.size.toString, "files_kept" -> kept.size.toString)
    PrunedScan(df, files.size, kept.size)
  }

  /** Time travel by WALL CLOCK: the latest version committed at or
    * before `tsMillis` (versions without a recorded ts — pre-upgrade
    * manifests — are treated as older than any timestamp). Errors when
    * the table has no commit that old. Timestamp resolution is
    * convenience over the version log; the version number remains the
    * isolation truth (two commits in one millisecond resolve to the
    * later version). */
  def versionAt(spark: SparkSession, location: String, tsMillis: Long): Long = {
    val root = new Path(location)
    val fs = fsFor(spark, root)
    val vs = versions(spark, location)
    if (vs.isEmpty) throw new graft.config.ConfigError(
      s"versioned read: no committed versions at '$location'")
    vs.filter(v => manifestOf(fs, root, v).ts.getOrElse(0L) <= tsMillis)
      .lastOption.getOrElse(throw new graft.config.ConfigError(
        s"versioned read: no version at or before ts $tsMillis at '$location' " +
          s"(earliest is v${vs.head})"))
  }

  /** CDC over the log: the rows ADDED by each commit in
    * (`fromVersion`, `toVersion`], tagged `_commit_version` — the
    * incremental-consumer read (process only what arrived since the
    * bookmark, never rescan the table). Works on APPEND commits, whose
    * new rows are exactly their new files — file-level metadata, no
    * diffing. An overwrite commit in the range is a full logical
    * replace; its row-level delta would cost a two-snapshot EXCEPT scan,
    * so it aborts loudly — the consumer should re-read the snapshot
    * (same contract as Delta's readChangeFeed on non-CDF rewrites). */
  def changesBetween(spark: SparkSession, location: String,
                     fromVersion: Long, toVersion: Long,
                     format: String = "parquet",
                     options: Map[String, String] = Map.empty): DataFrame = {
    import org.apache.spark.sql.functions.lit
    val root = new Path(location)
    val fs = fsFor(spark, root)
    val vs = versions(spark, location)
    require(fromVersion < toVersion,
      s"versioned changes: need fromVersion < toVersion, got $fromVersion >= $toVersion")
    Seq(fromVersion, toVersion).foreach { v =>
      if (!vs.contains(v)) throw new graft.config.ConfigError(
        s"versioned changes: version $v not in committed set ${vs.mkString("[", ",", "]")}")
    }
    val range = vs.filter(v => v > fromVersion && v <= toVersion)
    val manifest = manifestCache(fs, root)
    val frames = range.map { v =>
      val m = manifest(v)
      if (m.mode != "append")
        throw new graft.config.ConfigError(
          s"versioned changes: v$v of '$location' is a ${m.mode} commit — " +
            "its row-level delta is a full two-snapshot diff; use " +
            s"diffVersions(${v - 1}, $v) or read the snapshot " +
            s"(as_of_version: $v) instead")
      val prev = manifest(v - 1).names.toSet
      val added = m.names.filterNot(prev.contains)
      if (added.isEmpty)
        snapshot(spark, root, location, m, format, options).limit(0)
          .withColumn("_commit_version", lit(v))
      else loadData(spark, root, added, format, options)
        .withColumn("_commit_version", lit(v))
    }
    frames.reduceLeft(_.unionByName(_))
  }

  /** DESCRIBE HISTORY from metadata alone: one row per committed version
    * — mode, file count, total bytes (manifest fields) and row count
    * (sidecar, null for commits without stats). NO data file is opened:
    * at 100 TB this answers "how big is the table / what did each
    * commit add" from a few KB of log, where a count(*) scan is a job. */
  /** RESTORE: roll the table back to `toVersion` AS A NEW COMMIT — the
    * Delta `RESTORE TABLE ... TO VERSION AS OF` shape: the new head
    * references exactly v_N's file list (with its stats sidecar and
    * deletion vector BY NAME — zero bytes moved, metadata-only like
    * every commit here), and HISTORY IS PRESERVED: the bad versions
    * stay time-travelable for the post-mortem, unlike a vacuum. The
    * bad-deploy recovery primitive: a 100 TB table un-breaks in one
    * manifest write. CAS-published at latest+1 — a concurrent commit
    * wins the race and the restore aborts loudly (restoring over a
    * commit you haven't seen would silently drop it).
    * [[changesBetween]] refuses to cross a restore (mode != append),
    * the same CDC contract as overwrite/merge/delete. */
  def restore(spark: SparkSession, location: String, toVersion: Long): Long = {
    val t = open(spark, location, "restore", "re-inspect and re-restore", allowEmpty = true)
    if (!t.vs.contains(toVersion)) throw new graft.config.ConfigError(
      s"versioned restore: version $toVersion not in committed set ${t.vs.mkString("[", ",", "]")}")
    if (toVersion == t.latest) {
      graft.log.Log.info("versioned restore: already at target",
        "location" -> location, "version" -> s"v${t.latest}")
      return t.latest
    }
    // the log's txns are history, not table content: they carry from the head
    publishNext(t, "restore", Claim.of(t.manifest(toVersion)))("versioned restore",
      "restored_to" -> s"v$toVersion", "version" -> s"v${t.next}")
  }

  /** Manifest byte total of ONE committed version — a single manifest
    * text fetch, no stats-sidecar read (the `history` row also parses
    * the sidecar for n_rows, which byte-budgeting callers — the CDC
    * `maxBytesPerDrain` bound — never need). */
  private[graft] def manifestTotalBytes(spark: SparkSession, location: String,
                                        version: Long): Long = {
    val root = new Path(location)
    manifestOf(fsFor(spark, root), root, version).files.map(_._2).sum
  }

  def history(spark: SparkSession, location: String): DataFrame = {
    import org.apache.spark.sql.types._
    val root = new Path(location)
    val fs = fsFor(spark, root)
    val vs = versions(spark, location)
    if (vs.isEmpty) throw new graft.config.ConfigError(
      s"versioned history: no committed versions at '$location'")
    val rows = vs.map { v =>
      // ONE manifest fetch per version (a 10k-commit DESCRIBE HISTORY
      // on an object store pays 10k GETs, not 40k)
      val m = manifestOf(fs, root, v)
      val sc = sidecarOf(fs, root, m)
      // deletion vectors hide rows the per-file counts still include
      val nRows: Any =
        if (sc.rows.isEmpty) null else sc.rows.map(_._2).sum - m.dv.fold(0L)(_._2)
      org.apache.spark.sql.Row(v, m.mode, m.files.size.toLong,
        m.files.map(_._2).sum, nRows, m.ts.map(Long.box).orNull)
    }
    spark.createDataFrame(
      new java.util.ArrayList[org.apache.spark.sql.Row](
        scala.jdk.CollectionConverters.SeqHasAsJava(rows).asJava),
      StructType(Seq(
        StructField("version", LongType, nullable = false),
        StructField("mode", StringType, nullable = false),
        StructField("n_files", LongType, nullable = false),
        StructField("total_bytes", LongType, nullable = false),
        StructField("n_rows", LongType, nullable = true),
        StructField("ts_millis", LongType, nullable = true))))
  }

  /** Reclaim space: delete manifests BELOW `keepFromVersion`, every data
    * file / stats sidecar only those dropped manifests referenced, and —
    * AGE-GATED — files no manifest ever referenced. The age gate
    * (`minOrphanAgeMillis`, default 10 min) is what makes vacuum safe
    * beside LIVE writers: a commit's files sit unreferenced in `data/`
    * from the moment its write job creates them until its manifest CAS
    * (and forever, when a task attempt or the CAS fails), and deleting
    * them inside that window
    * would let the commit publish a manifest pointing at nothing (the
    * Delta retention-window rule). Files referenced by a DROPPED
    * manifest were committed — their writer is done — so they reclaim
    * immediately. Namespace-only, cost ∝ file count. */
  def vacuumVersions(spark: SparkSession, location: String,
                     keepFromVersion: Long,
                     minOrphanAgeMillis: Long = 10 * 60 * 1000L): Seq[String] = {
    val root = new Path(location)
    val fs = fsFor(spark, root)
    val vs = versions(spark, location)
    if (vs.isEmpty) throw new graft.config.ConfigError(
      s"versioned vacuum: no committed versions at '$location'")
    val kept = vs.filter(_ >= keepFromVersion)
    if (kept.isEmpty) throw new graft.config.ConfigError(
      s"versioned vacuum: keep_from $keepFromVersion would drop EVERY version " +
        s"(latest is ${vs.last}) — refusing to empty the table")
    // resolve EVERY reference set up front — manifests below keep_from
    // are deleted mid-way and can't be consulted after. LIVE BRANCHES
    // are unconditionally kept: their manifests' file/stats/DV refs
    // must survive until dropBranch (a branch is a ref, not history).
    // Each manifest is read once.
    val keptMs = kept.map(manifestOf(fs, root, _)) ++
      fs.listStatus(logDir(root)).toSeq.map(_.getPath)
        .filter { p => val n = p.getName
          n.startsWith("v") && n.contains("@") && n.endsWith(".json") }
        .map(manifestAt(fs, _))
    val anyMs = keptMs ++ vs.filter(_ < keepFromVersion).map(manifestOf(fs, root, _))
    val keptRefs = keptMs.flatMap(_.names).toSet
    val anyRefs = anyMs.flatMap(_.names).toSet
    val keptStats = keptMs.flatMap(_.statsFile).toSet
    val anyStats = anyMs.flatMap(_.statsFile).toSet
    val keptDvs = keptMs.flatMap(_.dv.map(_._1)).toSet
    val anyDvs = anyMs.flatMap(_.dv.map(_._1)).toSet
    val now = System.currentTimeMillis()
    val dropped = scala.collection.mutable.ArrayBuffer.empty[String]
    fs.listStatus(dataDir(root)).foreach { st =>
      val n = st.getPath.getName
      val deletable = st.isFile && !keptRefs.contains(n) &&
        (anyRefs.contains(n) || // a dropped manifest's file: committed, safe
          now - st.getModificationTime >= minOrphanAgeMillis) // true orphan: age-gated
      if (deletable) {
        fs.delete(st.getPath, false)
        dropped += s"data/$n"
      }
    }
    vs.filter(_ < keepFromVersion).foreach { v =>
      fs.delete(manifestPath(root, v), false)
      dropped += f"_graft_log/v$v%05d.json"
    }
    // stats sidecars + stale manifest temp files: keep what the kept
    // manifests reference; dropped manifests' sidecars reclaim
    // immediately, never-referenced ones (in-flight commits!) age-gate
    fs.listStatus(logDir(root)).foreach { st =>
      val n = st.getPath.getName
      val orphanKind =
        if (n.startsWith("stats-")) !keptStats.contains(n)
        else n.startsWith(".tmp-") // a crashed writer's unpublished manifest
      val deletable = st.isFile && orphanKind &&
        ((n.startsWith("stats-") && anyStats.contains(n)) ||
          now - st.getModificationTime >= minOrphanAgeMillis)
      if (deletable) {
        fs.delete(st.getPath, false)
        dropped += s"_graft_log/$n"
      }
      // deletion-vector sidecars are DIRECTORIES: reclaim those no kept
      // manifest references (committed-then-dropped immediately;
      // never-referenced ones — an in-flight delete's staging — age-gate)
      if (st.isDirectory && n.startsWith("dv-") && !keptDvs.contains(n) &&
        (anyDvs.contains(n) ||
          now - st.getModificationTime >= minOrphanAgeMillis)) {
        fs.delete(st.getPath, true)
        dropped += s"_graft_log/$n"
      }
    }
    dropped.toSeq
  }
}
