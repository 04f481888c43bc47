package graft.sources

import scala.util.control.NonFatal

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types.{DataType, StructType}
import graft.config.{ConfigError, SourceSpec}

/** `InputTable => DataFrame` — reference A1/A2/A3
  * (`glue/glue_etl_framework.py:63-133`), SURVEY.md §7 module 2.
  *
  * Scale notes: the file scan is a plain `DataFrameReader` so Catalyst's
  * vectorized parquet/orc readers, predicate pushdown, column pruning and
  * partition pruning all apply; `recursiveFileLookup` mirrors Glue's
  * recursive S3 listing. At 100 TB the scan parallelism comes from
  * `spark.sql.files.maxPartitionBytes` — we deliberately do not repartition
  * after read (that would shuffle the full input).
  */
object Sources {

  /** Glue `format_options` → Spark reader options
    * (`README.md:44,121-126`): Glue names on the left, Spark on the right.
    * Unknown keys pass through untouched so native Spark options also work. */
  private val glueOptionNames: Map[String, String] = Map(
    "withHeader" -> "header",
    "separator"  -> "sep",
    "quoteChar"  -> "quote",
    "escaper"    -> "escape",
    "multiline"  -> "multiLine",
    "compression" -> "compression",
    "writeHeader" -> "header")

  private[graft] def mapOptions(opts: Map[String, String]): Map[String, String] =
    opts.collect { case (k, v) if k != "optimizePerformance" =>
      glueOptionNames.getOrElse(k, k) -> v }

  // `avro` resolves to graft's own [[GraftAvroFileFormat]] (registered via
  // DataSourceRegister): /opt/spark/jars ships avro-core but not the
  // spark-avro datasource module, so the container format is implemented
  // directly on the core library. `xml` is Spark 4's built-in XML source
  // (spark-xml merged upstream) — `rowTag` etc. pass through
  // format_options untouched.
  private val knownFormats = Set("parquet", "csv", "json", "orc", "text", "avro", "xml")

  def load(spark: SparkSession, spec: SourceSpec): DataFrame = spec match {
    case SourceSpec.File(location, format, options, schema) =>
      if (!knownFormats(format))
        throw new ConfigError(s"unsupported input format '$format' (supported: ${knownFormats.mkString(", ")})")
      val readerOptions = mapOptions(options) +
        ("recursiveFileLookup" -> options.getOrElse("recursiveFileLookup", "true"))
      // explicit DDL schema: names headerless columns and skips the
      // inference pre-scan (a full extra read of the input at scale)
      val declared = schema.map(ddl =>
        try org.apache.spark.sql.types.StructType.fromDDL(ddl)
        catch { case e: Exception =>
          throw new ConfigError(s"invalid schema DDL '$ddl': ${e.getMessage}") })
      // without one, a parquet load pins the schema inference would
      // return from one driver-side footer read ([[dirSchema]])
      def reader(p: String) = {
        val r = spark.read.format(format).options(readerOptions)
        declared.orElse(dirSchema(spark, format, readerOptions, p)).fold(r)(r.schema)
      }
      // pointer-layout tables (plain sinks published on overwrite-only
      // deployments via the generation-pointer protocol) resolve to
      // their current generation; everything else reads the location
      // as-is (one fs.exists probe, driver-side). The retry wrapper
      // covers the LOAD-TIME straggle (the generation purged between
      // resolve and the load's listing — re-resolve once). A straggle
      // during a LATER action on the returned lazy frame fails at that
      // action (no wrapper installed here can catch it) — the grace
      // window (keepGenerations) is the first line for those, and the
      // caller re-reads through withPointerRetry on the loud failure.
      graft.sinks.Sinks.withPointerRetry(spark, location)(p => reader(p).load(p))

    case SourceSpec.Versioned(location, format, options, asOf0, prune, asOfTs, Some(branch)) =>
      // branch HEAD read — the WAP audit scan (parse guarantees no
      // as_of/prune combination)
      graft.sinks.VersionedTable.readBranch(spark, location, branch,
        None, format, mapOptions(options))

    case SourceSpec.Versioned(location, format, options, asOf0, prune, asOfTs, None) =>
      // snapshot read of a versioned-manifest table: the plan loads
      // EXACTLY the resolved manifest's file list (time travel via
      // as_of_version, or as_of_timestamp resolved against the commit
      // wall clocks), never a directory listing. `prune:` plans from
      // the zone maps (files that cannot match are never opened), then
      // re-applies the clauses as an ordinary filter on the kept files
      // so the view is exactly the predicate's rows.
      val asOf = asOfTs
        .map(ts => graft.sinks.VersionedTable.versionAt(spark, location, ts))
        .orElse(asOf0)
      if (prune.isEmpty)
        graft.sinks.VersionedTable.read(spark, location, asOf, format,
          mapOptions(options))
      else {
        import org.apache.spark.sql.functions.{col, lit}
        val scan = graft.sinks.VersionedTable.readPruned(spark, location,
          prune.map(p => graft.sinks.VersionedTable.Prune(p.column, p.op, p.value)),
          asOf, format, mapOptions(options))
        prune.foldLeft(scan.df) { (df, p) =>
          val c = col(p.column); val v = lit(p.value)
          df.filter(p.op match {
            case "=" => c === v
            case "<" => c < v
            case "<=" => c <= v
            case ">" => c > v
            case ">=" => c >= v
          })
        }
      }

    case SourceSpec.Catalog(database, table) =>
      // A2: catalog scan via the session catalog / metastore
      // (`glue_etl_framework.py:112-116`).
      spark.table(s"$database.$table")

    case SourceSpec.Jdbc(url, database, table, options) =>
      // A3 implemented for real (the reference stub crashes,
      // `glue_etl_framework.py:119-120,128`). `dbtable` supports a
      // subquery alias; partitioned reads via the standard
      // partitionColumn/lowerBound/upperBound/numPartitions options.
      val qualified = if (database.nonEmpty) s"$database.$table" else table
      spark.read.format("jdbc")
        .option("url", url)
        .option("dbtable", options.getOrElse("dbtable", qualified))
        .options(options - "dbtable")
        .load()
  }

  /** Load an explicit data-file list — a versioned table's manifest, a
    * bookmark plan — with `options` passed to the reader as given.
    *
    * Parquet schema inference is a Spark job even for one file. With
    * `mergeSchema` off, that job reads only the footer of the first file
    * in path order, and returns the Spark schema stored in it under
    * `org.apache.spark.sql.parquet.row.metadata`. This loader reads the
    * same footer on the driver and pins the schema with `.schema(…)`,
    * so opening the files starts no job until the frame's first action.
    * The result is the schema inference would return.
    *
    * It loads exactly as a plain `load(paths)` (inference included) when
    * the format is not parquet, when `mergeSchema` is on (the reader
    * option, else the session's `spark.sql.parquet.mergeSchema`), when a
    * file-filter option may drop the first file, or when the footer
    * cannot be read or carries no parseable Spark schema (files written
    * by other parquet writers). A missing file therefore fails as it
    * always did, at load. */
  def loadFiles(spark: SparkSession, format: String,
                options: Map[String, String], paths: Seq[String]): DataFrame = {
    val reader = spark.read.format(format).options(options)
    footerSchema(spark, format, options, paths).fold(reader)(s => reader.schema(s))
      .load(paths: _*)
  }

  private val SparkSchemaKey = "org.apache.spark.sql.parquet.row.metadata"

  // reader options that can drop files from an explicit list: the file
  // inference reads may then not be the smallest path given
  private val fileFilterOptions = Set("pathglobfilter", "modifiedbefore", "modifiedafter")

  /** The Spark schema in the footer of the first of `paths` (Spark's
    * pick: the smallest qualified path), or None where [[loadFiles]]
    * falls back to inference. */
  private[graft] def footerSchema(spark: SparkSession, format: String,
                                  options: Map[String, String],
                                  paths: Seq[String]): Option[StructType] =
    if (paths.isEmpty || !firstFilePick(spark, format, options)) None
    else try {
      import org.apache.hadoop.fs.Path
      val conf = org.apache.spark.sql.GraftSqlBridge.newHadoopConf(spark, options)
      val first = paths.map { p =>
        val path = new Path(p)
        path.getFileSystem(conf).makeQualified(path)
      }.minBy(_.toString)
      sparkSchemaOf(first.getFileSystem(conf).getFileStatus(first), conf)
    } catch { case NonFatal(_) => None }

  /** The Spark schema stored in the footer of the parquet file `status`
    * (row groups skipped), or None when the footer carries none. */
  private def sparkSchemaOf(status: org.apache.hadoop.fs.FileStatus,
                            conf: org.apache.hadoop.conf.Configuration): Option[StructType] = {
    import org.apache.parquet.hadoop.ParquetFileReader
    import org.apache.parquet.hadoop.util.HadoopInputFile
    val readOptions = org.apache.parquet.HadoopReadOptions.builder(conf, status.getPath)
      .withMetadataFilter(
        org.apache.parquet.format.converter.ParquetMetadataConverter.SKIP_ROW_GROUPS)
      .build()
    val in = ParquetFileReader.open(HadoopInputFile.fromStatus(status, conf), readOptions)
    val kv = try in.getFooter.getFileMetaData.getKeyValueMetaData finally in.close()
    Option(kv.get(SparkSchemaKey)).map(DataType.fromJson).collect { case s: StructType => s }
  }

  /** True where parquet inference reads one file's footer, the first in
    * path order: the format is parquet, `mergeSchema` is off (the reader
    * option, else the session's `spark.sql.parquet.mergeSchema`), and no
    * file-filter option can drop files from the listing. */
  private def firstFilePick(spark: SparkSession, format: String,
                            options: Map[String, String]): Boolean = {
    val mergeSchema = options.collectFirst {
      case (k, v) if k.equalsIgnoreCase("mergeSchema") => v
    }.getOrElse(spark.conf.get("spark.sql.parquet.mergeSchema", "false"))
    format == "parquet" && mergeSchema.equalsIgnoreCase("false") &&
      !options.keys.exists(k => fileFilterOptions(k.toLowerCase))
  }

  /** The schema parquet inference would return for a load of `location`
    * (a directory, or one file), read on the driver: [[footerSchema]] of
    * the leaf files the load lists, under Spark's listing rule (names
    * starting `_` or `.` skipped at every level below the root), so
    * Spark's pick, the smallest path, is the file read. None (the load
    * infers, as before) where that pick could differ or cost more than
    * the job it saves: summary files (`_metadata`, `_common_metadata`,
    * which inference prefers) are present, a Hadoop input path filter is
    * configured, more directories than
    * `spark.sql.sources.parallelPartitionDiscovery.threshold` would be
    * listed (Spark lists those with a job), the walk meets more than
    * [[MaxPinnedEntries]] entries (the load lists them again, so a wide
    * location would pay two listings to save one small job), or any
    * [[footerSchema]] fallback applies. The pick's footer is opened from
    * its walked status, not statted again. */
  private[graft] def dirSchema(spark: SparkSession, format: String,
                               options: Map[String, String],
                               location: String): Option[StructType] =
    if (!firstFilePick(spark, format, options)) None
    else try {
      import org.apache.hadoop.fs.{FileStatus, Path}
      import org.apache.spark.sql.GraftSqlBridge
      val conf = GraftSqlBridge.newHadoopConf(spark, options)
      val maxDirs = GraftSqlBridge.sqlConf(spark).parallelPartitionDiscoveryThreshold
      val root = new Path(location)
      val fs = root.getFileSystem(conf)
      var dirs = 0
      var entries = 0
      def leaves(st: FileStatus): Seq[FileStatus] =
        if (!st.isDirectory) Seq(st)
        else {
          def tooWide = new IllegalStateException("listing too wide to pin")
          dirs += 1
          if (dirs > maxDirs) throw tooWide
          val listed = fs.listStatus(st.getPath)
          entries += listed.length
          if (entries > MaxPinnedEntries) throw tooWide
          listed.toSeq
            .filterNot(c => GraftSqlBridge.hiddenPathName(c.getPath.getName))
            .flatMap(leaves)
        }
      val rootStatus = fs.getFileStatus(root)
      val files =
        if (rootStatus.isDirectory) leaves(rootStatus)
        else Seq(rootStatus).filterNot(f => GraftSqlBridge.hiddenPathName(f.getPath.getName))
      val summary = files.exists { f =>
        val n = f.getPath.getName
        n.startsWith("_metadata") || n.startsWith("_common_metadata")
      }
      if (summary || files.isEmpty || conf.get("mapreduce.input.pathFilter.class") != null) None
      else sparkSchemaOf(files.minBy(_.getPath.toString), conf)
    } catch { case NonFatal(_) => None }

  /** Entries (files and directories, hidden ones included) [[dirSchema]]
    * lists before it leaves the location to inference: one object-store
    * listing page (S3 and GCS return at most 1,000 keys per request). */
  private[graft] val MaxPinnedEntries = 1000

  /** File scan with MALFORMED-ROW quarantine (beyond-reference; the
    * config surface is `quarantine: <path>` on a csv/json input with an
    * explicit `schema:`). Both sides derive from raw TEXT line scans
    * re-parsed with `from_csv`/`from_json` + PERMISSIVE corrupt-record
    * capture — shuffle-free, and the SAME parse expression defines
    * malformed-ness for both, so the split is exact by construction:
    *
    *   1. bad side (written first, so a crash between the passes leaves
    *      evidence, not silence) — lines that trip the corrupt column
    *      land in the quarantine path as (raw_record, src_file)
    *      parquet, OVERWRITTEN per run (a re-run over the same input
    *      reproduces the same rejects — idempotent, the engine's
    *      re-run discipline — rather than appending duplicates);
    *   2. good side — the registered view: lines whose full-schema
    *      parse is clean, expanded to the declared columns.
    *
    * Why not the obvious reader shapes: a `DROPMALFORMED` reader view
    * defines malformed-ness relative to the columns each query NEEDS —
    * under column pruning, `SELECT count(*)` parses nothing and counts
    * every bad row (measured: 4/4 instead of 2/4 on a planted file) —
    * and a PERMISSIVE reader filtered on its corrupt column is
    * disallowed without caching the parsed input (impossible at scale).
    * The `from_csv`/`from_json` EXPRESSION is immune to both: the
    * csv/json expression optimizer never prunes a parse schema carrying
    * options, so the full-row parse verdict survives any downstream
    * projection. Caveat, enforced at config parse: headerless, line-
    * delimited input only (the text re-scan is line-based). */
  def loadWithQuarantine(spark: SparkSession, spec: SourceSpec.File,
                         quarantinePath: String): DataFrame = {
    import org.apache.spark.sql.functions._
    val SourceSpec.File(location, format, options, schemaDdl) = spec
    val ddl = schemaDdl.getOrElse(throw new ConfigError(
      s"quarantine source '$location' needs an explicit schema"))
    val structType =
      try org.apache.spark.sql.types.StructType.fromDDL(ddl)
      catch { case e: Exception =>
        throw new ConfigError(s"invalid schema DDL '$ddl': ${e.getMessage}") }
    val opts = mapOptions(options)
    val parseSchema = structType.add("__corrupt", org.apache.spark.sql.types.StringType)
    val parseOpts = opts + ("mode" -> "PERMISSIVE", "columnNameOfCorruptRecord" -> "__corrupt")
    def raw = spark.read
      .option("recursiveFileLookup", options.getOrElse("recursiveFileLookup", "true"))
      .text(location)
    def parsed(c: org.apache.spark.sql.Column) = format match {
      case "csv" => from_csv(c, parseSchema, parseOpts)
      case "json" => from_json(c, parseSchema, parseOpts)
      case other => throw new ConfigError(
        s"quarantine is only supported for csv/json sources, got '$other'")
    }

    raw.select(col("value").as("raw_record"),
        input_file_name().as("src_file"),
        parsed(col("value")).getField("__corrupt").as("__c"))
      .filter(col("__c").isNotNull)
      .drop("__c")
      .write.mode("overwrite").parquet(quarantinePath)

    raw.select(parsed(col("value")).as("__r"))
      .filter(col("__r.__corrupt").isNull)
      .select(structType.fieldNames.map(n => col("__r").getField(n).as(n)).toSeq: _*)
  }

  /** Streaming flavor of the file scan: same format/option mapping, but
    * through `readStream` so the engine's declared pipeline drains new
    * files incrementally under a checkpoint. The schema is REQUIRED (the
    * parser enforces it): an unbounded source has no bounded inference
    * pre-scan. Catalog/JDBC sources have no streaming analog here. */
  def loadStream(spark: SparkSession, spec: SourceSpec.File): DataFrame = {
    val SourceSpec.File(location, format, options, schema) = spec
    if (!knownFormats(format))
      throw new ConfigError(s"unsupported input format '$format' (supported: ${knownFormats.mkString(", ")})")
    val ddl = schema.getOrElse(throw new ConfigError(
      s"streaming file source '$location' needs an explicit schema"))
    spark.readStream
      .format(format)
      .options(mapOptions(options))
      .schema(
        try org.apache.spark.sql.types.StructType.fromDDL(ddl)
        catch { case e: Exception =>
          throw new ConfigError(s"invalid schema DDL '$ddl': ${e.getMessage}") })
      .load(location)
  }
}
