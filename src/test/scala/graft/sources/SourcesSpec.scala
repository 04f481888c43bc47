package graft.sources

import graft.SparkSpec
import graft.config.{ConfigError, SourceSpec}

class SourcesSpec extends SparkSpec {

  test("Glue format_options map to Spark reader options") {
    assert(Sources.mapOptions(Map(
      "withHeader" -> "true", "separator" -> "|", "quoteChar" -> "'",
      "escaper" -> "\\", "multiline" -> "true",
      "optimizePerformance" -> "true", // Glue-only knob: dropped
      "inferSchema" -> "true" // native Spark option: passes through
    )) == Map("header" -> "true", "sep" -> "|", "quote" -> "'",
      "escape" -> "\\", "multiLine" -> "true", "inferSchema" -> "true"))
  }

  test("unknown format is a config error, not a runtime crash") {
    // ("avro" was the canonical unknown until round 6 made it real,
    // then "xml" until round 7 wired Spark 4's built-in source)
    val e = intercept[ConfigError](Sources.load(spark,
      SourceSpec.File("/tmp/x", "iceberg", Map.empty)))
    assert(e.getMessage.contains("iceberg") && e.getMessage.contains("parquet"))
  }

  test("csv options drive a real read") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("sources-spec").toString + "/csv"
    Seq((1, "x"), (2, "y")).toDF("id", "s")
      .write.option("header", "true").option("sep", "|").csv(dir)
    val back = Sources.load(spark, SourceSpec.File(dir, "csv",
      Map("withHeader" -> "true", "separator" -> "|", "inferSchema" -> "true")))
    assert(back.columns.toSeq == Seq("id", "s"))
    assert(back.count() == 2)
  }

  test("quarantine split is exact under EVERY query shape (column pruning)") {
    val dir = java.nio.file.Files.createTempDirectory("quarantine-prune").toString
    new java.io.File(s"$dir/in").mkdirs()
    val g = new java.io.PrintWriter(s"$dir/in/data.csv")
    g.write("1|aa|10\n2|bb|20\n998|cc|notanint\n999|dd\n"); g.close()
    val good = Sources.loadWithQuarantine(spark,
      SourceSpec.File(s"$dir/in", "csv", Map("separator" -> "|"),
        Some("a INT, b STRING, c INT")),
      s"$dir/q")
    // a DROPMALFORMED-reader view fails all three of these: pruning makes
    // malformed-ness relative to the columns each query parses (measured:
    // count()=4). The from_csv-expression view must be shape-independent.
    assert(good.count() == 2)
    assert(good.select("a").count() == 2)
    assert(good.collect().length == 2)
    val quarantined = spark.read.parquet(s"$dir/q")
    assert(quarantined.select("raw_record").collect().map(_.getString(0)).toSet ==
      Set("998|cc|notanint", "999|dd"))
    // re-run: overwrite semantics — same rejects, no duplicates
    Sources.loadWithQuarantine(spark,
      SourceSpec.File(s"$dir/in", "csv", Map("separator" -> "|"),
        Some("a INT, b STRING, c INT")),
      s"$dir/q").count()
    assert(spark.read.parquet(s"$dir/q").count() == 2)
  }

  test("a parquet directory load pins the schema inference returns and starts no job") {
    import spark.implicits._
    val root = java.nio.file.Files.createTempDirectory("sources-pin").toString
    def same(dir: String, options: Map[String, String] = Map.empty): Unit = {
      val readerOptions = Map("recursiveFileLookup" -> "true") ++ options
      val inferred = spark.read.options(readerOptions).parquet(dir).schema
      val (df, jobs) = graft.JobCount.started(spark)(
        Sources.load(spark, SourceSpec.File(dir, "parquet", options)))
      assert(jobs == 0, s"$dir $options: $jobs jobs at load")
      assert(df.schema == inferred, s"$dir $options")
      assert(df.collect().toSet == spark.read.options(readerOptions).parquet(dir).collect().toSet)
    }
    // flat: two files whose schemas differ in width; the pick decides
    Seq((1, "a")).toDF("id", "s").write.parquet(s"$root/flat")
    Seq((2, "b", 2.5)).toDF("id", "s", "x").write.mode("append").parquet(s"$root/flat")
    same(s"$root/flat")
    // nested: struct, array of struct, map
    Seq((1, ("x", Seq((1, 2.0))), Map("k" -> 1L))).toDF("id", "st", "m")
      .write.parquet(s"$root/nested/part=1")
    Seq((2, ("y", Seq.empty[(Int, Double)]), Map.empty[String, Long])).toDF("id", "st", "m")
      .write.parquet(s"$root/nested/deeper/more")
    same(s"$root/nested")
    // hidden files and directories: `_` and `.` names are never the pick
    Seq(("z", 9)).toDF("other", "cols").write.parquet(s"$root/hidden/_tmp")
    Seq(("z", 9)).toDF("other", "cols").write.parquet(s"$root/hidden/.staging")
    Seq((3, "c")).toDF("id", "s").write.parquet(s"$root/hidden/data")
    same(s"$root/hidden")
    // k=v layout, recursive (graft's default) and with partition discovery
    Seq((1, "a", 2020), (2, "b", 2021)).toDF("id", "s", "year")
      .write.partitionBy("year").parquet(s"$root/kv")
    same(s"$root/kv")
    same(s"$root/kv", Map("recursiveFileLookup" -> "false"))
    // a single file
    val one = new java.io.File(s"$root/flat").listFiles().map(_.getPath)
      .filter(_.endsWith(".parquet")).min
    same(one)
  }

  test("a parquet directory load infers where the footer pick could differ") {
    import spark.implicits._
    val root = java.nio.file.Files.createTempDirectory("sources-infer").toString
    def jobsAtLoad(dir: String, options: Map[String, String] = Map.empty): Int =
      graft.JobCount.started(spark)(
        Sources.load(spark, SourceSpec.File(dir, "parquet", options)))._2
    Seq((1, "a")).toDF("id", "s").write.parquet(s"$root/t")
    Seq((2, "b", 2.5)).toDF("id", "s", "x").write.mode("append").parquet(s"$root/t")
    assert(jobsAtLoad(s"$root/t") == 0)
    // mergeSchema merges every footer: inference runs and widens the schema
    assert(jobsAtLoad(s"$root/t", Map("mergeSchema" -> "true")) > 0)
    assert(Sources.load(spark, SourceSpec.File(s"$root/t", "parquet",
      Map("mergeSchema" -> "true"))).columns.toSeq == Seq("id", "s", "x"))
    // a file filter may drop the smallest path
    assert(jobsAtLoad(s"$root/t", Map("pathGlobFilter" -> "*.parquet")) > 0)
    // a listing wider than one page: the load lists it again, so it infers
    val wide = s"$root/wide"
    Seq((1, "a")).toDF("id", "s").write.parquet(wide)
    val widePath = new org.apache.hadoop.fs.Path(wide)
    val listed = widePath.getFileSystem(spark.sparkContext.hadoopConfiguration)
      .listStatus(widePath).length // the local file system hides .crc files
    (listed until Sources.MaxPinnedEntries).foreach(i =>
      new java.io.File(s"$wide/.pad-$i").createNewFile())
    assert(jobsAtLoad(wide) == 0)
    new java.io.File(s"$wide/.pad-over").createNewFile()
    assert(jobsAtLoad(wide) > 0)
    assert(Sources.load(spark, SourceSpec.File(wide, "parquet", Map.empty))
      .columns.toSeq == Seq("id", "s"))
    // a summary file is what inference reads first
    java.nio.file.Files.copy(
      new java.io.File(s"$root/t").listFiles().filter(_.getName.endsWith(".parquet")).head.toPath,
      new java.io.File(s"$root/t/_common_metadata").toPath)
    assert(jobsAtLoad(s"$root/t") > 0)
    // a footer without Spark's schema key
    val plain = s"$root/plain"
    new java.io.File(plain).mkdirs()
    val schema = org.apache.parquet.schema.MessageTypeParser.parseMessageType(
      "message m { required int32 id; }")
    val conf = spark.sparkContext.hadoopConfiguration
    val w = org.apache.parquet.hadoop.example.ExampleParquetWriter
      .builder(org.apache.parquet.hadoop.util.HadoopOutputFile.fromPath(
        new org.apache.hadoop.fs.Path(s"$plain/part-0.parquet"), conf))
      .withType(schema).withConf(conf).build()
    try w.write(new org.apache.parquet.example.data.simple.SimpleGroupFactory(schema)
      .newGroup().append("id", 7)) finally w.close()
    assert(jobsAtLoad(plain) > 0)
    assert(Sources.load(spark, SourceSpec.File(plain, "parquet", Map.empty))
      .as[Int].collect().toSeq == Seq(7))
  }
}
