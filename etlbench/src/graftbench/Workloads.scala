package graftbench

import java.util.SplittableRandom

import scala.collection.mutable

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.functions.{col, lit}

import graft.config.{ConfigParser, OutputTable, SourceSpec}
import graft.operators.Dedup
import graft.sinks.{Sinks, VersionedTable}
import graft.sources.Sources

object Workloads {
  def create(name: String, seed: Long, dir: String, spark: SparkSession, r: JobRunner): Workload =
    name match {
      case "cdc_lakehouse" => new CdcLakehouse(seed, dir, spark, r)
      case "corpus_dedup" => new CorpusDedup(seed, dir, spark, r)
      case other => throw new IllegalArgumentException(s"unknown workload '$other'")
    }
}

// ------------------------------------------------------------ cdc_lakehouse

/** Writes beside reads on the versioned table format. Each cycle lands
  * one change file (Zipf-skewed updates, inserts, deletes), appends it to
  * bronze with an `available_now` stream, upserts it into silver through
  * a bookmarked batch job, applies its deletes as a DELETE FROM (deletion
  * vectors), then reads silver through a `prune:` predicate and one
  * `as_of_version` time-travel read. Every `period`-th cycle compacts
  * deletes and vacuums old versions. Checked against a last-writer-wins
  * model of every landed change. */
final class CdcLakehouse(seed: Long, dir: String, spark: SparkSession, r: JobRunner) extends Workload {
  val SilverRows = 40000
  val ChangeRows = 400
  val Updates = 300
  val Deletes = 20
  val HotRange = 1500
  val warmup = 3
  override val period = 4
  val nominalCycleS = 2.5

  private val silver = s"$dir/silver"
  private val bronze = s"$dir/bronze"
  private val landing = s"$dir/landing"
  private val model = new java.util.TreeMap[java.lang.Long, (Long, String)]()
  private var nextKey = 0L
  private var landedRows = 0L
  private var landedSumV = 0L
  /** silver version -> (rows, sum v, sum k) of the model at that version */
  private val fingerprints = mutable.Map.empty[Long, (Long, Long, Long)]
  private var prevVersion = 0L
  private var lastVersion = 0L
  private var deleteKeys: Seq[Long] = Nil
  private var hot = (0L, 0L)
  private var reads = (Seq.empty[Long], Seq.empty[Long])
  private var physicalRows = 0L
  private var silverBytes = 0L
  private var changeBytes = 0L

  private def fp(m: java.util.SortedMap[java.lang.Long, (Long, String)]): (Long, Long, Long) = {
    var n = 0L; var sv = 0L; var sk = 0L
    val it = m.entrySet.iterator
    while (it.hasNext) { val e = it.next(); n += 1; sv += e.getValue._1; sk += e.getKey }
    (n, sv, sk)
  }
  private def value(rng: SplittableRandom): (Long, String) =
    (rng.nextLong(1000000000L), "n" + rng.nextInt(100000))

  private def yamlInput(name: String, extra: String = "") =
    s"""  - name: $name
       |    source: file
       |    location: $silver
       |    versioned: "true"$extra""".stripMargin
  private val bronzeYaml =
    s"""job:
       |  name: cdc_bronze
       |  type: spark-sql
       |  streaming: available_now
       |  checkpoint_location: $dir/_checkpoint_bronze
       |input_tables:
       |  - name: changes
       |    source: file
       |    location: $landing
       |    format: parquet
       |    schema: "k BIGINT, v BIGINT, name STRING, op STRING"
       |output_table:
       |  name: bronze
       |  target: file
       |  location: $bronze
       |  refresh: incremental
       |  versioned: "true"
       |sql: SELECT k, v, name, op FROM changes
       |""".stripMargin
  private val mergeYaml =
    s"""job:
       |  name: cdc_merge
       |  type: spark-sql
       |  bookmark_path: $dir/_bookmarks/merge.json
       |input_tables:
       |  - name: changes
       |    source: file
       |    location: $landing
       |    format: parquet
       |    incremental_source: "true"
       |output_table:
       |  name: silver
       |  target: file
       |  location: $silver
       |  refresh: upsert
       |  merge_keys: k
       |  versioned: "true"
       |  stats_columns: k
       |sql: SELECT k, v, name FROM changes WHERE op <> 'D'
       |""".stripMargin
  private def deleteYaml(keys: Seq[Long]) =
    s"""job:
       |  name: cdc_delete
       |  type: spark-sql
       |input_tables:
       |${yamlInput("silver")}
       |sql: DELETE FROM silver WHERE k IN (${keys.mkString(", ")})
       |""".stripMargin
  private def readYaml(lo: Long, hi: Long, version: Long) = {
    def agg(t: String) = s"SELECT count(*) AS n, coalesce(sum(v), 0) AS sv, coalesce(sum(k), 0) AS sk FROM $t"
    val hotIn = yamlInput("silver_hot", "\n    prune: \"k >= " + lo + " AND k <= " + hi + "\"")
    val pastIn = yamlInput("silver_past", s"\n    as_of_version: $version")
    s"""job:
       |  name: cdc_read
       |  type: spark-sql
       |input_tables:
       |$hotIn
       |$pastIn
       |sql: SELECT h.*, p.* FROM (${agg("silver_hot")}) h CROSS JOIN (${agg("silver_past")}) p
       |""".stripMargin
  }

  private def maintYaml(name: String, body: String) =
    s"""job:
       |  name: $name
       |  type: maintenance
       |maintenance:
       |$body
       |""".stripMargin

  private def latest(): Long = r.t.span("versioned.versions")(VersionedTable.versions(spark, silver)).last

  def setup(): Unit = {
    val rng = new SplittableRandom(seed)
    val rows = (0 until SilverRows).map { k =>
      val (v, n) = value(rng)
      model.put(k.toLong, (v, n))
      Row(k.toLong, v, n)
    }
    nextKey = SilverRows
    spark.createDataFrame(spark.sparkContext.parallelize(rows, 4),
        org.apache.spark.sql.types.StructType.fromDDL("k BIGINT, v BIGINT, name STRING"))
      .write.parquet(s"$dir/seed_silver")
    r.batch(r.parse(
      s"""job:
         |  name: cdc_seed
         |  type: spark-sql
         |input_tables:
         |  - name: seed
         |    source: file
         |    location: $dir/seed_silver
         |    format: parquet
         |output_table:
         |  name: silver
         |  target: file
         |  location: $silver
         |  refresh: full
         |  versioned: "true"
         |  stats_columns: k
         |  range_partition_keys: k
         |  repartition: 8
         |sql: SELECT k, v, name FROM seed
         |""".stripMargin))
    lastVersion = VersionedTable.versions(spark, silver).last
    fingerprints(lastVersion) = fp(model)
    silverBytes = Hygiene.du(silver)
  }

  override def land(i: Int): Unit = {
    val rng = new SplittableRandom(seed * 1000003L + i)
    val live = model.size
    val updates = mutable.LinkedHashSet.empty[Long]
    while (updates.size < Updates) {
      // log-uniform rank from the newest key: Zipf-skewed toward recent rows
      val rank = math.exp(rng.nextDouble() * math.log(live.toDouble)).toLong - 1
      val k = nextKey - 1 - rank
      if (k >= 0 && model.containsKey(k)) updates += k
    }
    val deletes = mutable.LinkedHashSet.empty[Long]
    while (deletes.size < Deletes) {
      val k = rng.nextLong(nextKey)
      if (model.containsKey(k) && !updates(k)) deletes += k
    }
    val inserts = (0 until ChangeRows - Updates - Deletes).map(j => nextKey + j)
    nextKey += inserts.size
    val rows = (updates.toSeq ++ inserts).map { k =>
      val (v, n) = value(rng)
      model.put(k, (v, n))
      landedSumV += v
      Row(k, v, n, if (k >= nextKey - inserts.size) "I" else "U")
    } ++ deletes.toSeq.map { k =>
      model.remove(k)
      Row(k, 0L, "", "D")
    }
    landedRows += rows.size
    deleteKeys = deletes.toSeq.sorted
    val tmp = s"$dir/landing_tmp/c$i"
    spark.createDataFrame(spark.sparkContext.parallelize(rows, 1),
        org.apache.spark.sql.types.StructType.fromDDL("k BIGINT, v BIGINT, name STRING, op STRING"))
      .write.parquet(tmp)
    val part = new java.io.File(tmp).listFiles.find(f => f.getName.startsWith("part-") && f.getName.endsWith(".parquet")).get
    val dst = new java.io.File(f"$landing/change-$i%05d.parquet")
    dst.getParentFile.mkdirs()
    java.nio.file.Files.move(part.toPath, dst.toPath)
    changeBytes = dst.length
    r.t.count("landed_bytes", dst.length.toDouble, i)
    hot = (nextKey - HotRange, nextKey - 1)
  }

  def cycle(i: Int): Long = {
    prevVersion = lastVersion
    r.whole(r.parse(bronzeYaml), "streaming.runToSink")
    r.batch(r.parse(mergeYaml), sinkSpan = "versioned.merge")
    r.batch(r.parse(deleteYaml(deleteKeys)), dmlSpan = "versioned.delete")
    lastVersion = latest()
    val got = r.t.span("versioned.read") {
      r.batch(r.parse(readYaml(hot._1, hot._2, prevVersion))).collect().head
    }
    reads = ((0 until 3).map(got.getLong), (3 until 6).map(got.getLong))
    ChangeRows
  }

  override def verify(i: Int): Boolean = {
    fingerprints(lastVersion) = fp(model)
    val hotModel = fp(model.subMap(hot._1, true, hot._2, true))
    val past = fingerprints.get(prevVersion)
    reads._1 == Seq(hotModel._1, hotModel._2, hotModel._3) &&
      past.exists(p => reads._2 == Seq(p._1, p._2, p._3))
  }

  override def maintenance(i: Int): Boolean =
    if ((i + 1) % period != 0) false
    else {
      r.whole(r.parse(maintYaml("cdc_compact",
        s"""  action: compact_deletes
           |  location: $silver
           |  min_deleted_fraction: 0.002""".stripMargin)), "versioned.compactDeletes")
      Seq(silver -> 4, bronze -> 2).foreach { case (loc, keep) =>
        r.whole(r.parse(maintYaml("cdc_vacuum",
          s"""  action: version_vacuum
             |  location: $loc
             |  keep_last: $keep""".stripMargin)), "versioned.vacuumVersions")
      }
      lastVersion = latest()
      fingerprints(lastVersion) = fp(model)
      true
    }

  def finalCheck(cycles: Seq[Int]): Seq[Int] = {
    val v = VersionedTable.versions(spark, silver).last
    val got = VersionedTable.read(spark, silver).select("k", "v", "name").collect()
      .map(x => x.getLong(0) -> (x.getLong(1), x.getString(2))).toMap
    val silverOk = got.size == model.size && {
      val it = model.entrySet.iterator
      var ok = true
      while (ok && it.hasNext) { val e = it.next(); ok = got.get(e.getKey).contains(e.getValue) }
      ok
    }
    val b = VersionedTable.read(spark, bronze).selectExpr("count(*)", "coalesce(sum(v), 0)").collect().head
    val bronzeOk = b.getLong(0) == landedRows && b.getLong(1) == landedSumV
    physicalRows = VersionedTable.fileRows(spark, silver, v).values.sum
    if (silverOk && bronzeOk) Nil else cycles
  }
  def outputRoots: Seq[String] = Seq(silver, bronze, s"$dir/_checkpoint_bronze", s"$dir/_bookmarks")
  def liveRows(): Long = model.size.toLong + landedRows
  def liveFiles(): Long = {
    val v = VersionedTable.versions(spark, silver).last
    VersionedTable.fileRows(spark, silver, v).size.toLong +
      VersionedTable.read(spark, bronze).inputFiles.length
  }
  override def layerExtras(): Map[String, Double] =
    Map("versioned.dv_frac" -> (if (physicalRows > 0) 1.0 - model.size.toDouble / physicalRows else 0.0))
  def inputs: Map[String, Any] = Map(
    "silver_rows_initial" -> SilverRows, "silver_bytes_initial" -> silverBytes,
    "change_rows" -> ChangeRows, "change_bytes" -> changeBytes,
    "change_mix" -> Map("update" -> Updates, "insert" -> (ChangeRows - Updates - Deletes), "delete" -> Deletes),
    "update_keys" -> "log-uniform rank from the newest key (Zipf, s=1)",
    "maintenance_every" -> period, "silver_over_change" -> SilverRows / ChangeRows)
}

// ------------------------------------------------------------- corpus_dedup

/** The LLM-data operator tier: each cycle near-deduplicates a fresh
  * seeded batch with MinHash-LSH candidates and connected components,
  * keeps one document per cluster and appends the survivors to a
  * partitioned parquet table. Batches carry injected near-duplicate
  * families of known membership; the survivors must be exactly every
  * singleton plus the smallest id of each family. */
final class CorpusDedup(seed: Long, dir: String, spark: SparkSession, r: JobRunner) extends Workload {
  val Docs = 1500
  val Families = 90
  val FamilySize = 3
  val Vocab = 4000
  val warmup = 3
  val nominalCycleS = 1.7

  private val out = s"$dir/survivors"
  private lazy val outTable: OutputTable = ConfigParser.parse(
    s"""job:
       |  name: corpus_dedup
       |  type: spark-sql
       |output_table:
       |  name: survivors
       |  target: file
       |  location: $out
       |  refresh: incremental
       |  partition_keys: batch
       |sql: SELECT 1
       |""".stripMargin).outputTable.get
  // one fixed vocabulary, like a language: the seed picks the documents,
  // not which shingles are common, so LSH bucket sizes do not vary by seed
  private val words: IndexedSeq[String] = {
    val rng = new SplittableRandom(0x5eedL)
    val syl = IndexedSeq("ka", "to", "ri", "men", "sa", "lo", "ve", "dan", "pu", "ne", "shi", "or",
      "al", "tre", "mo", "qui", "ba", "el", "zo", "ing")
    (0 until Vocab).map(_ => (0 until 2 + rng.nextInt(3)).map(_ => syl(rng.nextInt(syl.size))).mkString)
  }
  private val expected = mutable.Map.empty[Int, Set[Long]]
  private var familyDocs = 0L
  private var batchBytes = 0L

  private def text(rng: SplittableRandom): Array[String] =
    Array.fill(40 + rng.nextInt(41)) {
      words(math.exp(rng.nextDouble() * math.log(Vocab.toDouble)).toInt - 1)
    }
  private def batchPath(i: Int) = f"$dir/landing/batch-$i%05d"

  def setup(): Unit = outTable: Unit

  override def land(i: Int): Unit = {
    val rng = new SplittableRandom(seed * 7919L + i)
    val texts = mutable.ArrayBuffer.empty[(String, Int)] // (text, family or -1)
    (0 until Families).foreach { f =>
      val base = text(rng)
      texts += ((base.mkString(" "), f))
      (1 until FamilySize).foreach { _ =>
        val v = base.clone()
        v(rng.nextInt(v.length)) = words(rng.nextInt(Vocab))
        texts += ((v.mkString(" "), f))
      }
    }
    while (texts.size < Docs) texts += ((text(rng).mkString(" "), -1))
    // ids are a seeded permutation, so family members are not adjacent
    val ids = {
      val a = Array.tabulate(texts.size)(j => (i + 1) * 10000000L + j)
      var j = a.length - 1
      while (j > 0) { val k = rng.nextInt(j + 1); val t = a(j); a(j) = a(k); a(k) = t; j -= 1 }
      a
    }
    val docs = texts.zip(ids)
    familyDocs = docs.count(_._1._2 >= 0).toLong
    expected(i) = (docs.filter(_._1._2 < 0).map(_._2) ++
      docs.filter(_._1._2 >= 0).groupBy(_._1._2).values.map(_.map(_._2).min)).toSet
    spark.createDataFrame(spark.sparkContext.parallelize(docs.map { case ((t, _), id) => Row(id, t) }.toSeq, 1),
        org.apache.spark.sql.types.StructType.fromDDL("doc_id BIGINT, text STRING"))
      .write.parquet(batchPath(i))
    batchBytes = Hygiene.du(batchPath(i))
  }

  def cycle(i: Int): Long = {
    val docs = r.t.span("sources.load")(Sources.load(spark, SourceSpec.File(batchPath(i), "parquet", Map.empty)))
    val pairs = r.t.span("operators.minhashLsh")(Dedup.minhashLsh(docs, "doc_id", "text"))
    val labels = r.t.span("operators.clusters")(Dedup.clusters(docs, "doc_id", pairs))
    val survivors = docs.join(labels.where(col("is_keeper")).select("doc_id"), "doc_id")
      .withColumn("batch", lit(i))
    r.t.span("sinks.write")(Sinks.write(spark, survivors, outTable))
    Docs
  }

  override def verify(i: Int): Boolean = {
    if (r.t.enabled) {
      // candidate and verified pair counts for the operator layer, run
      // outside the cycle so they add no work to its spans or counters
      val sets = Dedup.shingleSets(spark.read.parquet(batchPath(i)), "doc_id", "text", 3).cache()
      val candidates = Dedup.lshCandidates(Dedup.signaturesFromSets(sets, 128), 32).cache()
      r.t.count("operators.candidate_pairs", candidates.count().toDouble, i)
      r.t.count("operators.verified_pairs",
        Dedup.jaccardVerify(candidates, sets).filter(col("jaccard") >= 0.8).count().toDouble, i)
      candidates.unpersist(); sets.unpersist()
    }
    val got = spark.read.parquet(s"$out/batch=$i").select("doc_id").collect().map(_.getLong(0))
    got.length == expected(i).size && got.toSet == expected(i)
  }

  def finalCheck(cycles: Seq[Int]): Seq[Int] = {
    val counts = spark.read.parquet(out).groupBy("batch").count().collect()
      .map(x => x.getInt(0) -> x.getLong(1)).toMap
    cycles.filter(i => !counts.get(i).contains(expected(i).size.toLong))
  }
  def outputRoots: Seq[String] = Seq(out)
  def liveRows(): Long = spark.read.parquet(out).count()
  def liveFiles(): Long = 0L // no versioned table
  def inputs: Map[String, Any] = Map(
    "docs_per_batch" -> Docs, "batch_bytes" -> batchBytes, "families_per_batch" -> Families,
    "family_docs_per_batch" -> familyDocs, "words_per_doc" -> "40-80", "vocabulary" -> Vocab,
    "minhash" -> Map("shingle" -> 3, "k" -> 128, "bands" -> 32, "threshold" -> 0.8))
}
