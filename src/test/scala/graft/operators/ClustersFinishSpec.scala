package graft.operators

import graft.SparkSpec
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.catalyst.plans.logical.RepartitionByExpression
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.sql.functions._
import org.scalacheck.Gen
import org.scalacheck.rng.Seed

/** [[Dedup.clusters]] finishes a graph whose canonical edge set fits
  * under `spark.sql.autoBroadcastJoinThreshold` on the driver, and runs
  * the distributed star-contraction rounds otherwise (a threshold ≤ 0
  * forces them). Both must return the same rows. [[Dedup.minhashLsh]]
  * spreads an input on fewer partitions than task slots, and must return
  * the same pairs either way. */
class ClustersFinishSpec extends SparkSpec {
  import spark.implicits._

  private val Threshold = "spark.sql.autoBroadcastJoinThreshold"

  private def withThreshold[T](bytes: Long)(body: => T): T = {
    val old = spark.conf.get(Threshold)
    spark.conf.set(Threshold, bytes.toString)
    try body finally spark.conf.set(Threshold, old)
  }

  private def rows(df: DataFrame): Set[(Long, Long, Long, Boolean)] =
    df.collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getBoolean(3))).toSet

  /** The distributed rounds return a plan over the last round's
    * checkpoint; the driver finish, over a local relation. */
  private def onDriver(df: DataFrame): Boolean =
    !df.queryExecution.analyzed.exists(_.isInstanceOf[LogicalRDD])

  /** (driver rows, distributed rows), each checked to have taken its path. */
  private def bothPaths(docs: DataFrame, pairs: DataFrame,
                        driverBound: Long = 10L << 20): (Set[(Long, Long, Long, Boolean)],
                                                         Set[(Long, Long, Long, Boolean)]) = {
    val driver = withThreshold(driverBound) {
      val out = Dedup.clusters(docs, "doc_id", pairs)
      assert(onDriver(out), "expected the driver finish")
      rows(out)
    }
    val distributed = withThreshold(-1L) {
      val out = Dedup.clusters(docs, "doc_id", pairs)
      assert(!onDriver(out), "expected the distributed rounds")
      rows(out)
    }
    (driver, distributed)
  }

  private def frames(edges: Seq[(Long, Long)], extraDocs: Int): (DataFrame, DataFrame) = {
    val ids = edges.flatMap(e => Seq(e._1, e._2)).distinct
    val spare = Iterator.from(1).map(i => 5000000L + i).filterNot(ids.contains).take(extraDocs)
    ((ids ++ spare).toDF("doc_id"), edges.toDF("doc_a", "doc_b"))
  }

  // ------------------------------------------------------ edge-list shapes
  private val scatteredChain: Gen[Seq[(Long, Long)]] = for {
    n <- Gen.choose(2, 60)
    mult <- Gen.oneOf(97L, 7919L, 104729L)
    off <- Gen.choose(0L, 1000L)
  } yield {
    val ids = (0 until n).map(i => (i * mult + off) % 1000003L)
    ids.zip(ids.tail)
  }
  private val star: Gen[Seq[(Long, Long)]] = for {
    center <- Gen.choose(0L, 10000L)
    leaves <- Gen.listOfN(25, Gen.choose(0L, 10000L)).map(_.distinct.filter(_ != center))
    inward <- Gen.oneOf(true, false)
  } yield leaves.map(l => if (inward) (l, center) else (center, l))
  private val noisy: Gen[Seq[(Long, Long)]] = for {
    base <- Gen.listOfN(20, Gen.zip(Gen.choose(0L, 40L), Gen.choose(0L, 40L)))
    dupReversed <- Gen.someOf(base).map(_.toSeq.map(_.swap))
    dups <- Gen.someOf(base).map(_.toSeq)
    loops <- Gen.listOfN(4, Gen.choose(0L, 40L)).map(_.map(i => (i, i)))
  } yield base ++ dupReversed ++ dups ++ loops
  private val shape: Gen[Seq[(Long, Long)]] = Gen.oneOf(
    scatteredChain, star, noisy, Gen.const(Seq.empty[(Long, Long)]))
  private val graph: Gen[Seq[(Long, Long)]] =
    Gen.choose(1, 3).flatMap(k => Gen.listOfN(k, shape)).map(_.flatten)

  test("driver finish and forced distributed rounds return identical rows (property)") {
    val cases = 12
    val seed = Seed.random()
    info(s"clusters property seed: ${seed.toBase64}")
    // the empty edge set runs every time, beside the generated cases
    val graphs = Seq.empty[(Long, Long)] +: Iterator.iterate(seed)(_.next).take(cases)
      .map(s => graph(Gen.Parameters.default, s).get).toSeq
    graphs.zipWithIndex.foreach { case (edges, i) =>
      val (docs, pairs) = frames(edges, extraDocs = 3)
      val (driver, distributed) = bothPaths(docs, pairs)
      assert(driver == distributed,
        s"case $i of seed ${seed.toBase64}: ${edges.size} edges $edges")
      assert(driver.size == docs.count())
    }
  }

  test("edge set just under the bound finishes on the driver, just over it runs rounds") {
    val edges = (0L until 300L).map(i => ((i * 7919L) % 1009L, ((i + 1) * 7919L) % 1009L))
    val (docs, pairs) = frames(edges, extraDocs = 5)
    // the bytes the operator sizes: its canonical edge set, checkpointed
    val cp = pairs.select(greatest(col("doc_a"), col("doc_b")).as("u"),
        least(col("doc_a"), col("doc_b")).as("v"))
      .where(col("u") =!= col("v")).localCheckpoint(true)
    val bytes = graft.util.Caching.checkpointBytes(cp)
    graft.util.Caching.freeCheckpoint(cp)
    assert(bytes > 0)
    val under = withThreshold(bytes)(Dedup.clusters(docs, "doc_id", pairs))
    val over = withThreshold(bytes - 1)(Dedup.clusters(docs, "doc_id", pairs))
    assert(onDriver(under) && !onDriver(over))
    assert(rows(under) == rows(over))
    assert(rows(under).count(_._4) == 6) // one chain component + 5 singletons
  }

  test("clustersIncremental is unchanged by the finish path") {
    val docsDf = (1L to 7L).map(i => (i, s"doc $i")).toDF("doc_id", "text")
    val oldPairs = Seq((1L, 2L), (2L, 3L)).toDF("doc_a", "doc_b")
    val newPairs = Seq((3L, 5L), (6L, 7L)).toDF("doc_a", "doc_b")
    val oldDocs = docsDf.filter(col("doc_id") <= 4)
    def incremental(bound: Long) = withThreshold(bound) {
      rows(Dedup.clustersIncremental(docsDf, "doc_id",
        Dedup.clusters(oldDocs, "doc_id", oldPairs), newPairs))
    }
    val viaDriver = incremental(10L << 20)
    assert(viaDriver == incremental(-1L))
    assert(viaDriver == Set((1L, 1L, 4L, true), (2L, 1L, 4L, false), (3L, 1L, 4L, false),
      (4L, 4L, 1L, true), (5L, 1L, 4L, false), (6L, 6L, 2L, true), (7L, 6L, 2L, false)))
  }

  test("driver finish keeps the id type and output schema of the distributed rounds") {
    val docs = Seq(3, 1, 2, 9).toDF("doc_id")
    val pairs = Seq((3, 1), (2, 3)).toDF("doc_a", "doc_b")
    val driver = withThreshold(10L << 20)(Dedup.clusters(docs, "doc_id", pairs))
    val distributed = withThreshold(-1L)(Dedup.clusters(docs, "doc_id", pairs))
    assert(onDriver(driver))
    assert(driver.schema == distributed.schema)
    assert(driver.collect().toSet == distributed.collect().toSet)
    // string ids order by UTF-8 bytes, as Spark's least/min do: U+FFFD
    // sorts before U+1F600 in UTF-8, after it in UTF-16
    val (replacement, emoji) = ("\uFFFD", "\uD83D\uDE00")
    val sPairs = Seq((emoji, replacement)).toDF("doc_a", "doc_b")
    val sDocs = Seq(replacement, emoji, "b").toDF("doc_id")
    val sDriver = withThreshold(10L << 20)(Dedup.clusters(sDocs, "doc_id", sPairs))
    val sDistributed = withThreshold(-1L)(Dedup.clusters(sDocs, "doc_id", sPairs))
    assert(onDriver(sDriver))
    assert(sDriver.collect().toSet == sDistributed.collect().toSet)
    assert(sDriver.where(col("is_keeper")).collect().map(_.getString(0)).toSet ==
      Set(replacement, "b"))
  }

  // ------------------------------------------------------------ minhashLsh
  private val words = (0 until 400).map(i => s"w${(i * 7919) % 1000}")
  private def corpusRows: Seq[Row] = (0 until 120).map { i =>
    val rng = new scala.util.Random(i / 3) // 40 families of 3 near-copies
    val text = Array.fill(40)(words(rng.nextInt(words.size)))
    if (i % 3 != 0) text(i % 40) = s"edit$i" // Jaccard ≥ 35/41 to the family's base
    Row((i * 37L) % 1000L, text.mkString(" "))
  }
  private val corpusSchema = org.apache.spark.sql.types.StructType.fromDDL("doc_id BIGINT, text STRING")

  private def spreads(df: DataFrame): Boolean =
    df.queryExecution.analyzed.exists {
      case r: RepartitionByExpression =>
        r.numPartitions == spark.sparkContext.defaultParallelism
      case _ => false
    }

  test("minhashLsh: a one-partition input returns the pairs of the same docs over many partitions") {
    def lsh(parts: Int) = Dedup.minhashLsh(spark.createDataFrame(
      spark.sparkContext.parallelize(corpusRows, parts), corpusSchema), "doc_id", "text")
    val one = lsh(1)
    val many = lsh(8)
    assert(spreads(one) && !spreads(many))
    // more than half the slots: used as is
    assert(!spreads(lsh(spark.sparkContext.defaultParallelism / 2 + 1)))
    val got = one.collect().toSet
    assert(got.nonEmpty && got == many.collect().toSet)
    // a one-file parquet batch is one partition too
    val dir = java.nio.file.Files.createTempDirectory("lsh-spread").toString + "/batch"
    spark.createDataFrame(spark.sparkContext.parallelize(corpusRows, 1), corpusSchema)
      .write.parquet(dir)
    val fromFile = Dedup.minhashLsh(spark.read.parquet(dir), "doc_id", "text")
    assert(spreads(fromFile) && fromFile.collect().toSet == got)
  }

  test("job-count pin: minhashLsh plus clusters on a one-file batch") {
    val dir = java.nio.file.Files.createTempDirectory("dedup-jobs").toString + "/batch"
    spark.createDataFrame(spark.sparkContext.parallelize(corpusRows, 1), corpusSchema)
      .write.parquet(dir)
    val docs = graft.sources.Sources.load(spark,
      graft.config.SourceSpec.File(dir, "parquet", Map.empty))
    val (labels, built) = graft.JobCount.started(spark)(
      Dedup.clusters(docs, "doc_id", Dedup.minhashLsh(docs, "doc_id", "text")))
    val (keepers, consumed) = graft.JobCount.started(spark)(
      labels.where(col("is_keeper")).count())
    assert(keepers == 40L) // one keeper per family
    // the pair plan's stages, the edge checkpoint and one collect; then
    // the consuming count over docs joined to a local relation (the
    // id-hashed spread lets the Jaccard join reuse the sets' partitioning)
    assert((built, consumed) == ((9, 3)), (built, consumed))
  }
}
