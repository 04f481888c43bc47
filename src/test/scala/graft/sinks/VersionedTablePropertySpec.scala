package graft.sinks

import graft.SparkSpec
import org.scalacheck.{Gen, Prop}
import org.scalacheck.Test.{check, Parameters}
import org.scalacheck.rng.Seed

/** Model-based property of the versioned table's row-level writers:
  * random sequences of upsert, delete, update and delete compaction run
  * against a table and against an in-memory last-writer-wins model, and
  * every version the sequence committed must read back as the model
  * stood then. Three routes: deletion vectors held on the driver,
  * deletion vectors left to Spark (`spark.sql.autoBroadcastJoinThreshold`
  * -1), and a non-parquet table, whose merges rewrite files. Bounded so
  * that it runs in about a minute; the seed is logged, and
  * `GRAFT_PROPERTY_SEED` replays one. */
class VersionedTablePropertySpec extends SparkSpec {
  import spark.implicits._

  private sealed trait Op
  private final case class Upsert(keys: Seq[Int]) extends Op
  private final case class Delete(lo: Int, hi: Int) extends Op
  private final case class Update(lo: Int, hi: Int) extends Op
  private final case class Compact(minDeletedFraction: Double) extends Op

  private val Keys = 40
  private val genKey = Gen.chooseNum(0, Keys + 5)
  private val genRange = for (lo <- genKey; w <- Gen.chooseNum(0, 6)) yield (lo, lo + w)
  private val genOp: Gen[Op] = Gen.frequency(
    4 -> Gen.chooseNum(1, 8).flatMap(Gen.listOfN(_, genKey)).map(ks => Upsert(ks.distinct)),
    2 -> genRange.map { case (lo, hi) => Delete(lo, hi) },
    2 -> genRange.map { case (lo, hi) => Update(lo, hi) },
    1 -> Gen.oneOf(0.1, 0.3, 0.6).map(Compact(_)))
  private val genOps = Gen.chooseNum(3, 6).flatMap(Gen.listOfN(_, genOp))

  private val seed: Long =
    sys.env.get("GRAFT_PROPERTY_SEED").map(_.toLong).getOrElse(0x5eed1e55L)

  private var cases = 0

  /** Run `ops` on a fresh table of `format` (keys 0..39 in four files,
    * zone maps on k) and check every committed version against the
    * model. Returns the table's location. */
  private def runCase(format: String, ops: Seq[Op]): String = {
    cases += 1
    val loc = java.nio.file.Files.createTempDirectory("vt-prop").toString + s"/c$cases"
    val k = Seq("k")
    var model: Map[Int, String] = (0 until Keys).map(i => i -> "init").toMap
    val v1 = VersionedTable.commit(spark, loc, model.toSeq.toDF("k", "v")
      .repartitionByRange(4, $"k"), "overwrite", format, statsColumns = k)
    val snapshots = scala.collection.mutable.Map(v1 -> model)
    def keysIn(lo: Int, hi: Int) = (lo to hi).map(i => (i, "s"))
    ops.zipWithIndex.foreach { case (op, i) =>
      val value = s"s$i"
      val v = op match {
        case Upsert(keys) =>
          model ++= keys.map(_ -> value)
          VersionedTable.merge(spark, loc, keys.map(_ -> value).toDF("k", "v"), k, format,
            statsColumns = k)
        case Delete(lo, hi) =>
          model = model.filterNot { case (key, _) => key >= lo && key <= hi }
          if (format == "parquet") VersionedTable.deleteWhere(spark, loc, s"k BETWEEN $lo AND $hi")
          else VersionedTable.merge(spark, loc, keysIn(lo, hi).toDF("k", "v"), k, format,
            statsColumns = k, actions = MergeActions(Seq(MergeActions.Delete(None)), Nil, Nil))
        case Update(lo, hi) =>
          model = model.map { case (key, old) => key -> (if (key >= lo && key <= hi) value else old) }
          if (format == "parquet")
            VersionedTable.updateWhere(spark, loc, s"k BETWEEN $lo AND $hi", Map("v" -> s"'$value'"))
          else VersionedTable.merge(spark, loc, keysIn(lo, hi).toDF("k", "v"), k, format,
            statsColumns = k, actions = MergeActions(
              Seq(MergeActions.UpdateSet(None, Seq("v" -> s"'$value'"))), Nil, Nil))
        case Compact(f) =>
          VersionedTable.compactDeletes(spark, loc, f, format)._1
      }
      snapshots(v) = model
    }
    assert(VersionedTable.versions(spark, loc) == snapshots.keys.toSeq.sorted)
    snapshots.toSeq.sortBy(_._1).foreach { case (v, want) =>
      val got = VersionedTable.read(spark, loc, asOf = Some(v), format = format).collect()
        .map(r => (r.getAs[Int]("k"), r.getAs[String]("v"))).toSeq
      assert(got.sortBy(_._1) == want.toSeq.sortBy(_._1), s"$format v$v after $ops")
    }
    loc
  }

  /** The property over `format`, with `threshold` as the session's
    * broadcast threshold; `check` sees each case's location. */
  private def property(format: String, threshold: Option[String])(
      checkLoc: String => Unit): Unit = {
    val key = "spark.sql.autoBroadcastJoinThreshold"
    val prev = spark.conf.get(key)
    threshold.foreach(spark.conf.set(key, _))
    info(s"seed $seed (replay with GRAFT_PROPERTY_SEED=$seed)")
    try {
      val prop = Prop.forAllNoShrink(genOps) { ops => checkLoc(runCase(format, ops)); true }
      val res = check(Parameters.default.withMinSuccessfulTests(4).withWorkers(1)
        .withInitialSeed(Seed(seed)), prop)
      assert(res.passed, s"seed $seed: ${res.status}")
    } finally spark.conf.set(key, prev)
  }

  /** The deletion-vector sidecars of the table at `loc`, each as its file names. */
  private def dvDirs(loc: String): Seq[Set[String]] =
    Option(new java.io.File(s"$loc/_graft_log").listFiles()).toSeq.flatten
      .filter(d => d.isDirectory && d.getName.startsWith("dv-"))
      .map(_.list().toSet)

  test("property: DVs held on the driver read back as the model at every version") {
    property("parquet", None) { loc =>
      // written on the driver: one part file, no committer marker
      assert(dvDirs(loc).forall(fs => fs.size == 1 && !fs.contains("_SUCCESS")), dvDirs(loc))
    }
  }

  test("property: DVs left to Spark read back as the model at every version") {
    property("parquet", Some("-1")) { loc =>
      assert(dvDirs(loc).forall(_.contains("_SUCCESS")), dvDirs(loc))
    }
  }

  test("property: a non-parquet table's rewriting merges read back as the model at every version") {
    property("orc", None) { loc => assert(dvDirs(loc).isEmpty) }
  }
}
