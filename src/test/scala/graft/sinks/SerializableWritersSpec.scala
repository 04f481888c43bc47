package graft.sinks

import graft.SparkSpec

/** The serializable writers of [[VersionedTable]] — merge, deleteWhere,
  * updateWhere, compactDeletes, restore and publishBranch — under a lost
  * publish, and the Spark jobs each one starts. */
class SerializableWritersSpec extends SparkSpec {
  import spark.implicits._

  private def tmp(name: String) =
    java.nio.file.Files.createTempDirectory("vt-writers").toString + s"/$name"

  private def rows(df: org.apache.spark.sql.DataFrame): Set[(Int, String)] =
    df.collect().map(r => (r.getAs[Int]("k"), r.getAs[String]("v"))).toSet

  private val retention = MergeActions(Nil, Nil,
    Seq(MergeActions.BySourceUpdate(Some("t.k >= 35"), Seq("v" -> "'old'"))))

  /** Four range-disjoint files over k = 1..40 with zone maps on k, then
    * a delete leaving a deletion vector over two of them (3 of 10 rows
    * of the 21..30 file, 1 of 10 of the 1..10 file). */
  private def tableWithDv(name: String): String = {
    val loc = tmp(name)
    VersionedTable.commit(spark, loc,
      spark.range(1, 41).selectExpr("CAST(id AS INT) AS k", "CAST(id AS STRING) AS v")
        .repartitionByRange(4, $"k"),
      "overwrite", statsColumns = Seq("k"))
    VersionedTable.deleteWhere(spark, loc, "k IN (5, 25, 26, 27)")
    loc
  }

  /** Names under `dir` of `loc` whose name passes `keep`. */
  private def names(loc: String, dir: String)(keep: String => Boolean): Set[String] =
    Option(new java.io.File(s"$loc/$dir").list()).toSet.flatten
      .filter(keep).map(n => s"$dir/$n")

  /** The data files, deletion-vector directories and stats sidecars of `loc`. */
  private def written(loc: String): Set[String] =
    names(loc, "data")(_.endsWith(".parquet")) ++
      names(loc, "_graft_log")(n => n.startsWith("dv-") || n.startsWith("stats-"))

  /** Every data file, DV and sidecar some manifest (main or branch) of `loc` references. */
  private def referenced(loc: String): Set[String] =
    new java.io.File(s"$loc/_graft_log").listFiles().toSeq
      .filter(f => f.getName.matches("v[0-9]+(@.*)?\\.json"))
      .flatMap { f =>
        val m = VersionedTable.Manifest.parse(new String(
          java.nio.file.Files.readAllBytes(f.toPath), "UTF-8"))
        m.names.map(n => s"data/$n") ++ (m.statsFile ++ m.dv.map(_._1)).map(n => s"_graft_log/$n")
      }.toSet

  test("every serializable writer aborts on a lost publish and leaves only age-gated orphans") {
    val loc = tableWithDv("lost")
    VersionedTable.createBranch(spark, loc, "wap")
    VersionedTable.branchCommit(spark, loc, "wap", Seq((50, "b")).toDF("k", "v"), "append")
    val versions = VersionedTable.versions(spark, loc)
    assert(versions == Seq(1L, 2L))
    def snapshots = versions.map(v => rows(VersionedTable.read(spark, loc, asOf = Some(v))))
    val before = snapshots
    val committed = written(loc)
    assert(committed == referenced(loc))
    val losing = new CommitCoordinator {
      def publish(fs: org.apache.hadoop.fs.FileSystem, logDir: org.apache.hadoop.fs.Path,
                  dst: org.apache.hadoop.fs.Path, content: Array[Byte]): Boolean = false
    }
    val ops = Seq[(String, () => Any)](
      "deleteWhere" -> (() => VersionedTable.deleteWhere(spark, loc, "k <= 3")),
      "updateWhere" -> (() => VersionedTable.updateWhere(spark, loc, "k = 10",
        Map("v" -> "'u'"))),
      "compactDeletes" -> (() => VersionedTable.compactDeletes(spark, loc,
        minDeletedFraction = 0.2)),
      "restore" -> (() => VersionedTable.restore(spark, loc, 1L)),
      "publishBranch" -> (() => VersionedTable.publishBranch(spark, loc, "wap")),
      "merge BY SOURCE" -> (() => VersionedTable.merge(spark, loc,
        Seq((12, "X")).toDF("k", "v"), Seq("k"), statsColumns = Seq("k"),
        actions = retention)),
      // 14 is claimed into the DV; 21 brings the 21..30 file to 4 of 10
      // deleted, so that file is rewritten with the arrivals
      "merge row-replace" -> (() => VersionedTable.merge(spark, loc,
        Seq((14, "R"), (21, "R")).toDF("k", "v"), Seq("k"), statsColumns = Seq("k"))))
    val prev = VersionedTable.commitCoordinator
    VersionedTable.setCommitCoordinator(losing)
    try ops.foreach { case (what, op) =>
      val e = intercept[java.util.ConcurrentModificationException](op())
      assert(e.getMessage.contains(s"serializable conflict at '$loc'"), s"$what: ${e.getMessage}")
    } finally VersionedTable.setCommitCoordinator(prev)
    // nothing committed: the same versions, each reading the same rows
    assert(VersionedTable.versions(spark, loc) == versions)
    assert(snapshots == before)
    assert(VersionedTable.branchVersions(spark, loc, "wap") == Seq(2L, 3L))
    // what the writers left is unreferenced: five DVs (delete, update,
    // compaction, both merges), four sidecars and data files (update,
    // compaction, both merges); restore and publish write no file
    val orphans = written(loc) -- committed
    assert((orphans & referenced(loc)).isEmpty)
    assert(orphans.count(_.startsWith("_graft_log/dv-")) == 5, orphans)
    assert(orphans.count(_.startsWith("_graft_log/stats-")) == 4, orphans)
    assert(orphans.count(_.startsWith("data/")) >= 4, orphans)
    // inside the age gate vacuum keeps them ...
    val kept = VersionedTable.vacuumVersions(spark, loc, 1L)
    assert((kept.toSet & orphans).isEmpty, kept)
    assert(written(loc) == committed ++ orphans)
    // ... past it, it reclaims exactly them
    val reclaimed = VersionedTable.vacuumVersions(spark, loc, 1L, minOrphanAgeMillis = 0L)
    assert(reclaimed.toSet == orphans)
    assert(written(loc) == committed)
    assert(snapshots == before)
  }

  test("job-count pins: delete, update, delete compaction, row-replace merge over a DV, BY SOURCE merge") {
    def jobs(body: => Any): Int = graft.JobCount.started(spark)(body)._2
    val counts = Seq(
      "deleteWhere" -> {
        val loc = tableWithDv("jobs-delete")
        jobs(VersionedTable.deleteWhere(spark, loc, "k BETWEEN 31 AND 33"))
      },
      "updateWhere" -> {
        val loc = tableWithDv("jobs-update")
        jobs(VersionedTable.updateWhere(spark, loc, "k = 12", Map("v" -> "'u'")))
      },
      "compactDeletes" -> {
        val loc = tableWithDv("jobs-compact")
        jobs(VersionedTable.compactDeletes(spark, loc, minDeletedFraction = 0.2))
      },
      "merge row-replace over a DV" -> {
        val loc = tableWithDv("jobs-merge")
        jobs(VersionedTable.merge(spark, loc, Seq((24, "m"), (60, "n")).toDF("k", "v"),
          Seq("k"), statsColumns = Seq("k")))
      },
      "merge BY SOURCE" -> {
        val loc = tableWithDv("jobs-bysource")
        jobs(VersionedTable.merge(spark, loc, Seq((12, "X")).toDF("k", "v"), Seq("k"),
          statsColumns = Seq("k"), actions = retention))
      })
    // before deletion vectors were read, counted, applied and written on
    // the driver, and before the row-replace merge claimed into the DV,
    // these were 5, 6, 7, 8 and 12
    assert(counts == Seq("deleteWhere" -> 1, "updateWhere" -> 3, "compactDeletes" -> 1,
      "merge row-replace over a DV" -> 5, "merge BY SOURCE" -> 9), counts)
  }
}
