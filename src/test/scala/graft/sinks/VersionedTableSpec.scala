package graft.sinks

import graft.SparkSpec

class VersionedTableSpec extends SparkSpec {
  import spark.implicits._

  private def tmp(name: String) =
    java.nio.file.Files.createTempDirectory("vt-spec").toString + s"/$name"

  private def rows(df: org.apache.spark.sql.DataFrame): Set[(Int, String)] =
    df.collect().map(r => (r.getAs[Int]("k"), r.getAs[String]("v"))).toSet

  test("commit/read roundtrip: overwrite snapshots, append accumulates") {
    val loc = tmp("t1")
    val v1 = VersionedTable.commit(spark, loc, Seq((1, "a")).toDF("k", "v"), "overwrite")
    val v2 = VersionedTable.commit(spark, loc, Seq((2, "b")).toDF("k", "v"), "append")
    val v3 = VersionedTable.commit(spark, loc, Seq((9, "z")).toDF("k", "v"), "overwrite")
    assert((v1, v2, v3) == ((1L, 2L, 3L)))
    assert(rows(VersionedTable.read(spark, loc)) == Set((9, "z")))
    assert(rows(VersionedTable.read(spark, loc, asOf = Some(2L))) == Set((1, "a"), (2, "b")))
    assert(rows(VersionedTable.read(spark, loc, asOf = Some(1L))) == Set((1, "a")))
    assert(VersionedTable.versions(spark, loc) == Seq(1L, 2L, 3L))
  }

  test("snapshot isolation: a frame planned at version N never sees N+1") {
    val loc = tmp("t2")
    VersionedTable.commit(spark, loc, Seq((1, "a")).toDF("k", "v"), "overwrite")
    val pinned = VersionedTable.read(spark, loc) // resolved at v1
    VersionedTable.commit(spark, loc, Seq((2, "b")).toDF("k", "v"), "append")
    assert(rows(pinned) == Set((1, "a")))          // still v1's file list
    assert(rows(VersionedTable.read(spark, loc)) == Set((1, "a"), (2, "b")))
  }

  test("commit CAS: losing the version race rebases appends, never drops data") {
    val loc = tmp("t3")
    VersionedTable.commit(spark, loc, Seq((1, "a")).toDF("k", "v"), "overwrite")
    // simulate a concurrent writer landing v2 between our read and CAS:
    // plant a valid v2 manifest (copy of v1) so the next commit's first
    // attempt loses the create-if-absent race and must rebase to v3
    val log = new java.io.File(s"$loc/_graft_log")
    java.nio.file.Files.copy(
      new java.io.File(log, "v00001.json").toPath,
      new java.io.File(log, "v00002.json").toPath)
    val v = VersionedTable.commit(spark, loc, Seq((2, "b")).toDF("k", "v"), "append")
    assert(v == 3L) // rebased past the planted v2
    assert(rows(VersionedTable.read(spark, loc)) == Set((1, "a"), (2, "b")))
  }

  test("dead writers are invisible: unreferenced data files never read, vacuumed later") {
    val loc = tmp("t4")
    VersionedTable.commit(spark, loc, Seq((1, "a")).toDF("k", "v"), "overwrite")
    // a writer that died after moving files but before its manifest:
    // plant a stray parquet into data/
    Seq((99, "dead")).toDF("k", "v").write.parquet(s"$loc/.orphan")
    val part = new java.io.File(s"$loc/.orphan").listFiles()
      .filter(_.getName.startsWith("part-")).head
    java.nio.file.Files.copy(part.toPath,
      new java.io.File(s"$loc/data/deadbeef-${part.getName}").toPath)
    assert(rows(VersionedTable.read(spark, loc)) == Set((1, "a")))
    VersionedTable.commit(spark, loc, Seq((2, "b")).toDF("k", "v"), "append")
    // default vacuum AGE-GATES never-referenced files (they could be a
    // LIVE writer's staged commit) — the fresh orphan survives ...
    val gated = VersionedTable.vacuumVersions(spark, loc, keepFromVersion = 2L)
    assert(!gated.exists(_.contains("deadbeef")))
    // ... and reclaims once the gate is lifted (a crashed writer's file)
    val dropped = VersionedTable.vacuumVersions(spark, loc,
      keepFromVersion = 2L, minOrphanAgeMillis = 0L)
    assert(dropped.exists(_.contains("deadbeef")))       // orphan reclaimed
    assert(gated.exists(_.contains("v00001.json")))      // old manifest gone
    assert(rows(VersionedTable.read(spark, loc)) == Set((1, "a"), (2, "b")))
    val e = intercept[graft.config.ConfigError](
      VersionedTable.vacuumVersions(spark, loc, keepFromVersion = 99L))
    assert(e.getMessage.contains("refusing to empty"))
  }

  test("txn commits are exactly-once: a replayed batch id is skipped, not re-appended") {
    val loc = tmp("t6")
    val v1 = VersionedTable.commit(spark, loc, Seq((1, "a")).toDF("k", "v"),
      "append", txn = Some(("ckpt-A", 0L)))
    // WAL replay of batch 0 (crash between sink commit and checkpoint
    // advance): must return the already-committed version, write nothing
    val vReplay = VersionedTable.commit(spark, loc, Seq((1, "a")).toDF("k", "v"),
      "append", txn = Some(("ckpt-A", 0L)))
    assert(v1 == 1L && vReplay == 1L)
    assert(VersionedTable.versions(spark, loc) == Seq(1L))
    assert(rows(VersionedTable.read(spark, loc)) == Set((1, "a")))
    // the NEXT batch commits; an older batch id offered later also skips
    val v2 = VersionedTable.commit(spark, loc, Seq((2, "b")).toDF("k", "v"),
      "append", txn = Some(("ckpt-A", 1L)))
    val vOld = VersionedTable.commit(spark, loc, Seq((9, "x")).toDF("k", "v"),
      "append", txn = Some(("ckpt-A", 0L)))
    assert(v2 == 2L && vOld == 2L)
    assert(rows(VersionedTable.read(spark, loc)) == Set((1, "a"), (2, "b")))
    // a DIFFERENT app's batch 0 is unrelated and commits
    val v3 = VersionedTable.commit(spark, loc, Seq((3, "c")).toDF("k", "v"),
      "append", txn = Some(("ckpt-B", 0L)))
    assert(v3 == 3L)
    assert(rows(VersionedTable.read(spark, loc)) == Set((1, "a"), (2, "b"), (3, "c")))
  }

  test("maintenance on a versioned root goes THROUGH the protocol, never flattens it") {
    val loc = tmp("t7")
    def kw(df: org.apache.spark.sql.DataFrame): Set[(Int, Int)] =
      df.collect().map(r => (r.getAs[Int]("k"), r.getAs[Int]("w"))).toSet
    // two commits -> latest snapshot spread over several files
    VersionedTable.commit(spark, loc,
      Seq((1, 10), (2, 20)).toDF("k", "w").repartition(4), "overwrite")
    VersionedTable.commit(spark, loc, Seq((3, 30)).toDF("k", "w"), "append")
    val filesBefore = new java.io.File(s"$loc/data").listFiles()
      .count(_.getName.endsWith(".parquet"))
    assert(filesBefore >= 3)
    Sinks.compact(spark, loc, "parquet", nFiles = 1)
    // compaction published as v3: same content, history intact
    assert(VersionedTable.versions(spark, loc) == Seq(1L, 2L, 3L))
    assert(kw(VersionedTable.read(spark, loc)) == Set((1, 10), (2, 20), (3, 30)))
    assert(kw(VersionedTable.read(spark, loc, asOf = Some(1L))) == Set((1, 10), (2, 20)))
    // z-order clustering also commits through the protocol
    Sinks.clusterZOrder(spark, loc, "parquet", Seq("k", "w"), nFiles = 1)
    assert(VersionedTable.versions(spark, loc) == Seq(1L, 2L, 3L, 4L))
    assert(kw(VersionedTable.read(spark, loc)) == Set((1, 10), (2, 20), (3, 30)))
  }

  test("REAL concurrent appenders: every row survives, versions are dense") {
    // not a planted-manifest simulation — two actual threads race the
    // create-if-absent CAS repeatedly; the loser must rebase onto the
    // winner's file list, so nothing is ever lost and the version
    // sequence has no holes
    val loc = tmp("race1")
    VersionedTable.commit(spark, loc, Seq((0, "seed")).toDF("k", "v"), "overwrite")
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration._
    implicit val ec: scala.concurrent.ExecutionContext =
      scala.concurrent.ExecutionContext.global
    val writers = (1 to 2).map { w =>
      Future {
        (1 to 5).foreach { i =>
          VersionedTable.commit(spark, loc,
            Seq((w * 100 + i, s"w$w-$i")).toDF("k", "v").coalesce(1), "append")
        }
      }
    }
    Await.result(Future.sequence(writers), 120.seconds)
    assert(VersionedTable.versions(spark, loc) == (1L to 11L))
    val got = rows(VersionedTable.read(spark, loc))
    val expected = Set((0, "seed")) ++
      (for (w <- 1 to 2; i <- 1 to 5) yield (w * 100 + i, s"w$w-$i")).toSet
    assert(got == expected) // no lost updates across 10 racing appends
  }

  test("read errors are named: empty table, unknown version") {
    val loc = tmp("t5")
    val e1 = intercept[graft.config.ConfigError](VersionedTable.read(spark, loc))
    assert(e1.getMessage.contains("no committed versions"))
    VersionedTable.commit(spark, loc, Seq((1, "a")).toDF("k", "v"), "overwrite")
    val e2 = intercept[graft.config.ConfigError](
      VersionedTable.read(spark, loc, asOf = Some(7L)))
    assert(e2.getMessage.contains("not in committed set"))
  }

  // ------------------------------------------------- zone maps / pruning

  import VersionedTable.Prune

  test("zone maps: pruned read opens only files whose [min,max] can match") {
    val loc = tmp("zm1")
    // 4 range-disjoint files: [1..10], [11..20], [21..30], [31..40]
    val df = spark.range(1, 41).selectExpr("CAST(id AS INT) AS k", "id * 2 AS w")
      .repartitionByRange(4, $"k")
    VersionedTable.commit(spark, loc, df, "overwrite", statsColumns = Seq("k"))
    def scan(p: Prune*) = VersionedTable.readPruned(spark, loc, p)
    val eq = scan(Prune("k", "=", 15))
    assert(eq.totalFiles == 4 && eq.keptFiles == 1)
    assert(eq.df.filter($"k" === 15).count() == 1)
    val range = scan(Prune("k", ">", 10), Prune("k", "<=", 30))
    assert(range.keptFiles == 2)
    assert(range.df.filter($"k" > 10 && $"k" <= 30).count() == 20)
    val below = scan(Prune("k", "<", 1))
    assert(below.keptFiles == 0 && below.df.count() == 0)
    assert(below.df.schema.fieldNames.toSeq == Seq("k", "w"))
    // no stats column named: conservative keep-everything
    val nostats = scan(Prune("w", "=", -5))
    assert(nostats.keptFiles == 4)
  }

  test("zone maps: appends carry base-file stats forward; all-null files skip") {
    val loc = tmp("zm2")
    VersionedTable.commit(spark, loc,
      Seq((1, "a"), (2, "b")).toDF("k", "v").coalesce(1),
      "overwrite", statsColumns = Seq("k", "v"))
    VersionedTable.commit(spark, loc,
      Seq((100, "x")).toDF("k", "v").coalesce(1), "append", statsColumns = Seq("k", "v"))
    // all-null k file: no comparison predicate can match NULL -> skipped
    VersionedTable.commit(spark, loc,
      Seq((null.asInstanceOf[Integer], "n")).toDF("k", "v").coalesce(1),
      "append", statsColumns = Seq("k", "v"))
    val s = VersionedTable.readPruned(spark, loc, Seq(Prune("k", "<=", 2)))
    assert(s.totalFiles == 3 && s.keptFiles == 1) // base stats survived the appends
    assert(rows(s.df.filter($"k" <= 2)) == Set((1, "a"), (2, "b")))
    // string zone maps order on the raw value
    val sv = VersionedTable.readPruned(spark, loc, Seq(Prune("v", ">=", "x")))
    assert(sv.keptFiles == 1)
    assert(sv.df.select("v").as[String].collect().toSet == Set("x"))
  }

  test("zone maps: string values holding newline, quote and backslash prune by =") {
    val loc = tmp("zm4")
    val odd = "a\nb\"c\\d"
    VersionedTable.commit(spark, loc,
      Seq((1, odd), (2, "a\nb")).toDF("k", "v").coalesce(1),
      "overwrite", statsColumns = Seq("v"))
    VersionedTable.commit(spark, loc,
      Seq((3, "zz")).toDF("k", "v").coalesce(1), "append", statsColumns = Seq("v"))
    val s = VersionedTable.readPruned(spark, loc, Seq(Prune("v", "=", odd)))
    assert(s.totalFiles == 2 && s.keptFiles == 1)
    assert(rows(s.df.filter($"v" === odd)) == Set((1, odd)))
  }

  test("zone maps: NaN and ±Infinity bounds are unknown — commit, merge and pruned reads keep the file") {
    val loc = tmp("nan")
    val x = Seq("x")
    def commit(rs: Seq[(Double, String)], mode: String) = VersionedTable.commit(spark, loc,
      rs.toDF("x", "v").coalesce(1), mode, statsColumns = x)
    val (nan, inf) = (Double.NaN, Double.PositiveInfinity)
    commit(Seq((1.0, "a"), (nan, "nan")), "overwrite")
    commit(Seq((-inf, "ninf"), (2.0, "b")), "append")
    commit(Seq((3.0, "c"), (inf, "pinf")), "append")
    commit(Seq((5.0, "d"), (6.0, "e")), "append")
    // doubles as their strings: NaN equals itself there
    def got(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getDouble(0).toString, r.getString(1))).toSet
    // three files record no zone map for x; the finite one does
    val stats = VersionedTable.fileStats(spark, loc, 4L)
    assert(VersionedTable.fileRows(spark, loc, 4L).size == 4)
    assert(stats.count(_._2.contains("x")) == 1, stats)
    // Spark orders NaN above +Infinity: both pass x > 100, and pruning
    // keeps every file whose bounds are unknown
    val hi = VersionedTable.readPruned(spark, loc, Seq(VersionedTable.Prune("x", ">", 100.0)))
    assert(hi.keptFiles == 3 && got(hi.df.filter("x > 100")) ==
      Set(("NaN", "nan"), ("Infinity", "pinf")))
    val lo = VersionedTable.readPruned(spark, loc, Seq(VersionedTable.Prune("x", "<", -100.0)))
    assert(lo.keptFiles == 3 && got(lo.df.filter("x < -100")) == Set(("-Infinity", "ninf")))
    // a NaN probe has no token: it keeps every file
    val probe = VersionedTable.readPruned(spark, loc, Seq(VersionedTable.Prune("x", "=", nan)))
    assert(probe.keptFiles == 4 && got(probe.df.filter("x = double('NaN')")) == Set(("NaN", "nan")))
    // a merge keyed on x: its key bounds are NaN, so every file is a hit
    VersionedTable.merge(spark, loc, Seq((nan, "nan2"), (inf, "pinf2"), (-inf, "ninf2"),
      (7.0, "f")).toDF("x", "v"), x, statsColumns = x)
    assert(got(VersionedTable.read(spark, loc)) == Set(("1.0", "a"), ("NaN", "nan2"),
      ("-Infinity", "ninf2"), ("2.0", "b"), ("3.0", "c"), ("Infinity", "pinf2"),
      ("5.0", "d"), ("6.0", "e"), ("7.0", "f")))
    assert(got(VersionedTable.read(spark, loc, asOf = Some(4L))).size == 8)
  }

  test("zone maps: canonical tokens order timestamps/dates numerically") {
    // Timestamp.toString renders in the writer JVM's default zone (not
    // comparable across writers); the canonical token is epoch micros
    val t1 = java.sql.Timestamp.valueOf("2026-01-01 00:00:00.1")
    val t2 = java.sql.Timestamp.valueOf("2026-01-01 00:00:00.05")
    assert(BigDecimal(VersionedTable.canonToken(t1)) >
      BigDecimal(VersionedTable.canonToken(t2)))
    val d1 = java.sql.Date.valueOf("2026-02-01")
    val d2 = java.sql.Date.valueOf("2026-01-31")
    assert(BigDecimal(VersionedTable.canonToken(d1)) >
      BigDecimal(VersionedTable.canonToken(d2)))
  }

  test("vacuum keeps referenced stats sidecars, drops orphaned ones") {
    val loc = tmp("zm3")
    VersionedTable.commit(spark, loc, Seq((1, "a")).toDF("k", "v"),
      "overwrite", statsColumns = Seq("k"))
    VersionedTable.commit(spark, loc, Seq((2, "b")).toDF("k", "v"),
      "append", statsColumns = Seq("k"))
    val dropped = VersionedTable.vacuumVersions(spark, loc, keepFromVersion = 2L)
    assert(dropped.exists(_.matches("_graft_log/stats-.*"))) // v1's sidecar
    // v2's sidecar still referenced: pruning still works after vacuum
    val s = VersionedTable.readPruned(spark, loc, Seq(Prune("k", "=", 2)))
    assert(s.keptFiles == 1 && s.totalFiles == 2)
  }

  test("versionAt resolves wall-clock time travel against recorded commit ts") {
    val loc = tmp("ts1")
    VersionedTable.commit(spark, loc, Seq((1, "a")).toDF("k", "v"), "overwrite")
    VersionedTable.commit(spark, loc, Seq((2, "b")).toDF("k", "v"), "append")
    val ts = VersionedTable.history(spark, loc).collect()
      .map(r => (r.getAs[Long]("version"), r.getAs[Long]("ts_millis"))).toMap
    assert(ts(1L) > 0 && ts(2L) >= ts(1L))
    assert(VersionedTable.versionAt(spark, loc, ts(1L)) == 1L ||
      ts(1L) == ts(2L)) // same-millisecond commits resolve to the later
    assert(VersionedTable.versionAt(spark, loc, ts(2L)) == 2L)
    assert(VersionedTable.versionAt(spark, loc, System.currentTimeMillis() + 1000) == 2L)
    val e = intercept[graft.config.ConfigError](
      VersionedTable.versionAt(spark, loc, ts(1L) - 10))
    assert(e.getMessage.contains("no version at or before"))
  }

  test("history answers version/mode/files/rows from metadata alone") {
    val loc = tmp("h1")
    VersionedTable.commit(spark, loc,
      Seq((1, "a"), (2, "b")).toDF("k", "v").coalesce(1),
      "overwrite", statsColumns = Seq("k"))
    VersionedTable.commit(spark, loc,
      Seq((3, "c")).toDF("k", "v").coalesce(1), "append", statsColumns = Seq("k"))
    VersionedTable.commit(spark, loc,
      Seq((9, "z")).toDF("k", "v").coalesce(1), "overwrite") // no stats: null rows
    val h = VersionedTable.history(spark, loc).collect()
      .map(r => (r.getAs[Long]("version"), r.getAs[String]("mode"),
        r.getAs[Long]("n_files"),
        if (r.isNullAt(r.fieldIndex("n_rows"))) -1L else r.getAs[Long]("n_rows")))
      .toSeq.sortBy(_._1)
    assert(h == Seq((1L, "overwrite", 1L, 2L), (2L, "append", 2L, 3L),
      (3L, "overwrite", 1L, -1L)))
    assert(VersionedTable.fileRows(spark, loc, 2L).values.toSeq.sorted == Seq(1L, 2L))
    // total_bytes: positive and growing with the file set
    val bytes = VersionedTable.history(spark, loc).collect()
      .map(r => (r.getAs[Long]("version"), r.getAs[Long]("total_bytes"))).toMap
    assert(bytes.values.forall(_ > 0) && bytes(2L) > bytes(1L))
  }

  test("append schema drift fails loudly; mergeSchema opts into evolution") {
    val loc = tmp("ev1")
    VersionedTable.commit(spark, loc, Seq((1, "a")).toDF("k", "v"), "overwrite")
    val e = intercept[graft.config.ConfigError](
      VersionedTable.commit(spark, loc,
        Seq((2, "b", 7L)).toDF("k", "v", "extra"), "append"))
    assert(e.getMessage.contains("schema drift") && e.getMessage.contains("extra"))
    // opt-in evolution: commit and read with mergeSchema
    val ms = Map("mergeSchema" -> "true")
    VersionedTable.commit(spark, loc,
      Seq((2, "b", 7L)).toDF("k", "v", "extra"), "append", options = ms)
    val got = VersionedTable.read(spark, loc, options = ms)
      .collect().map(r => (r.getAs[Int]("k"),
        Option(r.getAs[Any]("extra")).map(_.toString.toLong))).toSet
    assert(got == Set((1, None), (2, Some(7L)))) // old rows null-padded
  }

  test("bucket bitmaps skip = probes the range alone cannot") {
    import org.apache.spark.sql.functions.{hash, lit, pmod}
    val loc = tmp("bm1")
    // both files span k in [1,100]; only file B contains 50 — the range
    // tier keeps both, the bitmap tier must drop A. Guard against a
    // (deterministic) bucket collision making the expectation ambiguous.
    def bucketOf(s: String) = spark.range(1)
      .select(pmod(hash(lit(s)), lit(4096))).head.getInt(0)
    val numeric = Seq("1", "100", "50").map(bucketOf)
    assert(numeric.distinct.size == 3, s"bucket collision: $numeric")
    assert(!Seq("a", "b").map(bucketOf).contains(bucketOf("d")),
      "bucket collision between 'd' and file A's strings")
    VersionedTable.commit(spark, loc,
      Seq((1, "a"), (100, "b")).toDF("k", "v").coalesce(1),
      "overwrite", statsColumns = Seq("k", "v"))
    VersionedTable.commit(spark, loc,
      Seq((1, "c"), (50, "d"), (100, "e")).toDF("k", "v").coalesce(1),
      "append", statsColumns = Seq("k", "v"))
    // int column probed with a LONG: the canonical-string hashing makes
    // the kinds agree (both "50")
    val p = VersionedTable.readPruned(spark, loc,
      Seq(VersionedTable.Prune("k", "=", 50L)))
    assert(p.totalFiles == 2 && p.keptFiles == 1)
    assert(p.df.filter($"k" === 50).collect().map(_.getAs[String]("v")).toSeq == Seq("d"))
    // a value present in both files keeps both
    val q = VersionedTable.readPruned(spark, loc,
      Seq(VersionedTable.Prune("k", "=", 100)))
    assert(q.keptFiles == 2)
    // string bitmap: only one file holds "d"
    val r = VersionedTable.readPruned(spark, loc,
      Seq(VersionedTable.Prune("v", "=", "d")))
    assert(r.keptFiles == 1)
  }

  test("fractional columns get NO bitmap: = probes fall back to the range tier") {
    val loc = tmp("bm2")
    // 50.0 is IN range [1.0, 100.0] but absent; a bitmap would hash
    // "50.0" vs the probe's "50" and false-skip — so doubles must not
    // emit one, and the range tier conservatively keeps the file
    VersionedTable.commit(spark, loc,
      Seq((1.0, "a"), (100.0, "b")).toDF("price", "v").coalesce(1),
      "overwrite", statsColumns = Seq("price"))
    val p = VersionedTable.readPruned(spark, loc,
      Seq(VersionedTable.Prune("price", "=", 50L)))
    assert(p.keptFiles == 1) // conservative: range spans it, no bitmap
    // and a probe below the range still prunes via min/max
    val q = VersionedTable.readPruned(spark, loc,
      Seq(VersionedTable.Prune("price", "<", 1)))
    assert(q.keptFiles == 0)
  }

  test("merge rejects a drifted arrival schema even when no file is touched") {
    val loc = tmp("m5")
    VersionedTable.commit(spark, loc,
      Seq((1, "a")).toDF("k", "v").coalesce(1), "overwrite", statsColumns = Seq("k"))
    // arrival range [100,100] misses the only file -> touched empty,
    // but the drifted column set must still fail loudly
    val e = intercept[graft.config.ConfigError](
      VersionedTable.merge(spark, loc,
        Seq((100, 9L)).toDF("k", "extra"), Seq("k")))
    assert(e.getMessage.contains("schema drift") && e.getMessage.contains("extra"))
  }

  test("compact and z-order rewrites keep the tracked zone maps alive") {
    val loc = tmp("zm4")
    VersionedTable.commit(spark, loc,
      spark.range(1, 41).selectExpr("CAST(id AS INT) AS k", "id * 2 AS w")
        .repartitionByRange(4, $"k"),
      "overwrite", statsColumns = Seq("k"))
    Sinks.compact(spark, loc, "parquet", nFiles = 2)
    val afterCompact = VersionedTable.readPruned(spark, loc,
      Seq(VersionedTable.Prune("k", "<=", 5)))
    assert(afterCompact.totalFiles == 2 && afterCompact.keptFiles == 1)
    Sinks.clusterZOrder(spark, loc, "parquet", Seq("k", "w"), nFiles = 4)
    val afterCluster = VersionedTable.readPruned(spark, loc,
      Seq(VersionedTable.Prune("k", "<=", 5)))
    assert(afterCluster.totalFiles == 4 && afterCluster.keptFiles < 4)
    assert(afterCluster.df.filter($"k" <= 5).count() == 5)
  }

  // --------------------------------------------------- file-level merge

  test("merge rewrites only zone-map-matched files; the rest carry by reference") {
    val loc = tmp("m1")
    // 4 range-disjoint files over k = 1..40
    VersionedTable.commit(spark, loc,
      spark.range(1, 41).selectExpr("CAST(id AS INT) AS k", "CAST(id AS STRING) AS v")
        .repartitionByRange(4, $"k"),
      "overwrite", statsColumns = Seq("k"))
    val before = VersionedTable.fileStats(spark, loc, 1L).keySet
    assert(before.size == 4)
    // arrivals touch keys 12 and 15 — one file's range
    val v = VersionedTable.merge(spark, loc,
      Seq((12, "X"), (15, "Y"), (99, "NEW")).toDF("k", "v").coalesce(1), Seq("k"),
      statsColumns = Seq("k"))
    assert(v == 2L)
    // pruning is the arrival [min,max] range = [12,99], which spans the
    // three upper files (the documented coarseness); keys 12 and 15 hit
    // 2 of the 11..20 file's 10 rows, under the 0.3 rewrite fraction, so
    // EVERY file carries by reference, the two replaced rows go to the
    // deletion vector, and the arrivals are the one new file
    val m = headManifest(loc)
    assert(before.subsetOf(m.names.toSet) && m.names.size == 5, m.names)
    assert(m.dv.map(_._2).contains(2L))
    // content exact
    val got = VersionedTable.read(spark, loc).collect()
      .map(r => (r.getAs[Int]("k"), r.getAs[String]("v"))).toMap
    assert(got(12) == "X" && got(15) == "Y" && got(99) == "NEW" &&
      got(1) == "1" && got(40) == "40" && got.size == 41)
    // zone maps survive: a pruned probe on the carried range still skips
    val pr = VersionedTable.readPruned(spark, loc, Seq(VersionedTable.Prune("k", "=", 5)))
    assert(pr.keptFiles < pr.totalFiles)
  }

  test("merge with a tight arrival range carries every non-matched file") {
    val loc = tmp("m2")
    VersionedTable.commit(spark, loc,
      spark.range(1, 41).selectExpr("CAST(id AS INT) AS k", "CAST(id AS STRING) AS v")
        .repartitionByRange(4, $"k"),
      "overwrite", statsColumns = Seq("k"))
    val before = VersionedTable.fileStats(spark, loc, 1L).keySet
    VersionedTable.merge(spark, loc,
      Seq((12, "X"), (15, "Y")).toDF("k", "v").coalesce(1), Seq("k"),
      statsColumns = Seq("k"))
    // the 11..20 file loses 2 of 10 rows to the DV: all four files carry,
    // and the arrivals are the one new file
    val m = headManifest(loc)
    assert(before.subsetOf(m.names.toSet) && m.names.size == 5, m.names)
    assert(m.dv.map(_._2).contains(2L))
    assert(VersionedTable.read(spark, loc).count() == 40)
    // history shows the merge commit
    val modes = VersionedTable.history(spark, loc).collect()
      .map(r => (r.getAs[Long]("version"), r.getAs[String]("mode"))).toMap
    assert(modes == Map(1L -> "overwrite", 2L -> "merge"))
  }

  test("merge rewrites a claimed file once its deleted fraction reaches 0.3, in the arrivals' write") {
    val loc = tmp("m4")
    VersionedTable.commit(spark, loc,
      spark.range(1, 41).selectExpr("CAST(id AS INT) AS k", "CAST(id AS STRING) AS v")
        .repartitionByRange(4, $"k"),
      "overwrite", statsColumns = Seq("k"))
    VersionedTable.deleteWhere(spark, loc, "k IN (21, 22)") // 2 of the 21..30 file
    val before = headManifest(loc)
    def fileOf(k: Int) = VersionedTable.fileStats(spark, loc, before.version).collectFirst {
      case (f, cs) if BigDecimal(cs("k").min) <= k && k <= BigDecimal(cs("k").max) => f }.get
    // 13 claims 1 of 10 rows of its file (0.1): it carries with a DV
    // entry. 23 brings the 21..30 file to 3 of 10 deleted (0.3): that
    // file is rewritten, its DV entries materialized away
    VersionedTable.merge(spark, loc, Seq((13, "X"), (23, "Y"), (99, "NEW")).toDF("k", "v")
      .coalesce(1), Seq("k"), statsColumns = Seq("k"))
    val m = headManifest(loc)
    assert(m.names.toSet.intersect(before.names.toSet) == before.names.toSet - fileOf(23))
    assert(m.dv.map(_._2).contains(1L))
    // three carried files, and written: the arrivals and the 21..30
    // file's 7 rows neither deleted nor replaced
    assert(VersionedTable.fileRows(spark, loc, m.version).values.sum == 30 + 3 + 7)
    assert(rows(VersionedTable.read(spark, loc)) == ((1 to 40).toSet -- Set(21, 22))
      .map(k => (k, k.toString)) -- Set((13, "13"), (23, "23")) ++
      Set((13, "X"), (23, "Y"), (99, "NEW")))
  }

  test("merge without zone maps degrades to a full rewrite, still exact") {
    val loc = tmp("m3")
    VersionedTable.commit(spark, loc,
      Seq((1, "a"), (2, "b")).toDF("k", "v").coalesce(1), "overwrite") // no stats
    val before = headManifest(loc).names
    VersionedTable.merge(spark, loc, Seq((2, "B"), (3, "c")).toDF("k", "v"), Seq("k"))
    assert(rows(VersionedTable.read(spark, loc)) == Set((1, "a"), (2, "B"), (3, "c")))
    // no recorded row counts: the zone-hit file is rewritten, no DV
    val m = headManifest(loc)
    assert(m.dv.isEmpty && m.names.intersect(before).isEmpty, m)
  }

  test("BY SOURCE merge routes through the DV: every file carries, claimed rows flip or vanish") {
    val loc = tmp("bsdv1")
    // 4 range-disjoint files over k = 1..40, zone maps on k
    VersionedTable.commit(spark, loc,
      spark.range(1, 41).selectExpr("CAST(id AS INT) AS k", "CAST(id AS STRING) AS v")
        .repartitionByRange(4, $"k"),
      "overwrite", statsColumns = Seq("k"))
    val before = VersionedTable.fileStats(spark, loc, 1L).keySet
    assert(before.size == 4)
    // matched update (keys 12, 15 — one file's range) + two BY SOURCE
    // actions (first-true-wins): delete k <= 5, re-version k >= 35
    val v = VersionedTable.merge(spark, loc,
      Seq((12, "X"), (15, "Y")).toDF("k", "v").coalesce(1), Seq("k"),
      statsColumns = Seq("k"),
      actions = MergeActions(
        matched = Seq(MergeActions.UpdateAll(None)),
        notMatched = Nil,
        bySource = Seq(
          MergeActions.BySourceDelete(Some("t.k <= 5")),
          MergeActions.BySourceUpdate(Some("t.k >= 35"), Seq("v" -> "'old'")))))
    assert(v == 2L)
    val manifest = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(s"$loc/_graft_log/v00002.json")), "UTF-8")
    // the r13 weak mark: BY SOURCE no longer rewrites the table — the
    // three zone-miss files carry BY REFERENCE (only the 11..20 file
    // rewrites, for the matched action), and the claimed rows ride the
    // deletion vector + appended re-images
    assert(before.count(manifest.contains) == 3,
      s"zone-miss files must carry by reference:\n$manifest")
    assert(manifest.contains("dv_file"), "the BY SOURCE claims must be a DV")
    val got = VersionedTable.read(spark, loc).collect()
      .map(r => (r.getAs[Int]("k"), r.getAs[String]("v"))).toMap
    assert(got.size == 35 && !got.contains(1) && !got.contains(5)) // deletes
    assert(got(35) == "old" && got(40) == "old") // re-images
    assert(got(12) == "X" && got(15) == "Y")     // matched updates
    assert(got(6) == "6" && got(34) == "34")     // unclaimed rows intact
    // history: dv_rows subtract from the metadata row count
    val h = VersionedTable.history(spark, loc).collect()
      .map(r => (r.getAs[Long]("version"), r.getAs[Long]("n_rows"))).toMap
    assert(h(2L) == 35L, h.toString)
    // TIME TRAVEL across the DV commit: v1 still reads the full 40
    val v1 = VersionedTable.read(spark, loc, asOf = Some(1L)).collect()
      .map(r => (r.getAs[Int]("k"), r.getAs[String]("v"))).toMap
    assert(v1.size == 40 && v1(1) == "1" && v1(40) == "40")
  }

  test("BY SOURCE with no matched actions rewrites NOTHING; restore and vacuum cross the DV commit") {
    val loc = tmp("bsdv2")
    VersionedTable.commit(spark, loc,
      spark.range(1, 41).selectExpr("CAST(id AS INT) AS k", "CAST(id AS STRING) AS v")
        .repartitionByRange(4, $"k"),
      "overwrite", statsColumns = Seq("k"))
    val before = VersionedTable.fileStats(spark, loc, 1L).keySet
    // a pure retention merge: source lists the keys to KEEP (12, 15);
    // a matched row takes no action, everything else deletes — the
    // 100 TB shape that motivated the DV route. Key-duplicated source
    // is ANSI-legal here (no matched action, no evaluator join).
    val v = VersionedTable.merge(spark, loc,
      Seq((12, "X"), (15, "Y"), (15, "Y2")).toDF("k", "v"), Seq("k"),
      statsColumns = Seq("k"),
      actions = MergeActions(Nil, Nil,
        Seq(MergeActions.BySourceDelete(None))))
    assert(v == 2L)
    val manifest = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(s"$loc/_graft_log/v00002.json")), "UTF-8")
    // NO matched/insert actions -> zero rewrites: all 4 files carry
    assert(before.forall(manifest.contains),
      s"a delete-only BY SOURCE merge must carry every file:\n$manifest")
    assert(rows(VersionedTable.read(spark, loc)) == Set((12, "12"), (15, "15")))
    // RESTORE across the DV commit: the head rolls back to the full 40
    val v3 = VersionedTable.restore(spark, loc, 1L)
    assert(v3 == 3L && VersionedTable.read(spark, loc).count() == 40)
    // ... and restoring FORWARD to the DV'd version carries its DV
    val v4 = VersionedTable.restore(spark, loc, 2L)
    assert(v4 == 4L &&
      rows(VersionedTable.read(spark, loc)) == Set((12, "12"), (15, "15")))
    // VACUUM below the DV'd version: the DV sidecar stays referenced
    VersionedTable.vacuumVersions(spark, loc, keepFromVersion = 4L,
      minOrphanAgeMillis = 0L)
    assert(rows(VersionedTable.read(spark, loc)) == Set((12, "12"), (15, "15")))
  }

  test("BY SOURCE claims compose with a prior deleteWhere DV and never resurrect") {
    val loc = tmp("bsdv3")
    VersionedTable.commit(spark, loc,
      spark.range(1, 41).selectExpr("CAST(id AS INT) AS k", "CAST(id AS STRING) AS v")
        .repartitionByRange(4, $"k"),
      "overwrite", statsColumns = Seq("k"))
    VersionedTable.deleteWhere(spark, loc, "k = 25") // prior DV entry
    // BY SOURCE delete k <= 5 with an empty-ish source (key 12 only)
    VersionedTable.merge(spark, loc,
      Seq((12, "X")).toDF("k", "v"), Seq("k"), statsColumns = Seq("k"),
      actions = MergeActions(Nil, Nil,
        Seq(MergeActions.BySourceDelete(Some("t.k <= 5")))))
    val got = VersionedTable.read(spark, loc).collect()
      .map(r => r.getAs[Int]("k")).toSet
    // both DVs apply: 25 (prior) and 1..5 (BY SOURCE) are gone; the
    // matched key 12 took no action (no matched action declared)
    assert(got == ((6 to 40).toSet - 25) && got.contains(12))
    // a later row-replace merge touching the 21..30 file materializes
    // its DV entries away without resurrecting 25
    VersionedTable.merge(spark, loc,
      Seq((26, "Z")).toDF("k", "v").coalesce(1), Seq("k"),
      statsColumns = Seq("k"))
    val after = VersionedTable.read(spark, loc).collect()
      .map(r => (r.getAs[Int]("k"), r.getAs[String]("v"))).toMap
    assert(!after.contains(25) && after(26) == "Z" && !after.contains(3))
  }

  test("non-parquet BY SOURCE merge falls back to the whole-table rewrite WITHOUT losing zone-miss rows") {
    val loc = tmp("bsorc")
    // orc: no parquet row positions -> no DV route -> whole-table
    // rewrite; the rewrite input must be ALL files, not just the
    // zone-hit probe set (the r14 review-found data-loss bug: loading
    // touchedProbe dropped every zone-miss file's rows from v+1)
    VersionedTable.commit(spark, loc,
      spark.range(1, 41).selectExpr("CAST(id AS INT) AS k", "CAST(id AS STRING) AS v")
        .repartitionByRange(4, $"k"),
      "overwrite", format = "orc", statsColumns = Seq("k"))
    VersionedTable.merge(spark, loc,
      Seq((12, "X")).toDF("k", "v").coalesce(1), Seq("k"), format = "orc",
      statsColumns = Seq("k"),
      actions = MergeActions(
        Seq(MergeActions.UpdateAll(None)), Nil,
        Seq(MergeActions.BySourceDelete(Some("t.k <= 5")))))
    val got = VersionedTable.read(spark, loc, format = "orc").collect()
      .map(r => (r.getAs[Int]("k"), r.getAs[String]("v"))).toMap
    assert(got.size == 35 && got(12) == "X" && !got.contains(3) &&
      got(21) == "21" && got(40) == "40",
      s"zone-miss rows must survive the non-parquet fallback rewrite: $got")
  }

  test("merge star actions reject extra source columns by name (no silent drop)") {
    val loc = tmp("bsdv4")
    VersionedTable.commit(spark, loc,
      Seq((1, "a")).toDF("k", "v"), "overwrite")
    val e = intercept[graft.config.ConfigError](
      VersionedTable.merge(spark, loc,
        Seq((1, "A", 9L)).toDF("k", "v", "extra_col"), Seq("k"),
        actions = MergeActions(
          Seq(MergeActions.UpdateAll(None)),
          Seq(MergeActions.InsertAll(Some("s.k > 0"))), Nil)))
    assert(e.getMessage.contains("extra_col") &&
      e.getMessage.contains("schema evolution"), e.getMessage)
  }

  test("merge is serializable: a commit since the snapshot aborts loudly") {
    val loc = tmp("m4")
    VersionedTable.commit(spark, loc, Seq((1, "a")).toDF("k", "v"), "overwrite")
    // plant a concurrent v2 (copy of v1) to lose the CAS
    val log = new java.io.File(s"$loc/_graft_log")
    java.nio.file.Files.copy(
      new java.io.File(log, "v00001.json").toPath,
      new java.io.File(log, "v00002.json").toPath)
    val e = intercept[java.util.ConcurrentModificationException](
      VersionedTable.merge(spark, loc, Seq((1, "A")).toDF("k", "v"), Seq("k"),
        expectedLatest = Some(1L)))
    assert(e.getMessage.contains("re-read and re-merge"))
  }

  // ----------------------------------------------------------------- CDC

  test("changesBetween returns exactly the appended rows, tagged with their commit") {
    val loc = tmp("cdc1")
    VersionedTable.commit(spark, loc, Seq((1, "a")).toDF("k", "v"), "overwrite")
    VersionedTable.commit(spark, loc, Seq((2, "b"), (3, "c")).toDF("k", "v"), "append")
    VersionedTable.commit(spark, loc, Seq((4, "d")).toDF("k", "v"), "append")
    val ch = VersionedTable.changesBetween(spark, loc, 1L, 3L)
    val got = ch.collect().map(r => (r.getAs[Int]("k"), r.getAs[Long]("_commit_version"))).toSet
    assert(got == Set((2, 2L), (3, 2L), (4, 3L)))
    // sub-range
    val ch2 = VersionedTable.changesBetween(spark, loc, 2L, 3L)
    assert(ch2.collect().map(_.getAs[Int]("k")).toSet == Set(4))
  }

  test("changesBetween aborts loudly on an overwrite commit in the range") {
    val loc = tmp("cdc2")
    VersionedTable.commit(spark, loc, Seq((1, "a")).toDF("k", "v"), "overwrite")
    VersionedTable.commit(spark, loc, Seq((2, "b")).toDF("k", "v"), "overwrite")
    val e = intercept[graft.config.ConfigError](
      VersionedTable.changesBetween(spark, loc, 1L, 2L).collect())
    assert(e.getMessage.contains("overwrite commit"))
    val bad = intercept[graft.config.ConfigError](
      VersionedTable.changesBetween(spark, loc, 1L, 9L))
    assert(bad.getMessage.contains("not in committed set"))
  }

  test("deleteWhere: rows vanish without moving a file; deletes accumulate") {
    val loc = tmp("dv1")
    VersionedTable.commit(spark, loc,
      Seq((1, "a"), (2, "b"), (3, "c"), (4, "d")).toDF("k", "v"), "overwrite")
    val dataFiles = new java.io.File(s"$loc/data").listFiles().map(_.getName).toSet
    val v2 = VersionedTable.deleteWhere(spark, loc, "k = 2")
    assert(v2 == 2L)
    // zero data movement: same file set, same bytes
    assert(new java.io.File(s"$loc/data").listFiles().map(_.getName).toSet == dataFiles)
    assert(rows(VersionedTable.read(spark, loc)) == Set((1, "a"), (3, "c"), (4, "d")))
    // time travel still sees the deleted row
    assert(rows(VersionedTable.read(spark, loc, asOf = Some(1L))) ==
      Set((1, "a"), (2, "b"), (3, "c"), (4, "d")))
    // accumulation
    val v3 = VersionedTable.deleteWhere(spark, loc, "k >= 4")
    assert(v3 == 3L)
    assert(rows(VersionedTable.read(spark, loc)) == Set((1, "a"), (3, "c")))
    // no-match delete is a no-op (no new version)
    assert(VersionedTable.deleteWhere(spark, loc, "k = 99") == 3L)
    assert(VersionedTable.versions(spark, loc) == Seq(1L, 2L, 3L))
  }

  test("golden: a DV the Spark committer wrote (part files, _SUCCESS, .crc) reads the same on the driver") {
    // written by the earlier committer path: three files over k = 1..30,
    // then k % 4 = 0 deleted — a DV of 7 rows in three part files
    val loc = "src/test/golden/dv-table"
    val fs = org.apache.hadoop.fs.FileSystem.getLocal(spark.sparkContext.hadoopConfiguration)
    val onDriver = VersionedTable.readDvRows(fs, new org.apache.hadoop.fs.Path(loc), "dv-295b74c1")
    val bySpark = spark.read.parquet(s"$loc/_graft_log/dv-295b74c1").collect()
      .map(r => (r.getString(0), r.getLong(1))).toSeq
    assert(onDriver.size == 7 && onDriver.sorted == bySpark.sorted)
    val expected = (1 to 30).filterNot(_ % 4 == 0).map(k => (k, k.toString)).toSet
    assert(rows(VersionedTable.read(spark, loc)) == expected)
    val threshold = "spark.sql.autoBroadcastJoinThreshold"
    val prev = spark.conf.get(threshold)
    spark.conf.set(threshold, "-1") // the DV read by Spark
    try assert(rows(VersionedTable.read(spark, loc)) == expected)
    finally spark.conf.set(threshold, prev)
  }

  test("deleteWhere: append carries the DV; merge never resurrects deleted rows") {
    val loc = tmp("dv2")
    VersionedTable.commit(spark, loc,
      Seq((1, "a"), (2, "b")).toDF("k", "v"), "overwrite",
      statsColumns = Seq("k"))
    VersionedTable.deleteWhere(spark, loc, "k = 1")
    // append keeps the delete invisible
    VersionedTable.commit(spark, loc, Seq((3, "c")).toDF("k", "v"), "append",
      statsColumns = Seq("k"))
    assert(rows(VersionedTable.read(spark, loc)) == Set((2, "b"), (3, "c")))
    // merge rewriting the file containing the deleted row must not
    // bring k=1 back (the DV applies to the snapshot being merged)
    VersionedTable.merge(spark, loc, Seq((2, "B")).toDF("k", "v"),
      keys = Seq("k"), statsColumns = Seq("k"))
    assert(rows(VersionedTable.read(spark, loc)) == Set((2, "B"), (3, "c")))
  }

  test("deleteWhere: history subtracts dv_rows; compaction purges the DV") {
    val loc = tmp("dv3")
    VersionedTable.commit(spark, loc,
      Seq((1, "a"), (2, "b"), (3, "c")).toDF("k", "v"), "overwrite",
      statsColumns = Seq("k"))
    VersionedTable.deleteWhere(spark, loc, "k <= 2")
    val h = VersionedTable.history(spark, loc).collect()
      .map(r => (r.getAs[Long]("version"), r.getAs[String]("mode"),
        Option(r.getAs[Any]("n_rows")))).toSeq.sortBy(_._1)
    assert(h(0) == ((1L, "overwrite", Some(3L))))
    assert(h(1) == ((2L, "delete", Some(1L)))) // 3 files' rows minus 2 deleted
    // compaction reads THROUGH the DV and its commit drops it
    Sinks.compact(spark, loc, "parquet", nFiles = 1)
    assert(rows(VersionedTable.read(spark, loc)) == Set((3, "c")))
    val latestText = scala.io.Source.fromFile(
      new java.io.File(s"$loc/_graft_log").listFiles()
        .filter(_.getName.matches("v\\d+\\.json")).sortBy(_.getName).last).mkString
    assert(!latestText.contains("dv_file"))
  }

  test("deleteWhere: vacuum keeps referenced DV sidecars, reclaims dropped ones") {
    val loc = tmp("dv4")
    VersionedTable.commit(spark, loc,
      Seq((1, "a"), (2, "b")).toDF("k", "v"), "overwrite")
    VersionedTable.deleteWhere(spark, loc, "k = 1") // v2 + dv sidecar A
    VersionedTable.deleteWhere(spark, loc, "k = 2") // v3 + dv sidecar B
    def dvDirs = new java.io.File(s"$loc/_graft_log").listFiles()
      .filter(d => d.isDirectory && d.getName.startsWith("dv-")).map(_.getName).toSet
    assert(dvDirs.size == 2)
    // keep only v3: v2's sidecar (committed then dropped) reclaims now
    VersionedTable.vacuumVersions(spark, loc, keepFromVersion = 3L)
    assert(dvDirs.size == 1)
    assert(rows(VersionedTable.read(spark, loc)) == Set.empty[(Int, String)])
  }

  test("updateWhere: atomic delete+append, cardinality preserved, SET sees old row") {
    val loc = tmp("dv5")
    VersionedTable.commit(spark, loc,
      Seq((1, "a"), (2, "b"), (3, "c")).toDF("k", "v"), "overwrite",
      statsColumns = Seq("k"))
    val v2 = VersionedTable.updateWhere(spark, loc, "k >= 2",
      Map("v" -> "concat(v, '!')", "k" -> "k + 10"))
    assert(v2 == 2L)
    assert(rows(VersionedTable.read(spark, loc)) ==
      Set((1, "a"), (12, "b!"), (13, "c!")))
    // time travel: the pre-update image is intact
    assert(rows(VersionedTable.read(spark, loc, asOf = Some(1L))) ==
      Set((1, "a"), (2, "b"), (3, "c")))
    // metadata row count unchanged (update preserves cardinality)
    val h = VersionedTable.history(spark, loc).collect()
      .map(r => (r.getAs[Long]("version"), Option(r.getAs[Any]("n_rows")))).toMap
    assert(h(2L) == Some(3L))
    // no-match update is a no-op; unknown SET column is a named error
    assert(VersionedTable.updateWhere(spark, loc, "k = 99", Map("v" -> "'x'")) == 2L)
    val e = intercept[IllegalArgumentException](
      VersionedTable.updateWhere(spark, loc, "k = 1", Map("nope" -> "'x'")))
    assert(e.getMessage.contains("nope"))
    // type-preserving contract: an INT literal into the INT k is fine,
    // but changing k's type must be a named error, not a mixed-schema
    // table the next read explodes on
    val et = intercept[graft.config.ConfigError](
      VersionedTable.updateWhere(spark, loc, "k = 12", Map("k" -> "CAST(9 AS BIGINT)")))
    assert(et.getMessage.contains("would change column 'k'"))
  }

  test("updateWhere composes with deletes and merges (no resurrection)") {
    val loc = tmp("dv6")
    VersionedTable.commit(spark, loc,
      Seq((1, "a"), (2, "b"), (3, "c")).toDF("k", "v"), "overwrite",
      statsColumns = Seq("k"))
    VersionedTable.deleteWhere(spark, loc, "k = 1")
    VersionedTable.updateWhere(spark, loc, "k = 2", Map("v" -> "'B'"))
    assert(rows(VersionedTable.read(spark, loc)) == Set((2, "B"), (3, "c")))
    // a merge rewriting everything must keep both the delete and update
    VersionedTable.merge(spark, loc, Seq((3, "C")).toDF("k", "v"),
      keys = Seq("k"), statsColumns = Seq("k"))
    assert(rows(VersionedTable.read(spark, loc)) == Set((2, "B"), (3, "C")))
  }

  test("branches: write-audit-publish — staging invisible to main, serializable promote") {
    val loc = tmp("br1")
    VersionedTable.commit(spark, loc, Seq((1, "a")).toDF("k", "v"), "overwrite")
    VersionedTable.createBranch(spark, loc, "audit")
    // stage on the branch: main readers see nothing
    VersionedTable.branchCommit(spark, loc, "audit",
      Seq((2, "bad")).toDF("k", "v"), "append")
    assert(rows(VersionedTable.read(spark, loc)) == Set((1, "a")))
    assert(rows(VersionedTable.readBranch(spark, loc, "audit")) ==
      Set((1, "a"), (2, "bad")))
    // audit found the bad row: restage (overwrite) with the fix
    VersionedTable.branchCommit(spark, loc, "audit",
      Seq((1, "a"), (2, "good")).toDF("k", "v"), "overwrite")
    // promote: branch head becomes main v2
    val pv = VersionedTable.publishBranch(spark, loc, "audit")
    assert(pv == 2L)
    assert(rows(VersionedTable.read(spark, loc)) == Set((1, "a"), (2, "good")))
    assert(VersionedTable.branches(spark, loc) == Seq("audit"))
    VersionedTable.dropBranch(spark, loc, "audit")
    assert(VersionedTable.branches(spark, loc).isEmpty)
  }

  test("branches: publish aborts when main moved past the fork point") {
    val loc = tmp("br2")
    VersionedTable.commit(spark, loc, Seq((1, "a")).toDF("k", "v"), "overwrite")
    VersionedTable.createBranch(spark, loc, "exp")
    VersionedTable.branchCommit(spark, loc, "exp",
      Seq((2, "b")).toDF("k", "v"), "append")
    // a concurrent main commit lands after the fork
    VersionedTable.commit(spark, loc, Seq((9, "z")).toDF("k", "v"), "append")
    intercept[java.util.ConcurrentModificationException](
      VersionedTable.publishBranch(spark, loc, "exp"))
    // double-create and bad names are named errors
    intercept[graft.config.ConfigError](
      VersionedTable.createBranch(spark, loc, "exp"))
    intercept[IllegalArgumentException](
      VersionedTable.createBranch(spark, loc, "Bad Name!"))
  }

  test("branches: vacuum keeps branch-only files until the branch is dropped") {
    val loc = tmp("br3")
    VersionedTable.commit(spark, loc, Seq((1, "a")).toDF("k", "v"), "overwrite")
    VersionedTable.createBranch(spark, loc, "wip")
    VersionedTable.branchCommit(spark, loc, "wip",
      Seq((2, "b")).toDF("k", "v"), "append")
    def nDataFiles = new java.io.File(s"$loc/data").listFiles().count(_.isFile)
    val before = nDataFiles
    // main vacuum keeping everything current must NOT touch branch files
    VersionedTable.vacuumVersions(spark, loc, keepFromVersion = 1L,
      minOrphanAgeMillis = 0L)
    assert(nDataFiles == before)
    assert(rows(VersionedTable.readBranch(spark, loc, "wip")) ==
      Set((1, "a"), (2, "b")))
    // dropped branch: its unpublished file reclaims
    VersionedTable.dropBranch(spark, loc, "wip")
    VersionedTable.vacuumVersions(spark, loc, keepFromVersion = 1L,
      minOrphanAgeMillis = 0L)
    assert(nDataFiles < before)
    assert(rows(VersionedTable.read(spark, loc)) == Set((1, "a")))
  }

  test("manifests holding the older \\u000a escape read back unchanged") {
    val loc = tmp("t6u")
    val app = "ckpt\nA"
    VersionedTable.commit(spark, loc, Seq((1, "a")).toDF("k", "v"),
      "append", txn = Some((app, 0L)))
    // rewrite v1 the way earlier writers escaped a newline
    val log = java.nio.file.Paths.get(loc, "_graft_log")
    val m = log.resolve("v00001.json")
    val text = java.nio.file.Files.readString(m)
    assert(text.contains("ckpt\\nA"))
    java.nio.file.Files.writeString(m, text.replace("ckpt\\nA", "ckpt\\u000aA"))
    java.nio.file.Files.deleteIfExists(log.resolve(".v00001.json.crc"))
    val vReplay = VersionedTable.commit(spark, loc, Seq((1, "a")).toDF("k", "v"),
      "append", txn = Some((app, 0L)))
    assert(vReplay == 1L && VersionedTable.versions(spark, loc) == Seq(1L))
    assert(rows(VersionedTable.read(spark, loc)) == Set((1, "a")))
  }

  test("branchCommit: txn replay is skipped exactly-once, per branch") {
    val loc = tmp("br4")
    VersionedTable.commit(spark, loc, Seq((1, "a")).toDF("k", "v"), "overwrite")
    VersionedTable.createBranch(spark, loc, "ing")
    val v1 = VersionedTable.branchCommit(spark, loc, "ing",
      Seq((2, "b")).toDF("k", "v"), "append", txn = Some(("ckpt", 0L)))
    // WAL replay of batch 0: the same version comes back, nothing doubles
    val v2 = VersionedTable.branchCommit(spark, loc, "ing",
      Seq((2, "b")).toDF("k", "v"), "append", txn = Some(("ckpt", 0L)))
    assert(v1 == v2)
    assert(rows(VersionedTable.readBranch(spark, loc, "ing")) ==
      Set((1, "a"), (2, "b")))
    // the next batch advances
    VersionedTable.branchCommit(spark, loc, "ing",
      Seq((3, "c")).toDF("k", "v"), "append", txn = Some(("ckpt", 1L)))
    assert(rows(VersionedTable.readBranch(spark, loc, "ing")) ==
      Set((1, "a"), (2, "b"), (3, "c")))
  }

  test("compactDeletes: only delete-heavy files rewrite; the rest carry with their DV") {
    val loc = tmp("dvc")
    // two one-row-group files via two separate appends
    VersionedTable.commit(spark, loc,
      Seq((1, "a"), (2, "b"), (3, "c"), (4, "d")).toDF("k", "v").coalesce(1),
      "overwrite", statsColumns = Seq("k"))
    VersionedTable.commit(spark, loc,
      Seq((10, "x"), (11, "y"), (12, "z"), (13, "w")).toDF("k", "v").coalesce(1),
      "append", statsColumns = Seq("k"))
    // 3/4 deleted in file 1, 1/4 in file 2
    VersionedTable.deleteWhere(spark, loc, "k IN (1, 2, 3, 10)")
    val filesBefore = new java.io.File(s"$loc/data").listFiles().map(_.getName).toSet
    val (v, n) = VersionedTable.compactDeletes(spark, loc, minDeletedFraction = 0.5)
    assert(n == 1) // only the 75%-deleted file qualifies at 0.5
    val filesAfter = new java.io.File(s"$loc/data").listFiles().map(_.getName).toSet
    assert((filesBefore -- filesAfter).isEmpty, "data namespace is append-only")
    // content unchanged through the rewrite; the carried file's DV still applies
    assert(rows(VersionedTable.read(spark, loc)) ==
      Set((4, "d"), (11, "y"), (12, "z"), (13, "w")))
    // the remaining DV covers only the carried file's one delete
    val text = scala.io.Source.fromFile(
      new java.io.File(s"$loc/_graft_log").listFiles()
        .filter(_.getName.matches("v\\d+\\.json")).sortBy(_.getName).last).mkString
    assert(text.contains("\"dv_rows\":1"))
    // below-threshold state: a second pass is a no-op
    assert(VersionedTable.compactDeletes(spark, loc, minDeletedFraction = 0.5) == ((v, 0)))
  }

  test("rebaseBranch: staged appends survive a moved main; publish then succeeds") {
    val loc = tmp("br5")
    VersionedTable.commit(spark, loc, Seq((1, "a")).toDF("k", "v"), "overwrite")
    VersionedTable.createBranch(spark, loc, "exp")
    VersionedTable.branchCommit(spark, loc, "exp",
      Seq((2, "b")).toDF("k", "v"), "append")
    // main moves past the fork: publish conflicts, rebase repairs
    VersionedTable.commit(spark, loc, Seq((9, "z")).toDF("k", "v"), "append")
    intercept[java.util.ConcurrentModificationException](
      VersionedTable.publishBranch(spark, loc, "exp"))
    VersionedTable.rebaseBranch(spark, loc, "exp")
    assert(rows(VersionedTable.readBranch(spark, loc, "exp")) ==
      Set((1, "a"), (9, "z"), (2, "b")))
    val pv = VersionedTable.publishBranch(spark, loc, "exp")
    assert(rows(VersionedTable.read(spark, loc)) ==
      Set((1, "a"), (9, "z"), (2, "b")))
    assert(pv == 3L)
    // an overwrite-staged branch refuses to rebase by name
    VersionedTable.createBranch(spark, loc, "ow")
    VersionedTable.branchCommit(spark, loc, "ow",
      Seq((5, "q")).toDF("k", "v"), "overwrite")
    VersionedTable.commit(spark, loc, Seq((6, "r")).toDF("k", "v"), "append")
    val e = intercept[graft.config.ConfigError](
      VersionedTable.rebaseBranch(spark, loc, "ow"))
    assert(e.getMessage.contains("non-append"))
    // the crash-safe rewrite leaves no temp-branch debris behind and the
    // branch namespace holds exactly the real names
    val logFiles = new java.io.File(s"$loc/_graft_log").listFiles().map(_.getName)
    assert(!logFiles.exists(_.contains("rebase-")),
      s"temp rebase manifests left behind: ${logFiles.mkString(", ")}")
    assert(VersionedTable.branches(spark, loc).toSet == Set("exp", "ow"))
  }

  test("CDC source drains: bootstrap + incremental, crash replay skipped by the txn sink, non-append refusal") {
    val loc = tmp("cdcsrc"); val ckpt = tmp("cdcsrc-ckpt"); val out = tmp("cdcsrc-out")
    VersionedTable.commit(spark, loc,
      Seq((1, "a"), (2, "b")).toDF("k", "v"), "overwrite")
    // exactly-once composition: each drained batch commits into a
    // versioned sink keyed (checkpoint id, toVersion)
    def drainToOut() = graft.streaming.Streams.drainVersionedChanges(
      spark, loc, ckpt) { (df, _, to) =>
      VersionedTable.commit(spark, out, df, "append",
        txn = Some((s"cdc:$ckpt", to))): Unit
    }
    def outRows = VersionedTable.read(spark, out).collect()
      .map(r => (r.getAs[Int]("k"), r.getAs[String]("v"),
        r.getAs[Long]("_commit_version"))).toSet
    assert(drainToOut() == Some((0L, 1L)), "bootstrap covers (0,1]")
    VersionedTable.commit(spark, loc, Seq((3, "c")).toDF("k", "v"), "append")
    assert(drainToOut() == Some((1L, 2L)), "incremental covers (1,2]")
    val expect = Set((1, "a", 1L), (2, "b", 1L), (3, "c", 2L))
    assert(outRows == expect)
    val outVersionsBefore = VersionedTable.versions(spark, out)
    // CRASH REPLAY: the offset write was lost — rewind it by hand; the
    // re-drain reprocesses (1,2] but the txn sink skips the replayed
    // commit, so nothing lands twice
    val offsetPath = new org.apache.hadoop.fs.Path(ckpt, "_graft_cdc_offset.json")
    val fs = offsetPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val os = fs.create(offsetPath, true)
    try os.write("""{"version":1}""".getBytes("UTF-8")) finally os.close()
    assert(drainToOut() == Some((1L, 2L)), "the replayed drain re-covers (1,2]")
    assert(outRows == expect, "replay must not duplicate rows")
    assert(VersionedTable.versions(spark, out) == outVersionsBefore,
      "the replayed commit must be a txn no-op")
    // up to date: nothing drains, the offset stays
    assert(drainToOut().isEmpty)
    // NON-APPEND history refuses by name (the changesBetween contract)
    VersionedTable.deleteWhere(spark, loc, "k = 1")
    val e = intercept[graft.config.ConfigError](drainToOut())
    assert(e.getMessage.contains("diffVersions"), e.getMessage)
  }

  test("CDC rate limit: maxVersionsPerDrain bounds every batch (bootstrap included) and the catch-up loop folds to the head") {
    val loc = tmp("cdcrate"); val ckpt = tmp("cdcrate-ckpt")
    VersionedTable.commit(spark, loc, Seq((1, "a")).toDF("k", "v"), "overwrite")
    VersionedTable.commit(spark, loc, Seq((2, "b")).toDF("k", "v"), "append")
    VersionedTable.commit(spark, loc, Seq((3, "c")).toDF("k", "v"), "append")
    VersionedTable.commit(spark, loc, Seq((4, "d")).toDF("k", "v"), "append")
    val seen = scala.collection.mutable.ArrayBuffer.empty[(Long, Long, Set[Int])]
    def drain() = graft.streaming.Streams.drainVersionedChanges(
      spark, loc, ckpt, maxVersionsPerDrain = Some(2)) { (df, from, to) =>
      seen += ((from, to, df.collect().map(_.getAs[Int]("k")).toSet))
    }
    // bounded BOOTSTRAP: the snapshot is taken AT v2, not the head
    assert(drain() == Some((0L, 2L)))
    assert(seen.last == ((0L, 2L, Set(1, 2))))
    // progression: the next drain advances the remaining two commits
    assert(drain() == Some((2L, 4L)))
    assert(seen.last == ((2L, 4L, Set(3, 4))))
    assert(drain().isEmpty, "caught up")
    // the quiescence loop on a fresh checkpoint: one commit per batch,
    // ranges in order, offset progression observable per batch
    val ckpt2 = tmp("cdcrate-ckpt2")
    val batches = scala.collection.mutable.ArrayBuffer.empty[Set[Int]]
    val ranges = graft.streaming.Streams.drainVersionedToQuiescence(
      spark, loc, ckpt2, maxVersionsPerDrain = Some(1)) { (df, _, _) =>
      batches += df.collect().map(_.getAs[Int]("k")).toSet
    }
    assert(ranges == Seq((0L, 1L), (1L, 2L), (2L, 3L), (3L, 4L)))
    assert(batches.toSeq == Seq(Set(1), Set(2), Set(3), Set(4)))
    // the floor is validated by name
    val bad = intercept[IllegalArgumentException] {
      graft.streaming.Streams.drainVersionedChanges(
        spark, loc, ckpt, maxVersionsPerDrain = Some(0))((_, _, _) => ())
    }
    assert(bad.getMessage.contains("maxVersionsPerDrain"))
  }

  test("CDC bytes bound: maxBytesPerDrain splits uneven commits, floors at one version, composes with the count bound") {
    val loc = tmp("cdcbytes"); val ckpt = tmp("cdcbytes-ckpt")
    // v1 small, v2 LARGE (5k wide rows), v3 + v4 small — the uneven
    // history a version-count bound cannot budget
    VersionedTable.commit(spark, loc, Seq((1, "a")).toDF("k", "v"), "overwrite")
    VersionedTable.commit(spark, loc,
      spark.range(1000, 6000).selectExpr("CAST(id AS INT) AS k",
        "repeat(CAST(id AS STRING), 20) AS v").coalesce(1), "append")
    VersionedTable.commit(spark, loc, Seq((2, "b")).toDF("k", "v"), "append")
    VersionedTable.commit(spark, loc, Seq((3, "c")).toDF("k", "v"), "append")
    val bytes = VersionedTable.history(spark, loc).collect()
      .map(r => (r.getAs[Long]("version"), r.getAs[Long]("total_bytes"))).toMap
    // budget = exactly the v3+v4 appended bytes: fits v1 alone (small),
    // NOT v1+v2; v2 alone exceeds it (floor drains it solo); v3+v4
    // fold into one batch
    val budget = bytes(4L) - bytes(2L)
    assert(bytes(1L) <= budget && bytes(2L) - bytes(1L) > budget,
      s"fixture precondition: $bytes, budget $budget")
    val counts = scala.collection.mutable.ArrayBuffer.empty[Long]
    val ranges = graft.streaming.Streams.drainVersionedToQuiescence(
      spark, loc, ckpt, maxBytesPerDrain = Some(budget)) { (df, _, _) =>
      counts += df.count()
    }
    assert(ranges == Seq((0L, 1L), (1L, 2L), (2L, 4L)), ranges.toString)
    assert(counts.toSeq == Seq(1L, 5000L, 2L), counts.toString)
    // both bounds compose: the tighter (count=1) head wins on the tail
    val ckpt2 = tmp("cdcbytes-ckpt2")
    val ranges2 = graft.streaming.Streams.drainVersionedToQuiescence(
      spark, loc, ckpt2, maxVersionsPerDrain = Some(1),
      maxBytesPerDrain = Some(budget))((_, _, _) => ())
    assert(ranges2 == Seq((0L, 1L), (1L, 2L), (2L, 3L), (3L, 4L)), ranges2.toString)
    // floor validated by name
    val bad = intercept[IllegalArgumentException] {
      graft.streaming.Streams.drainVersionedChanges(
        spark, loc, ckpt, maxBytesPerDrain = Some(0L))((_, _, _) => ())
    }
    assert(bad.getMessage.contains("maxBytesPerDrain"))
  }

  test("rebase crash recovery: a marker-decided rebase is finished by the next branch read; undecided debris expires") {
    // coordinator that delegates to the rename one but dies on its Nth
    // publish — replays the exact crash points of rebaseBranch's publish
    // sequence: temp fork (1), temp append CAS (2), commit marker (3),
    // real fork (4), real append (5)
    final class FailNth(n: Int) extends CommitCoordinator {
      private var count = 0
      def publish(fs: org.apache.hadoop.fs.FileSystem,
                  logDir: org.apache.hadoop.fs.Path,
                  dst: org.apache.hadoop.fs.Path,
                  content: Array[Byte]): Boolean = {
        count += 1
        if (count == n) throw new java.io.IOException("injected crash")
        RenameCommitCoordinator.publish(fs, logDir, dst, content)
      }
    }
    def logFiles(loc: String) =
      new java.io.File(s"$loc/_graft_log").listFiles().map(_.getName).toSeq
    val prev = VersionedTable.commitCoordinator

    // DECIDED crash: dies after the commit marker, before any real-name
    // publish — the old lineage is deleted and the branch would be
    // unreadable under its real name; the next read must finish the job
    val loc = tmp("br-crash")
    VersionedTable.commit(spark, loc, Seq((1, "a")).toDF("k", "v"), "overwrite")
    VersionedTable.createBranch(spark, loc, "exp")
    VersionedTable.branchCommit(spark, loc, "exp", Seq((2, "b")).toDF("k", "v"), "append")
    VersionedTable.commit(spark, loc, Seq((9, "z")).toDF("k", "v"), "append")
    VersionedTable.setCommitCoordinator(new FailNth(4))
    try intercept[java.io.IOException](VersionedTable.rebaseBranch(spark, loc, "exp"))
    finally VersionedTable.setCommitCoordinator(prev)
    assert(logFiles(loc).exists(_.startsWith(".rebase-commit-exp-")),
      "the decision marker must survive the crash")
    assert(rows(VersionedTable.readBranch(spark, loc, "exp")) ==
      Set((1, "a"), (9, "z"), (2, "b")),
      "the next branch read must adopt the decided lineage")
    assert(!logFiles(loc).exists(_.contains("rebase-")),
      s"recovery must clear all rebase debris: ${logFiles(loc)}")

    // mid-publish crash: real fork published, real append not — same
    // recovery, idempotent over the already-published half
    val loc2 = tmp("br-crash2")
    VersionedTable.commit(spark, loc2, Seq((1, "a")).toDF("k", "v"), "overwrite")
    VersionedTable.createBranch(spark, loc2, "exp")
    VersionedTable.branchCommit(spark, loc2, "exp", Seq((2, "b")).toDF("k", "v"), "append")
    VersionedTable.commit(spark, loc2, Seq((9, "z")).toDF("k", "v"), "append")
    VersionedTable.setCommitCoordinator(new FailNth(5))
    try intercept[java.io.IOException](VersionedTable.rebaseBranch(spark, loc2, "exp"))
    finally VersionedTable.setCommitCoordinator(prev)
    assert(rows(VersionedTable.readBranch(spark, loc2, "exp")) ==
      Set((1, "a"), (9, "z"), (2, "b")))
    assert(!logFiles(loc2).exists(_.contains("rebase-")))

    // UNDECIDED crash: dies writing the marker — the old branch is
    // intact by construction; the temp lineage is debris that expires
    // past the TTL, and a rerun of the rebase then succeeds
    val loc3 = tmp("br-crash3")
    VersionedTable.commit(spark, loc3, Seq((1, "a")).toDF("k", "v"), "overwrite")
    VersionedTable.createBranch(spark, loc3, "exp")
    VersionedTable.branchCommit(spark, loc3, "exp", Seq((2, "b")).toDF("k", "v"), "append")
    VersionedTable.commit(spark, loc3, Seq((9, "z")).toDF("k", "v"), "append")
    VersionedTable.setCommitCoordinator(new FailNth(3))
    try intercept[java.io.IOException](VersionedTable.rebaseBranch(spark, loc3, "exp"))
    finally VersionedTable.setCommitCoordinator(prev)
    // fresh debris is left alone (a live rebase may own it)
    assert(rows(VersionedTable.readBranch(spark, loc3, "exp")) == Set((1, "a"), (2, "b")),
      "an undecided rebase leaves the old branch intact")
    assert(logFiles(loc3).exists(_.contains("@exp.rebase-")))
    Thread.sleep(50)
    spark.conf.set("spark.graft.rebase.recovery.ttl.ms", "10")
    try {
      assert(rows(VersionedTable.readBranch(spark, loc3, "exp")) == Set((1, "a"), (2, "b")))
      assert(!logFiles(loc3).exists(_.contains("rebase-")),
        s"expired undecided debris must be cleared: ${logFiles(loc3)}")
    } finally spark.conf.unset("spark.graft.rebase.recovery.ttl.ms")
    VersionedTable.rebaseBranch(spark, loc3, "exp")
    assert(rows(VersionedTable.readBranch(spark, loc3, "exp")) ==
      Set((1, "a"), (9, "z"), (2, "b")))

    // HELPED race (r12 ADVICE): a concurrent branch READ runs recovery
    // on the marker-decided rebase and finishes it UNDER the live
    // rebase — publishing the real-name twins and deleting the tmp
    // manifests. The live rebase must adopt the helper's outcome
    // (missing tmp + published twin = already-published), not report
    // failure on a rebase that completed consistently.
    val loc4 = tmp("br-helped")
    VersionedTable.commit(spark, loc4, Seq((1, "a")).toDF("k", "v"), "overwrite")
    VersionedTable.createBranch(spark, loc4, "exp")
    VersionedTable.branchCommit(spark, loc4, "exp", Seq((2, "b")).toDF("k", "v"), "append")
    VersionedTable.commit(spark, loc4, Seq((9, "z")).toDF("k", "v"), "append")
    val sp = spark
    final class HelpOnRealPublish extends CommitCoordinator {
      @volatile private var helped = false
      def publish(fs: org.apache.hadoop.fs.FileSystem,
                  logDir: org.apache.hadoop.fs.Path,
                  dst: org.apache.hadoop.fs.Path,
                  content: Array[Byte]): Boolean = {
        if (!helped && dst.getName.matches("^v[0-9]+@exp\\.json$")) {
          helped = true // before the read: recovery publishes through us too
          VersionedTable.branchVersions(sp, loc4, "exp"): Unit
        }
        RenameCommitCoordinator.publish(fs, logDir, dst, content)
      }
    }
    VersionedTable.setCommitCoordinator(new HelpOnRealPublish)
    try {
      val v = VersionedTable.rebaseBranch(spark, loc4, "exp")
      assert(v == 2L, s"helped rebase must still report success, got v$v")
    } finally VersionedTable.setCommitCoordinator(prev)
    assert(rows(VersionedTable.readBranch(spark, loc4, "exp")) ==
      Set((1, "a"), (9, "z"), (2, "b")),
      "the helped rebase must leave the adopted lineage readable")
    assert(!logFiles(loc4).exists(_.contains("rebase-")),
      s"no rebase debris may survive the helped completion: ${logFiles(loc4)}")
  }

  test("LockFileCommitCoordinator: exactly one of N concurrent publishers wins a version") {
    // the coordinator restricts itself to overwrite-only-store primitives
    // (PUT to a unique key, LIST, EXISTS — never rename/create-if-absent),
    // so running it on the local FS IS the no-CAS-store simulation
    val loc = tmp("lockprim")
    val root = new org.apache.hadoop.fs.Path(loc)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val logDir = new org.apache.hadoop.fs.Path(root, "_graft_log")
    fs.mkdirs(logDir)
    val dst = new org.apache.hadoop.fs.Path(logDir, "v00001.json")
    val coord = new LockFileCommitCoordinator(30)
    val pool = java.util.concurrent.Executors.newFixedThreadPool(6)
    try {
      val wins = (1 to 6).map { i =>
        pool.submit(new java.util.concurrent.Callable[Boolean] {
          def call(): Boolean =
            coord.publish(fs, logDir, dst, s"""{"writer":$i}""".getBytes("UTF-8"))
        })
      }.map(_.get())
      assert(wins.count(identity) == 1, s"expected exactly one winner, got $wins")
      // the committed manifest is exactly one writer's full content
      val text = new String(org.apache.hadoop.io.IOUtils.readFullyToByteArray(
        fs.open(dst)), "UTF-8")
      assert(text.matches("""\{"writer":[1-6]\}"""), text)
    } finally pool.shutdown()
  }

  test("lockfile coordinator: a crashed writer's orphan intent expires with the lease") {
    val loc = tmp("lockleasing")
    val root = new org.apache.hadoop.fs.Path(loc)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val logDir = new org.apache.hadoop.fs.Path(root, "_graft_log")
    val dst = new org.apache.hadoop.fs.Path(logDir, "v00001.json")
    val intentDir = new org.apache.hadoop.fs.Path(logDir, ".intent-v00001.json")
    fs.mkdirs(intentDir)
    def plantIntent(ts: Long): Unit = {
      val os = fs.create(new org.apache.hadoop.fs.Path(intentDir,
        f"$ts%020d-deadbeef"), true)
      os.close()
    }
    val coord = new LockFileCommitCoordinator(settleMillis = 20, leaseMillis = 300)
    // a FRESH competing intent (crash not yet provable) blocks the win
    plantIntent(System.currentTimeMillis())
    assert(!coord.publish(fs, logDir, dst, "{}".getBytes("UTF-8")),
      "a live-looking smaller intent must win the election")
    // once it outlives the lease it is ignored AND garbage-collected,
    // so the table does not become permanently unwritable
    Thread.sleep(350)
    assert(coord.publish(fs, logDir, dst, """{"v":1}""".getBytes("UTF-8")),
      "an expired orphan intent must not block the version forever")
    assert(fs.exists(dst))
  }

  test("lockfile coordinator: two-writer commit race on a no-CAS store loses zero commits") {
    val loc = tmp("lockrace")
    val prev = VersionedTable.commitCoordinator
    VersionedTable.setCommitCoordinator(new LockFileCommitCoordinator(20))
    val pool = java.util.concurrent.Executors.newFixedThreadPool(4)
    try {
      VersionedTable.commit(spark, loc, Seq((0, "base")).toDF("k", "v"), "overwrite")
      // 8 concurrent appenders: every CAS loser must rebase and retry
      // until its rows land — an overwrite-PUT store without the
      // coordinator would let two writers clobber the same version
      val futures = (1 to 8).map { i =>
        pool.submit(new java.util.concurrent.Callable[Long] {
          def call(): Long = VersionedTable.commit(spark, loc,
            Seq((i, s"w$i")).toDF("k", "v"), "append", maxRetries = 60)
        })
      }
      val versions = futures.map(_.get()).sorted
      assert(versions == (2L to 9L), s"every writer must win a distinct version: $versions")
      assert(VersionedTable.versions(spark, loc) == (1L to 9L))
      assert(rows(VersionedTable.read(spark, loc)) ==
        (Set((0, "base")) ++ (1 to 8).map(i => (i, s"w$i"))),
        "zero commits lost under the race")
    } finally {
      pool.shutdown()
      VersionedTable.setCommitCoordinator(prev)
    }
  }

  test("restore: metadata-only rollback, DV carried, history preserved, vacuum-safe") {
    val loc = tmp("restore")
    VersionedTable.commit(spark, loc, Seq((1, "a"), (2, "b")).toDF("k", "v"), "overwrite")
    VersionedTable.deleteWhere(spark, loc, "k = 2") // v2 carries a DV
    VersionedTable.commit(spark, loc, Seq((9, "z")).toDF("k", "v"), "overwrite") // v3: the bad deploy
    val v = VersionedTable.restore(spark, loc, 2L)
    assert(v == 4L)
    // the restored head sees v2's content THROUGH its deletion vector
    assert(rows(VersionedTable.read(spark, loc)) == Set((1, "a")))
    // history preserved: the bad version stays time-travelable
    assert(rows(VersionedTable.read(spark, loc, asOf = Some(3L))) == Set((9, "z")))
    assert(VersionedTable.versions(spark, loc) == (1L to 4L))
    // restore-to-latest is a no-op, unknown version errors by name
    assert(VersionedTable.restore(spark, loc, 4L) == 4L)
    val e = intercept[graft.config.ConfigError](VersionedTable.restore(spark, loc, 99L))
    assert(e.getMessage.contains("99"))
    // vacuum keeps the restored head's (old) files: dropping history
    // below v4 must not reclaim what v4 references
    VersionedTable.vacuumVersions(spark, loc, 4L, minOrphanAgeMillis = 0L)
    assert(rows(VersionedTable.read(spark, loc)) == Set((1, "a")))
    assert(VersionedTable.versions(spark, loc) == Seq(4L))
  }

  test("updateWhere/deleteWhere: a nondeterministic predicate cannot desync the DV from the images") {
    val loc = tmp("nondet")
    val n = 400
    VersionedTable.commit(spark, loc,
      (1 to n).map(i => (i, "x")).toDF("k", "v"), "overwrite",
      options = Map.empty)
    // the matched set is pinned once (localCheckpoint) — without that,
    // the count, the DV positions, and the updated images would each
    // re-draw rand() and the "atomic" commit could lose/duplicate rows
    VersionedTable.updateWhere(spark, loc, "rand() < 0.5", Map("v" -> "'u'"))
    val after = VersionedTable.read(spark, loc)
    assert(after.count() == n.toLong, "update must preserve the row count")
    assert(after.select("k").distinct().count() == n.toLong,
      "every key must appear exactly once after a nondeterministic update")
    VersionedTable.deleteWhere(spark, loc, "rand() < 0.3")
    val live = VersionedTable.read(spark, loc)
    assert(live.select("k").distinct().count() == live.count(),
      "a nondeterministic delete must not duplicate surviving rows")
  }

  /** `body`'s result and the Spark jobs it started (jobs tagged with a
    * fresh job group, so no other thread's job is counted; the listener
    * bus is drained before the count is read). */
  private def jobsStarted[T](body: => T): (T, Int) = graft.JobCount.started(spark)(body)

  private def dataFiles(loc: String): Seq[String] =
    new java.io.File(s"$loc/data").listFiles().toSeq
      .filter(_.getName.endsWith(".parquet")).map(_.getPath).sorted

  test("opening a version starts no Spark job: read with a DV, asOf, readPruned, bookmarks") {
    val loc = tmp("nojob")
    VersionedTable.commit(spark, loc, Seq((1, "a"), (2, "b")).toDF("k", "v"),
      "overwrite", statsColumns = Seq("k"))
    VersionedTable.commit(spark, loc, Seq((3, "c")).toDF("k", "v"), "append",
      statsColumns = Seq("k"))
    VersionedTable.deleteWhere(spark, loc, "k = 2") // v3 carries a DV
    val (latest, j1) = jobsStarted(VersionedTable.read(spark, loc))
    val (asOf, j2) = jobsStarted(VersionedTable.read(spark, loc, asOf = Some(1L)))
    val (pruned, j3) = jobsStarted(VersionedTable.readPruned(spark, loc,
      Seq(VersionedTable.Prune("k", ">=", 3))))
    val bmDir = java.nio.file.Files.createTempDirectory("nojob-bm").toString
    Seq(7, 8).toDF("n").write.parquet(s"$bmDir/src")
    val store = new graft.bookmarks.BookmarkStore(spark, s"$bmDir/state.json")
    val plan = store.plan("s", s"$bmDir/src")
    val (bm, j4) = jobsStarted(store.read(plan, "parquet"))
    assert((j1, j2, j3, j4) == ((0, 0, 0, 0)))
    // the pinned frames read what they always read
    assert(rows(latest) == Set((1, "a"), (3, "c")))
    assert(rows(asOf) == Set((1, "a"), (2, "b")))
    assert(pruned.keptFiles == 1 && rows(pruned.df) == Set((3, "c")))
    assert(bm.as[Int].collect().sorted.toSeq == Seq(7, 8))
    // the counter sees jobs: an action counts
    assert(jobsStarted(latest.count())._2 > 0)
  }

  test("the pinned schema equals Spark's inferred schema, nullability included") {
    import org.apache.spark.sql.functions._
    import graft.sources.Sources
    val loc = tmp("pin")
    val df = spark.range(3).select(
      col("id"),
      (col("id") / 7).cast("decimal(38,10)").as("dec"),
      timestamp_seconds(col("id") * 86400).as("ts"),
      date_add(lit("2024-02-28").cast("date"), col("id").cast("int")).as("d"),
      col("id").cast("string").cast("binary").as("bin"),
      array(struct(col("id").as("a"), lit("x").as("b"))).as("arr"),
      map(lit("k"), col("id")).as("m"),
      struct(col("id").as("x"),
        struct(lit(1.5).as("y"), lit(null).cast("string").as("z")).as("inner")).as("nested"),
      lit(7).as("lit_not_null"))
    VersionedTable.commit(spark, loc, df, "overwrite")
    val files = dataFiles(loc)
    val inferred = spark.read.parquet(files: _*).schema
    assert(Sources.footerSchema(spark, "parquet", Map.empty, files).isDefined)
    assert(Sources.loadFiles(spark, "parquet", Map.empty, files).schema == inferred)
    assert(VersionedTable.read(spark, loc).schema == inferred)
    assert(Seq("dec", "ts", "d", "bin", "arr", "m", "nested")
      .forall(c => inferred.fieldNames.contains(c)))
  }

  test("pinned schema: files that disagree take Spark's first-file pick; mergeSchema merges") {
    val loc = tmp("pin-drift")
    val ms = Map("mergeSchema" -> "true")
    VersionedTable.commit(spark, loc, Seq((1, "a")).toDF("k", "v").coalesce(1), "overwrite")
    VersionedTable.commit(spark, loc,
      Seq((2, "b", 7L)).toDF("k", "v", "extra").coalesce(1), "append", options = ms)
    val files = dataFiles(loc)
    assert(files.size == 2)
    assert(spark.read.parquet(files.head).schema != spark.read.parquet(files.last).schema)
    // whichever order the list names them in, Spark infers from the
    // smallest path; the loader must pick the same file
    Seq(files, files.reverse).foreach { fs =>
      assert(graft.sources.Sources.loadFiles(spark, "parquet", Map.empty, fs).schema ==
        spark.read.parquet(fs: _*).schema)
    }
    assert(VersionedTable.read(spark, loc).schema == spark.read.parquet(files: _*).schema)
    // mergeSchema (option or session conf) and file-filter options take
    // the inference path
    assert(graft.sources.Sources.footerSchema(spark, "parquet", ms, files).isEmpty)
    assert(graft.sources.Sources.footerSchema(spark, "parquet",
      Map("pathGlobFilter" -> "*.parquet"), files).isEmpty)
    assert(VersionedTable.read(spark, loc, options = ms).schema ==
      spark.read.options(ms).parquet(files: _*).schema)
    spark.conf.set("spark.sql.parquet.mergeSchema", "true")
    try assert(graft.sources.Sources.footerSchema(spark, "parquet", Map.empty, files).isEmpty)
    finally spark.conf.unset("spark.sql.parquet.mergeSchema")
  }

  test("pinned schema: a footer without Spark's schema key falls back to inference") {
    import org.apache.parquet.example.data.simple.SimpleGroupFactory
    import org.apache.parquet.hadoop.example.ExampleParquetWriter
    import org.apache.parquet.hadoop.util.HadoopOutputFile
    val dir = java.nio.file.Files.createTempDirectory("pin-mr").toString
    val schema = org.apache.parquet.schema.MessageTypeParser.parseMessageType(
      "message m { required int64 id; optional binary name (UTF8); }")
    val conf = spark.sparkContext.hadoopConfiguration
    val path = new org.apache.hadoop.fs.Path(s"$dir/mr.parquet")
    val w = ExampleParquetWriter.builder(HadoopOutputFile.fromPath(path, conf))
      .withType(schema).withConf(conf).build()
    val groups = new SimpleGroupFactory(schema)
    try Seq(1L -> "one", 2L -> "two").foreach { case (i, n) =>
      w.write(groups.newGroup().append("id", i).append("name", n)) }
    finally w.close()
    val files = Seq(path.toString)
    assert(graft.sources.Sources.footerSchema(spark, "parquet", Map.empty, files).isEmpty)
    val df = graft.sources.Sources.loadFiles(spark, "parquet", Map.empty, files)
    assert(df.schema == spark.read.parquet(files: _*).schema)
    assert(df.as[(Long, String)].collect().toSet == Set(1L -> "one", 2L -> "two"))
  }

  test("pinned schema: a manifest naming a missing file still fails loudly") {
    val loc = tmp("pin-missing")
    VersionedTable.commit(spark, loc, Seq((1, "a")).toDF("k", "v").coalesce(1), "overwrite")
    VersionedTable.commit(spark, loc, Seq((2, "b")).toDF("k", "v").coalesce(1), "append")
    // either file missing: the one the footer is read from, or another
    dataFiles(loc).foreach { f =>
      val aside = java.nio.file.Paths.get(s"$f.aside")
      java.nio.file.Files.move(java.nio.file.Paths.get(f), aside)
      try {
        val e = intercept[org.apache.spark.sql.AnalysisException](
          VersionedTable.read(spark, loc))
        assert(e.getCondition == "PATH_NOT_FOUND", e.getMessage)
      } finally java.nio.file.Files.move(aside, java.nio.file.Paths.get(f))
    }
    assert(rows(VersionedTable.read(spark, loc)) == Set((1, "a"), (2, "b")))
  }

  test("only readDv and the loader open data files in VersionedTable and BookmarkStore") {
    // a DataFrameReader chain, however it is spelled across lines
    val Read = """\.\s*read\s*\.[^\n]*""".r
    def reads(path: String): Seq[String] =
      Read.findAllIn(graft.SourceCode.of(path)).toSeq
    // the DV sidecar has a fixed schema; an empty bookmark plan reads
    // only the location's schema, never data
    assert(reads("src/main/scala/graft/sinks/VersionedTable.scala") ==
      Seq(".read.schema(DvSchema).parquet(new Path(logDir(root), name).toString)"))
    assert(reads("src/main/scala/graft/bookmarks/Bookmarks.scala") ==
      Seq(".read.format(format).options(options).load(plan.location).filter(lit(false))"))
    // the scan sees a chain split over lines, and skips comments
    assert(Read.findAllIn(graft.SourceCode.withoutComments(
      "// spark.read.load(x)\nspark\n  .read\n  .parquet(p)")).size == 1)
  }

  test("manifest record: render writes the earlier writer's bytes, parse reads them back") {
    import VersionedTable.Manifest
    val odd = "q\"b\\c\nd\u007fe\u2028f"
    val full = Manifest(7L, Some(1792303409925L), "branch", Some((s"app-$odd", 42L)),
      Some("stats-ab12cd34.jsonl"), Some(("dv-ab12cd34", 3L)),
      Seq(("ab12cd34-part-00000.parquet", 456L), (s"part-$odd.parquet", 123L)))
    val bare = Manifest(1L, Some(1792303410062L), "overwrite", None, None, None, Nil)
    // the bytes the hand-built writer produced for these two manifests
    val fullBytes = """{"version":7,"ts":1792303409925,"mode":"branch","txn_app":"app-q\"b\\c\nd%u007fe%u2028f","txn_batch":42,"stats_file":"stats-ab12cd34.jsonl","dv_file":"dv-ab12cd34","dv_rows":3,"n_files":2,"files":[{"name":"ab12cd34-part-00000.parquet","bytes":456},{"name":"part-q\"b\\c\nd%u007fe%u2028f.parquet","bytes":123}]}"""
      .replace("%u", "\\u") // spelled %u: a triple-quoted literal decodes unicode escapes
    val bareBytes = """{"version":1,"ts":1792303410062,"mode":"overwrite","n_files":0,"files":[]}"""
    assert(fullBytes.forall(c => c >= ' ' && c < '\u007f'), "every escape stays ASCII text")
    assert(full.render == fullBytes)
    assert(bare.render == bareBytes)
    Seq(full, bare).foreach(m => assert(Manifest.parse(m.render) == m))
    // a new manifest lists its files in name order
    assert(Manifest.next(7L, "branch", full.files.reverse).files == full.files)
    // fields an older writer left out read with their old defaults
    assert(Manifest.parse("""{"version":2,"n_files":1,"files":[{"name":"a","bytes":5}]}""") ==
      Manifest(2L, None, "overwrite", None, None, None, Seq(("a", 5L))))
  }

  test("stats sidecar record: parse keeps every token's text, render writes the same bytes") {
    import VersionedTable.{ColStats, SidecarStats}
    // spelled %u: a triple-quoted literal decodes unicode escapes
    val golden = Seq(
      """{"name":"a.parquet","col":"k","min":-0.0,"max":1234567890123456789012345.5,"nulls":0}""",
      """{"name":"a.parquet","col":"n","min":1000,"max":-0.0000000000000000000000001,"nulls":0}""",
      """{"name":"a.parquet","col":"s","min":"\",\"max\":","max":"q\"b\\c\nd%u2028e","nulls":1}""",
      """{"name":"b.parquet","col":"k","min":null,"max":null,"nulls":3}""",
      """{"name":"b.parquet","col":"s","min":null,"max":null,"nulls":3}""",
      """{"name":"c%u2028.parquet","col":"s","min":"a%u000ab","max":"b","nulls":0}""",
      """{"name":"a.parquet","rows":4}""",
      """{"name":"b.parquet","rows":3}""",
      """{"name":"a.parquet","col":"k","buckets":"AAE="}""").map(_.replace("%u", "\\u"))
      .mkString("", "\n", "\n")
    val parsed = SidecarStats.parse(golden)
    assert(parsed == SidecarStats(
      cols = Seq(
        ("a.parquet", "k", ColStats("-0.0", "1234567890123456789012345.5", 0L)),
        ("a.parquet", "n", ColStats("1000", "-0.0000000000000000000000001", 0L)),
        ("a.parquet", "s", ColStats(graft.util.Json.str("\",\"max\":"),
          graft.util.Json.str("q\"b\\c\nd\u2028e"), 1L)),
        ("b.parquet", "k", ColStats("null", "null", 3L)),
        ("b.parquet", "s", ColStats("null", "null", 3L)),
        // an escape Json.str would not write comes back as written
        ("c\u2028.parquet", "s", ColStats("\"a\\u000ab\"", "\"b\"", 0L))),
      rows = Seq(("a.parquet", 4L), ("b.parquet", 3L)),
      sets = Seq(("a.parquet", "k", "AAE="))))
    assert(parsed.render == golden)
    // a torn or foreign line fails loudly rather than reading as no stats
    intercept[java.io.IOException](SidecarStats.parse("""{"name":"a.parquet","rows":"""))
    intercept[java.io.IOException](SidecarStats.parse("""[1,2]"""))
  }

  test("createBranch publishes its fork manifest through the commit coordinator") {
    val loc = tmp("br-coord")
    VersionedTable.commit(spark, loc, Seq((1, "a")).toDF("k", "v"), "overwrite")
    val published = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    final class Recording(win: Boolean) extends CommitCoordinator {
      def publish(fs: org.apache.hadoop.fs.FileSystem,
                  logDir: org.apache.hadoop.fs.Path,
                  dst: org.apache.hadoop.fs.Path,
                  content: Array[Byte]): Boolean = {
        published.add(dst.getName)
        win && RenameCommitCoordinator.publish(fs, logDir, dst, content)
      }
    }
    val prev = VersionedTable.commitCoordinator
    VersionedTable.setCommitCoordinator(new Recording(win = true))
    try VersionedTable.createBranch(spark, loc, "wap")
    finally VersionedTable.setCommitCoordinator(prev)
    assert(published.toArray.toSeq == Seq("v00001@wap.json"))
    assert(rows(VersionedTable.readBranch(spark, loc, "wap")) == Set((1, "a")))
    // a lost publish is a named race, and leaves no branch behind
    VersionedTable.setCommitCoordinator(new Recording(win = false))
    val e = try intercept[java.util.ConcurrentModificationException](
      VersionedTable.createBranch(spark, loc, "lost"))
    finally VersionedTable.setCommitCoordinator(prev)
    assert(e.getMessage.contains("creation raced"), e.getMessage)
    assert(VersionedTable.branches(spark, loc) == Seq("wap"))
  }

  test("each operation opens the head manifest once and its stats sidecar at most once") {
    val conf = spark.sparkContext.hadoopConfiguration
    CountingFileSystem.install(conf)
    try {
      val loc = s"${CountingFileSystem.Scheme}://" + tmp("opens")
      val k = Seq("k")
      // (opens of the head manifest, opens of any stats sidecar) during `op`
      def opens(op: => Any): (Int, Int) = {
        val head = f"v${VersionedTable.versions(spark, loc).last}%05d.json"
        CountingFileSystem.reset()
        op
        val o = CountingFileSystem.opens
        (o.getOrElse(head, 0), o.collect { case (n, c) if n.startsWith("stats-") => c }.sum)
      }
      VersionedTable.commit(spark, loc, (1 to 40).map(i => (i, s"v$i")).toDF("k", "v")
        .repartition(2), "overwrite", statsColumns = k)
      val counts = Seq(
        "commit append" -> opens(VersionedTable.commit(spark, loc,
          Seq((41, "n")).toDF("k", "v"), "append", statsColumns = k)),
        "merge" -> opens(VersionedTable.merge(spark, loc,
          Seq((1, "m"), (50, "x")).toDF("k", "v"), k, statsColumns = k)),
        "readPruned" -> opens(VersionedTable.readPruned(spark, loc,
          Seq(VersionedTable.Prune("k", "<=", 10)))),
        "deleteWhere" -> opens(VersionedTable.deleteWhere(spark, loc, "k <= 5")),
        "updateWhere" -> opens(VersionedTable.updateWhere(spark, loc, "k = 41",
          Map("v" -> "'u'"))),
        "compactDeletes" -> opens(VersionedTable.compactDeletes(spark, loc,
          minDeletedFraction = 0.01)))
      assert(counts.forall { case (_, (m, s)) => m == 1 && s <= 1 }, counts)
      // every operation did its work
      assert(VersionedTable.history(spark, loc).collect().map(_.getString(1)).toSeq ==
        Seq("overwrite", "append", "merge", "delete", "update", "compact_deletes"))
      assert(rows(VersionedTable.read(spark, loc)) ==
        (6 to 40).map(i => (i, s"v$i")).toSet ++ Set((41, "u"), (50, "x")))
    } finally CountingFileSystem.uninstall(conf)
  }

  test("VersionedTable reads its log only through the manifest record") {
    val src = graft.SourceCode.of("src/main/scala/graft/sinks/VersionedTable.scala")
    // no text scrape of a manifest; the stats sidecar's line regexes
    // match whole lines by extractor
    assert("findFirstMatchIn|findAllMatchIn|replaceFirst".r.findAllIn(src).isEmpty)
    // carried files take their recorded bytes: the one stat left is a
    // rebase temp manifest's age
    assert("""getFileStatus\([^)]*\)""".r.findAllIn(src).toSeq == Seq("getFileStatus(p)"))
    // one stats-sidecar write site, one schema-drift check
    assert("""writeStatsFile\(""".r.findAllIn(src).size == 2)
    assert("schema drift at".r.findAllIn(src).size == 1)
  }

  // ------------------------------------------------ the one-job write path

  /** The read-back stats query the in-task stats replaced, kept as their
    * oracle: `groupBy(input_file_name())` over the data files `names`,
    * rendered as the sidecar lines (zone maps, row counts, bitmaps for
    * integral and string columns), in sidecar order. */
  private def oracleSidecar(loc: String, names: Seq[String], cols: Seq[String]): Seq[String] = {
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.types._
    val df = spark.read.parquet(names.map(n => s"$loc/data/$n"): _*)
    val bitmapCols = cols.filter(c => df.schema(c).dataType match {
      case ByteType | ShortType | IntegerType | LongType | StringType => true
      case _ => false
    }).toSet
    val aggs = count(lit(1)).as("__rows") +: cols.flatMap(c => Seq(
      min(col(c)).as(s"__min_$c"), max(col(c)).as(s"__max_$c"),
      sum(when(col(c).isNull, 1L).otherwise(0L)).as(s"__nulls_$c")) ++
      (if (bitmapCols(c)) Seq(collect_set(pmod(hash(col(c).cast("string")), lit(4096)))
        .as(s"__set_$c")) else Nil))
    val got = df.groupBy(input_file_name().as("__file")).agg(aggs.head, aggs.tail: _*)
      .collect().toSeq.map(r => (new org.apache.hadoop.fs.Path(r.getAs[String]("__file")).getName, r))
    def str(x: String) = graft.util.Json.str(x)
    def bitmap(bs: Iterable[Int]) = {
      val bytes = new Array[Byte](512)
      bs.foreach(b => bytes(b >> 3) = (bytes(b >> 3) | (1 << (b & 7))).toByte)
      java.util.Base64.getEncoder.encodeToString(bytes)
    }
    got.flatMap { case (f, r) => cols.map { c =>
      ((f, c), s"""{"name":${str(f)},"col":${str(c)},"min":${VersionedTable.canonToken(r.getAs[Any](s"__min_$c"))},""" +
        s""""max":${VersionedTable.canonToken(r.getAs[Any](s"__max_$c"))},"nulls":${Option(r.getAs[Any](s"__nulls_$c")).fold(0L)(_.toString.toLong)}}""")
    } }.sortBy(_._1).map(_._2) ++
      got.sortBy(_._1).map { case (f, r) => s"""{"name":${str(f)},"rows":${r.getAs[Long]("__rows")}}""" } ++
      got.flatMap { case (f, r) => cols.filter(bitmapCols).map { c =>
        ((f, c), s"""{"name":${str(f)},"col":${str(c)},"buckets":${str(bitmap(r.getAs[Iterable[Int]](s"__set_$c")))}}""")
      } }.sortBy(_._1).map(_._2)
  }

  private def headManifest(loc: String): VersionedTable.Manifest = {
    val v = VersionedTable.versions(spark, loc).last
    VersionedTable.Manifest.parse(new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(f"$loc/_graft_log/v$v%05d.json")), "UTF-8"))
  }

  test("write path: the in-task sidecar equals the read-back stats query") {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types._
    val schema = StructType(Seq(
      StructField("b", ByteType), StructField("s", ShortType), StructField("i", IntegerType),
      StructField("l", LongType), StructField("f", FloatType), StructField("d", DoubleType),
      StructField("dec", DecimalType(10, 2)), StructField("str", StringType),
      StructField("dt", DateType), StructField("ts", TimestampType)))
    def row(n: Int, d: java.lang.Double, str: String) = Row(n.toByte, (n * 300).toShort, n * 70000,
      n * 5000000000L, n / 10.0f, d, java.math.BigDecimal.valueOf(n * 125L, 2), str,
      java.sql.Date.valueOf(java.time.LocalDate.of(2024, 1, 1).plusDays(n)),
      java.sql.Timestamp.from(java.time.Instant.ofEpochSecond(1700000000L + n * 3601L, n * 1000L)))
    val odd = "q\"b\\c\nd\u2028e"
    // three files: values with nulls and -0.0/0.0 in both orders;
    // negatives; one file where every column is null
    val parts = Seq(
      Seq(row(3, -0.0, odd), row(1, 0.0, "b"), Row.fromSeq(Seq.fill(10)(null)), row(7, 2.5, "a")),
      Seq(row(-4, 0.0, "zz"), row(-9, -0.0, odd + "x"), row(2, -1e300, "")),
      Seq(Row.fromSeq(Seq.fill(10)(null)), Row.fromSeq(Seq.fill(10)(null))))
    val df = spark.createDataFrame(spark.sparkContext.parallelize(parts, 3)
      .mapPartitions(_.flatten), schema)
    val loc = tmp("oracle")
    val cols = schema.fieldNames.toSeq
    VersionedTable.commit(spark, loc, df, "overwrite", statsColumns = cols)
    val m = headManifest(loc)
    assert(m.files.size == 3)
    val sidecar = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(s"$loc/_graft_log/${m.statsFile.get}")), "UTF-8")
    val expected = oracleSidecar(loc, m.names, cols)
    assert(expected.count(_.contains("\"buckets\"")) == 3 * 5, "the bitmap kinds got bitmaps")
    assert(sidecar.split('\n').toSeq == expected)
    // an append writes the new files' stats the same way, beside the
    // carried ones; an empty frame's file holds no rows and gets none
    VersionedTable.commit(spark, loc, df.limit(2).coalesce(1), "append", statsColumns = cols)
    VersionedTable.commit(spark, loc, df.limit(0), "append", statsColumns = cols)
    val m3 = headManifest(loc)
    val sidecar3 = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(s"$loc/_graft_log/${m3.statsFile.get}")), "UTF-8")
    assert(m3.files.size == 5)
    assert(sidecar3.split('\n').toSeq == oracleSidecar(loc, m3.names, cols))
    // NaN has no canonical token (the read-back query's tokens throw on
    // it): the commit records that file's bounds as unknown — its row
    // count, no zone map
    val nan = spark.createDataFrame(spark.sparkContext.parallelize(
      Seq(Row(1.0), Row(Double.NaN)), 1), StructType(Seq(StructField("d", DoubleType))))
    val nanLoc = tmp("oracle-nan")
    VersionedTable.commit(spark, nanLoc, nan, "overwrite", statsColumns = Seq("d"))
    assert(VersionedTable.versions(spark, nanLoc) == Seq(1L))
    val nanFile = headManifest(nanLoc).names.head
    assert(VersionedTable.fileStats(spark, nanLoc, 1L).isEmpty)
    assert(VersionedTable.fileRows(spark, nanLoc, 1L) == Map(nanFile -> 2L))
    intercept[NumberFormatException](oracleSidecar(nanLoc, Seq(nanFile), Seq("d")))
    // a stats column the frame lacks fails before any file is written
    val missLoc = tmp("oracle-miss")
    val e = intercept[graft.config.ConfigError](VersionedTable.commit(spark, missLoc,
      Seq((1, "a")).toDF("k", "v"), "overwrite", statsColumns = Seq("nope")))
    assert(e.getMessage.contains("stats columns nope not in the frame (has: k, v)"))
    assert(new java.io.File(s"$missLoc/data").list().isEmpty)
  }

  test("write path: data files go straight into data/ under final names, nothing staged") {
    val loc = tmp("final-names")
    VersionedTable.commit(spark, loc, (1 to 30).map(i => (i, s"v$i")).toDF("k", "v")
      .repartition(3), "overwrite", statsColumns = Seq("k"))
    VersionedTable.merge(spark, loc, Seq((2, "m")).toDF("k", "v"), Seq("k"), statsColumns = Seq("k"))
    val m = headManifest(loc)
    val FinalName = """[0-9a-f]{8}-part-[0-9]{5}-[0-9a-f-]{36}-c000\.snappy\.parquet""".r
    assert(m.names.forall(FinalName.pattern.matcher(_).matches()), m.names)
    // no stage dir, no committer leftovers at the root or in data/
    assert(new java.io.File(loc).list().toSet == Set("data", "_graft_log"))
    assert(new java.io.File(s"$loc/data").list().forall(n =>
      n.endsWith(".parquet") || n.endsWith(".parquet.crc")))
    // the recorded bytes are the files' sizes
    m.files.foreach { case (n, b) => assert(new java.io.File(s"$loc/data/$n").length == b) }
  }

  /** Every data file referenced by some main manifest of `loc`. */
  private def referenced(loc: String): Set[String] =
    new java.io.File(s"$loc/_graft_log").listFiles().toSeq
      .filter(f => f.getName.matches("v[0-9]+\\.json"))
      .flatMap(f => VersionedTable.Manifest.parse(new String(
        java.nio.file.Files.readAllBytes(f.toPath), "UTF-8")).names).toSet

  private def dataNames(loc: String): Set[String] =
    dataFiles(loc).map(p => new java.io.File(p).getName).toSet

  test("crash window: a task attempt failing mid-file leaves no file behind or referenced") {
    import org.apache.spark.sql.functions._
    val loc = tmp("crash-task")
    VersionedTable.commit(spark, loc, Seq((1, "a"), (2, "b")).toDF("k", "v"), "overwrite",
      statsColumns = Seq("k"))
    VersionedTable.commit(spark, loc, Seq((3, "c")).toDF("k", "v"), "append",
      statsColumns = Seq("k"))
    val before = (1L to 2L).map(v => rows(VersionedTable.read(spark, loc, asOf = Some(v))))
    val filesBefore = dataNames(loc)
    // one task: 2000 rows reach the writer, then the frame throws
    val boom = udf((k: Long) => { if (k == 2000L) throw new IllegalStateException("boom"); k })
    val failing = spark.range(0, 4000, 1, 1)
      .select(boom(col("id")).cast("int").as("k"), lit("x").as("v"))
    // the merge's arrivals are sound; its one write task fails mid-file
    val failOnWrite = (df: org.apache.spark.sql.DataFrame) =>
      df.coalesce(1).withColumn("k", boom(col("k").cast("long")).cast("int"))
    Seq("append" -> (() => VersionedTable.commit(spark, loc, failing, "append",
        statsColumns = Seq("k"))),
      "merge" -> (() => VersionedTable.merge(spark, loc,
        spark.range(0, 4000, 1, 1).select(col("id").cast("int").as("k"), lit("x").as("v")),
        Seq("k"), statsColumns = Seq("k"), publishTransform = failOnWrite))).foreach { case (what, op) =>
      val e = intercept[Exception](op())
      assert(Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
        .exists(x => String.valueOf(x.getMessage).contains("boom")), s"$what: $e")
    }
    assert(VersionedTable.versions(spark, loc) == Seq(1L, 2L))
    // the failed attempts deleted their partial files: data/ holds
    // exactly the committed files, every one of them referenced
    assert(dataNames(loc) == filesBefore && referenced(loc) == filesBefore)
    assert((1L to 2L).map(v => rows(VersionedTable.read(spark, loc, asOf = Some(v)))) == before)
  }

  test("crash window: a lost CAS leaves only unreferenced files; vacuum's age gate keeps then reclaims them") {
    val loc = tmp("crash-cas")
    VersionedTable.commit(spark, loc, (1 to 20).map(i => (i, s"v$i")).toDF("k", "v"),
      "overwrite", statsColumns = Seq("k"))
    VersionedTable.commit(spark, loc, Seq((30, "c")).toDF("k", "v"), "append",
      statsColumns = Seq("k"))
    val before = (1L to 2L).map(v => rows(VersionedTable.read(spark, loc, asOf = Some(v))))
    val committed = dataNames(loc)
    val losing = new CommitCoordinator {
      def publish(fs: org.apache.hadoop.fs.FileSystem, logDir: org.apache.hadoop.fs.Path,
                  dst: org.apache.hadoop.fs.Path, content: Array[Byte]): Boolean = false
    }
    val prev = VersionedTable.commitCoordinator
    VersionedTable.setCommitCoordinator(losing)
    try {
      intercept[java.util.ConcurrentModificationException](VersionedTable.merge(spark, loc,
        Seq((5, "m"), (40, "n")).toDF("k", "v"), Seq("k"), statsColumns = Seq("k")))
      intercept[java.io.IOException](VersionedTable.commit(spark, loc,
        Seq((50, "x")).toDF("k", "v"), "append", maxRetries = 2))
    } finally VersionedTable.setCommitCoordinator(prev)
    val orphans = dataNames(loc) -- committed
    assert(orphans.nonEmpty && (orphans & referenced(loc)).isEmpty)
    assert(VersionedTable.versions(spark, loc) == Seq(1L, 2L))
    assert((1L to 2L).map(v => rows(VersionedTable.read(spark, loc, asOf = Some(v)))) == before)
    // inside the age gate vacuum keeps them (a live writer's files look the same) ...
    val kept = VersionedTable.vacuumVersions(spark, loc, 1L)
    assert(!kept.exists(d => orphans.exists(o => d == s"data/$o")))
    assert(dataNames(loc) == committed ++ orphans)
    // ... past it, it reclaims exactly them
    val reclaimed = VersionedTable.vacuumVersions(spark, loc, 1L, minOrphanAgeMillis = 0L)
    assert(reclaimed.filter(_.startsWith("data/")).toSet == orphans.map(o => s"data/$o"))
    assert(dataNames(loc) == committed)
    assert((1L to 2L).map(v => rows(VersionedTable.read(spark, loc, asOf = Some(v)))) == before)
  }

  /** The Spark jobs `body` started (as [[jobsStarted]] counts them) and
    * how many of those wrote bytes, by their tasks' output metrics. */
  private def writeJobsStarted(body: => Any): (Int, Int) = {
    import org.apache.spark.scheduler._
    val sc = spark.sparkContext
    val group = s"writes-${java.util.UUID.randomUUID()}"
    val stageJob = new java.util.concurrent.ConcurrentHashMap[Int, Int]()
    val jobs = java.util.concurrent.ConcurrentHashMap.newKeySet[Int]()
    val writers = java.util.concurrent.ConcurrentHashMap.newKeySet[Int]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (Option(e.properties).exists(_.getProperty("spark.jobGroup.id") == group)) {
          jobs.add(e.jobId)
          e.stageIds.foreach(stageJob.put(_, e.jobId))
        }
      override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
        Option(stageJob.get(e.stageId)).foreach { j =>
          if (e.taskMetrics != null && e.taskMetrics.outputMetrics.bytesWritten > 0)
            writers.add(j): Unit
        }
    }
    sc.addSparkListener(listener)
    try {
      sc.setJobGroup(group, "writeJobsStarted")
      try body finally sc.clearJobGroup()
      org.apache.spark.GraftTestBus.drain(sc)
      (jobs.size, writers.size)
    } finally sc.removeSparkListener(listener)
  }

  test("one Spark job per versioned write: an append commit and a stats merge start one write job") {
    val k = Seq("k")
    def table(name: String) = {
      val loc = tmp(name)
      VersionedTable.commit(spark, loc, (1 to 20).map(i => (i, s"v$i")).toDF("k", "v")
        .coalesce(1), "overwrite", statsColumns = k)
      loc
    }
    val loc = table("onejob")
    // a local frame: its write is the only job the commit starts
    val append = writeJobsStarted(VersionedTable.commit(spark, loc,
      Seq((21, "a"), (22, "b")).toDF("k", "v"), "append", statsColumns = k))
    assert(append == ((1, 1)))
    // the merge's own queries (arrival bounds, the rewrite's join) run
    // either way; its zone maps add no job, and one job writes
    val arrivals = Seq((3, "m"), (25, "n")).toDF("k", "v")
    val (withLoc, withoutLoc) = (table("onejob-s"), table("onejob-n"))
    val withStats = writeJobsStarted(VersionedTable.merge(spark, withLoc,
      arrivals, k, statsColumns = k))
    val without = writeJobsStarted(VersionedTable.merge(spark, withoutLoc, arrivals, k))
    assert(withStats._2 == 1 && withStats == without, (withStats, without))
  }

  /** Subprocesses started while `body` ran whose stack passes through
    * graft code (a JFR recording of `jdk.ProcessStart`); a truncated
    * stack on the calling thread counts too, as it may hide a graft
    * frame. */
  private def forksFromGraft(body: => Any): Int = {
    import scala.jdk.CollectionConverters._
    val rec = new jdk.jfr.Recording()
    rec.enable("jdk.ProcessStart").withStackTrace()
    val caller = Thread.currentThread().getId
    rec.start()
    try body finally rec.stop()
    val out = java.nio.file.Files.createTempFile("forks", ".jfr")
    try {
      rec.dump(out)
      jdk.jfr.consumer.RecordingFile.readAllEvents(out).asScala.count { e =>
        val st = Option(e.getStackTrace)
        st.exists(_.getFrames.asScala.exists(_.getMethod.getType.getName.startsWith("graft."))) ||
          (st.forall(_.isTruncated) && Option(e.getThread).exists(_.getJavaThreadId == caller))
      }
    } finally { rec.close(); java.nio.file.Files.deleteIfExists(out): Unit }
  }

  test("no subprocess from graft code: append commit, merge without DV, bookmark plan + commit") {
    val k = Seq("k")
    val loc = tmp("forks")
    val bmDir = java.nio.file.Files.createTempDirectory("forks-bm").toString
    val store = new graft.bookmarks.BookmarkStore(spark, s"$bmDir/_bookmarks/state.json")
    var n = 0
    def landFile(): Unit = {
      n += 1
      Seq(n).toDF("n").coalesce(1).write.parquet(s"$bmDir/landing/batch-$n")
    }
    // a second table takes the deletes: each deletes one row, and each
    // merge over its DV claims one more (under the 0.3 rewrite fraction)
    val dvLoc = tmp("forks-dv")
    var d = 0
    val ops = Seq[(String, () => Any)](
      "append commit" -> (() => VersionedTable.commit(spark, loc,
        Seq((100 + n, "a")).toDF("k", "v"), "append", statsColumns = k)),
      "merge" -> (() => VersionedTable.merge(spark, loc,
        Seq((1, "m"), (200 + n, "x")).toDF("k", "v"), k, statsColumns = k)),
      "deleteWhere" -> { () => d += 1; VersionedTable.deleteWhere(spark, dvLoc, s"k = $d") },
      "merge over a DV" -> (() => VersionedTable.merge(spark, dvLoc,
        Seq((20 - d, "m"), (300 + d, "x")).toDF("k", "v"), k, statsColumns = k)),
      "bookmark plan + commit" -> (() => store.commit(store.plan("src", s"$bmDir/landing"))))
    Seq(loc, dvLoc).foreach(l => VersionedTable.commit(spark, l,
      (1 to 20).map(i => (i, s"v$i")).toDF("k", "v").coalesce(1), "overwrite", statsColumns = k))
    val seedFile = headManifest(dvLoc).names.head
    // once untraced: one-time class initialisation may start processes
    landFile(); ops.foreach(_._2())
    landFile(); landFile()
    val forks = ops.map { case (what, op) => what -> forksFromGraft(op()) }
    assert(forks.forall(_._2 == 0), forks)
    // the DV route ran: every merge over the DV claimed its row into it
    val dvHead = headManifest(dvLoc)
    assert(dvHead.names.contains(seedFile) && dvHead.dv.map(_._2).contains(4L), dvHead)
    assert(rows(VersionedTable.read(spark, dvLoc)).map(_._1) ==
      (3 to 20).toSet ++ Set(301, 302))
    // the recorder does see graft-started subprocesses: without the
    // native library, Hadoop's local create runs chmod
    if (!org.apache.hadoop.util.NativeCodeLoader.isNativeCodeLoaded) {
      val local = org.apache.hadoop.fs.FileSystem.getLocal(spark.sparkContext.hadoopConfiguration)
      assert(forksFromGraft(local.create(new org.apache.hadoop.fs.Path(s"$bmDir/probe"), true)
        .close()) > 0)
    }
  }

  test("rename coordinator: two writers racing for one version on a local disk, one winner every round") {
    val fs = org.apache.hadoop.fs.FileSystem.getLocal(spark.sparkContext.hadoopConfiguration)
    val logDir = new org.apache.hadoop.fs.Path(
      java.nio.file.Files.createTempDirectory("cas-race").toUri)
    val coord = VersionedTable.commitCoordinator
    assert(coord eq RenameCommitCoordinator)
    val pool = java.util.concurrent.Executors.newFixedThreadPool(2)
    try {
      val badRounds = (1 to 200).filterNot { round =>
        val dst = new org.apache.hadoop.fs.Path(logDir, f"v$round%05d.json")
        val barrier = new java.util.concurrent.CyclicBarrier(2)
        val results = (0 until 2).map { w =>
          pool.submit(new java.util.concurrent.Callable[Boolean] {
            def call(): Boolean = {
              barrier.await()
              coord.publish(fs, logDir, dst, s"writer-$w".getBytes("UTF-8"))
            }
          })
        }.map(_.get)
        val content = new String(java.nio.file.Files.readAllBytes(
          java.nio.file.Paths.get(dst.toUri)), "UTF-8")
        results.count(identity) == 1 && content == s"writer-${results.indexOf(true)}"
      }
      assert(badRounds.isEmpty, s"rounds without exactly one winner: $badRounds")
      // nothing but the published versions is left behind
      assert(new java.io.File(logDir.toUri).list().toSeq.sorted ==
        (1 to 200).map(r => f"v$r%05d.json"))
    } finally pool.shutdown()
  }

  test("txn check: one manifest open for a txn commit after 20 other-app commits") {
    val conf = spark.sparkContext.hadoopConfiguration
    CountingFileSystem.install(conf)
    try {
      val loc = s"${CountingFileSystem.Scheme}://" + tmp("txn-opens")
      val df = Seq((1, "a")).toDF("k", "v")
      VersionedTable.commit(spark, loc, df, "overwrite")
      (1 to 20).foreach(b => VersionedTable.commit(spark, loc, df, "append", txn = Some(("other", b))))
      def manifestOpens(op: => Long): (Long, Int) = {
        CountingFileSystem.reset()
        val v = op
        (v, CountingFileSystem.opens.collect { case (n, c) if n.matches("v[0-9]+\\.json") => c }.sum)
      }
      assert(manifestOpens(VersionedTable.commit(spark, loc, df, "append",
        txn = Some(("mine", 1L)))) == ((22L, 1)))
      // replays answer from the head's map: the version that holds the batch
      assert(manifestOpens(VersionedTable.commit(spark, loc, df, "append",
        txn = Some(("mine", 1L)))) == ((22L, 1)))
      assert(manifestOpens(VersionedTable.commit(spark, loc, df, "append",
        txn = Some(("other", 5L)))) == ((21L, 1)))
      assert(VersionedTable.versions(spark, loc).last == 22L)
    } finally CountingFileSystem.uninstall(conf)
  }

  test("manifest record: the txns map renders, parses and carries forward") {
    import VersionedTable.Manifest
    val odd = "q\"b\\c\nd\u007fe\u2028f"
    val m = Manifest(8L, Some(1792303411000L), "append", Some((s"app-$odd", 43L)), None, None,
      Seq(("ab12cd34-part-00000.parquet", 456L)),
      Some(Map(s"app-$odd" -> ((43L, 8L)), "other" -> ((2L, 5L)))))
    val bytes = """{"version":8,"ts":1792303411000,"mode":"append","txn_app":"app-q\"b\\c\nd%u007fe%u2028f","txn_batch":43,"txns":{"app-q\"b\\c\nd%u007fe%u2028f":[43,8],"other":[2,5]},"n_files":1,"files":[{"name":"ab12cd34-part-00000.parquet","bytes":456}]}"""
      .replace("%u", "\\u")
    assert(m.render == bytes)
    assert(Manifest.parse(bytes) == m)
    val empty = m.copy(txn = None, txns = Some(Map.empty))
    assert(empty.render.contains(""""mode":"append","txns":{},"n_files":1"""))
    assert(Manifest.parse(empty.render) == empty)
    // a new manifest carries its parent's map plus its own txn
    assert(Manifest.next(9L, "append", Nil, txn = Some(("other", 3L)), carried = m.txns.get).txns ==
      Some(Map(s"app-$odd" -> ((43L, 8L)), "other" -> ((3L, 9L)))))
    assert(Manifest.next(9L, "merge", Nil).txns == Some(Map.empty))
  }

  test("manifests written before the txns map keep the walk; the next commit carries the full map") {
    val loc = tmp("txn-legacy")
    val df = Seq((1, "a")).toDF("k", "v")
    VersionedTable.commit(spark, loc, df, "overwrite", txn = Some(("a", 1L)))
    VersionedTable.commit(spark, loc, df, "append", txn = Some(("b", 7L)))
    VersionedTable.commit(spark, loc, df, "append")
    // rewrite the log as the earlier writer left it: no txns field
    (1L to 3L).foreach { v =>
      val f = java.nio.file.Paths.get(f"$loc/_graft_log/v$v%05d.json")
      val m = VersionedTable.Manifest.parse(new String(java.nio.file.Files.readAllBytes(f), "UTF-8"))
      java.nio.file.Files.write(f, m.copy(txns = None).render.getBytes("UTF-8"))
    }
    assert(headManifest(loc).txns.isEmpty)
    // the replay checks walk back to the older manifests' own txns
    assert(VersionedTable.commit(spark, loc, df, "append", txn = Some(("a", 1L))) == 1L)
    assert(VersionedTable.commit(spark, loc, df, "append", txn = Some(("b", 7L))) == 2L)
    assert(VersionedTable.commit(spark, loc, df, "append", txn = Some(("c", 1L))) == 4L)
    assert(headManifest(loc).txns == Some(Map("a" -> ((1L, 1L)), "b" -> ((7L, 2L)),
      "c" -> ((1L, 4L)))))
    assert(VersionedTable.commit(spark, loc, df, "append", txn = Some(("b", 6L))) == 2L)
  }
}
