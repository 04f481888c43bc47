package graft.bookmarks

import graft.SparkSpec

class BookmarksSpec extends SparkSpec {
  import spark.implicits._

  private def setup(): (BookmarkStore, String, java.nio.file.Path) = {
    val tmp = java.nio.file.Files.createTempDirectory("bm-spec")
    (new BookmarkStore(spark, s"$tmp/state.json"), s"$tmp/src", tmp)
  }

  private def writeFile(dir: String, name: String, rows: Seq[Int], mtime: Long): Unit = {
    val sub = java.nio.file.Files.createTempDirectory("bm-stage")
    rows.toDF("n").coalesce(1).write.mode("overwrite").parquet(sub.toString)
    val part = new java.io.File(sub.toString).listFiles()
      .find(_.getName.endsWith(".parquet")).get
    val dst = java.nio.file.Paths.get(dir, name)
    java.nio.file.Files.createDirectories(dst.getParent)
    java.nio.file.Files.copy(part.toPath, dst,
      java.nio.file.StandardCopyOption.REPLACE_EXISTING)
    dst.toFile.setLastModified(mtime)
    ()
  }

  test("plan → read → commit; second plan sees only newer files") {
    val (store, src, _) = setup()
    writeFile(src, "a.parquet", Seq(1, 2), 1000000L)
    val p1 = store.plan("s1", src)
    assert(p1.files.size == 1 && store.read(p1, "parquet").count() == 2)
    store.commit(p1)
    writeFile(src, "b.parquet", Seq(3), 2000000L)
    val p2 = store.plan("s1", src)
    assert(p2.files.size == 1 && p2.files.head.endsWith("b.parquet"))
    assert(store.read(p2, "parquet").as[Int].collect().toSeq == Seq(3))
  }

  test("uncommitted plan reprocesses; empty plan reads zero rows with schema") {
    val (store, src, _) = setup()
    writeFile(src, "a.parquet", Seq(1), 1000000L)
    val p1 = store.plan("s1", src)   // never committed
    assert(store.plan("s1", src).files == p1.files) // same files again
    store.commit(p1)
    val empty = store.plan("s1", src)
    assert(empty.files.isEmpty)
    val df = store.read(empty, "parquet")
    assert(df.columns.toSeq == Seq("n") && df.count() == 0)
  }

  test("files under hidden DIRECTORIES are ignored (committer temp dirs)") {
    val (store, src, _) = setup()
    writeFile(src, "a.parquet", Seq(1), 1000000L)
    writeFile(s"$src/_temporary/0", "part-00000.parquet", Seq(9), 9000000L)
    writeFile(s"$src/.staging", "part-00001.parquet", Seq(9), 9000000L)
    val p = store.plan("s1", src)
    assert(p.files.size == 1 && p.files.head.endsWith("a.parquet"))
    assert(p.newWatermark == 1000000L) // in-flight mtimes must not advance it
  }

  test("missing location is an empty plan; truly-empty read is a named error") {
    val (store, src, _) = setup()
    val p = store.plan("s1", src) // src directory never created
    assert(p.files.isEmpty)
    val e = intercept[graft.config.ConfigError](store.read(p, "parquet"))
    assert(e.getMessage.contains("s1") && e.getMessage.contains(src))
  }

  test("late-landing file inside the grace window is read once, not zero or twice") {
    val (store, src, _) = setup()
    // run 1 sees only a.parquet (mtime T); commit lags the watermark
    writeFile(src, "a.parquet", Seq(1), 1000000L)
    val p1 = store.plan("s1", src)
    store.commit(p1)
    // b.parquet becomes visible AFTER the run-1 listing, with an mtime
    // slightly OLDER than the planned max (slow upload / committer
    // rename) — the pre-fix bare watermark would drop it forever
    writeFile(src, "b.parquet", Seq(2), 999000L)
    val p2 = store.plan("s1", src)
    assert(p2.files.size == 1 && p2.files.head.endsWith("b.parquet"))
    store.commit(p2)
    // and it is deduped by path afterwards: nothing to read on run 3
    assert(store.plan("s1", src).files.isEmpty)
  }

  test("file rewritten in place inside the grace window is reprocessed once") {
    val (store, src, _) = setup()
    writeFile(src, "a.parquet", Seq(1), 1000000L)
    val p1 = store.plan("s1", src)
    store.commit(p1) // watermark lags; a.parquet sits in the seen-set
    // the producer overwrites the SAME path with new data and a newer
    // mtime — path-only dedup would skip it forever (no other arrivals
    // ever advance the watermark past it)
    writeFile(src, "a.parquet", Seq(7, 8), 1010000L)
    val p2 = store.plan("s1", src)
    assert(p2.files.size == 1 && p2.files.head.endsWith("a.parquet"))
    assert(store.read(p2, "parquet").as[Int].collect().sorted.toSeq == Seq(7, 8))
    store.commit(p2)
    // seen mtime advanced with the commit: unchanged file → nothing new
    assert(store.plan("s1", src).files.isEmpty)
  }

  test("legacy flat {source: millis} state files still load") {
    val (store, src, tmp) = setup()
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(s"$tmp/state.json"), """{"s1": 1500000}""")
    writeFile(src, "old.parquet", Seq(1), 1000000L)
    writeFile(src, "new.parquet", Seq(2), 2000000L)
    val p = store.plan("s1", src)
    assert(p.files.size == 1 && p.files.head.endsWith("new.parquet"))
  }

  test("hidden and _SUCCESS files are ignored; watermarks are per-source") {
    val (store, src, _) = setup()
    writeFile(src, "a.parquet", Seq(1), 1000000L)
    writeFile(src, "_SUCCESS", Seq(1), 9000000L)
    writeFile(src, ".hidden.parquet", Seq(1), 9000000L)
    assert(store.plan("s1", src).files.size == 1)
    store.commit(store.plan("s1", src))
    assert(store.plan("other-source", src).files.size == 1) // independent watermark
  }

  test("file names with control characters survive the state file") {
    val (store, src, tmp) = setup()
    // all inside the grace window: every path lands in the seen-set
    Seq("plain.parquet", "ctl\u0001.parquet", "new\nline.parquet")
      .foreach(n => writeFile(src, n, Seq(1), 1000000L))
    val p1 = store.plan("s1", src)
    assert(p1.files.size == 3)
    store.commit(p1)
    val fresh = new BookmarkStore(spark, s"$tmp/state.json")
    assert(fresh.load()("s1").seen.keySet == p1.files.toSet)
    assert(fresh.plan("s1", src).files.isEmpty)
  }

  /** A landing layout with nested and hidden directories and files;
    * plan lists files only, so their bytes need not be parquet. */
  private def layout(src: String): Unit =
    Seq("a.parquet", "x/b.parquet", "x/y/c.parquet", "x/y/z/d.parquet",
      "_temporary/0/e.parquet", ".staging/f.parquet", "x/_tmp/g.parquet", "x/.h/y/h.parquet",
      "x/_SUCCESS", "x/.i.parquet", "x/y/_j", "k.parquet").zipWithIndex.foreach { case (n, i) =>
      val f = java.nio.file.Paths.get(src, n)
      java.nio.file.Files.createDirectories(f.getParent)
      java.nio.file.Files.write(f, Array[Byte](1, 2, 3))
      f.toFile.setLastModified(1000000L + i * 1000L)
    }

  test("plans are unchanged for nested and hidden layouts") {
    val (store, src, _) = setup()
    layout(src)
    // the listing the plan used to take: recursive located statuses,
    // minus anything under a hidden path component below the root
    val fs = new org.apache.hadoop.fs.Path(src).getFileSystem(spark.sparkContext.hadoopConfiguration)
    val root = fs.makeQualified(new org.apache.hadoop.fs.Path(src))
    val it = fs.listFiles(root, true)
    val reference = Map.newBuilder[String, Long]
    while (it.hasNext) {
      val st = it.next()
      val below = st.getPath.toString.stripPrefix(root.toString).split('/').filter(_.nonEmpty)
      if (!below.exists(c => c.startsWith("_") || c.startsWith(".")))
        reference += st.getPath.toString -> st.getModificationTime
    }
    val p = store.plan("s1", src)
    assert(p.planned == reference.result())
    assert(p.files.map(_.stripPrefix(root.toString)) ==
      Seq("/a.parquet", "/k.parquet", "/x/b.parquet", "/x/y/c.parquet", "/x/y/z/d.parquet"))
    assert(p.newWatermark == 1000000L + 11 * 1000L)
  }

  test("plan reads no file's permission, owner or group") {
    val conf = spark.sparkContext.hadoopConfiguration
    PermissionCountingFileSystem.install(conf)
    try {
      val (store, src, _) = setup()
      layout(src)
      PermissionCountingFileSystem.reads.set(0)
      val p = store.plan("s1", s"${PermissionCountingFileSystem.Scheme}://$src")
      assert(p.files.size == 5)
      assert(PermissionCountingFileSystem.reads.get == 0)
    } finally PermissionCountingFileSystem.uninstall(conf)
  }

  test("a save that dies mid-write leaves the previous state loadable") {
    val conf = spark.sparkContext.hadoopConfiguration
    FailingWriteFileSystem.install(conf)
    try {
      val (_, src, tmp) = setup()
      val stateDir = java.nio.file.Files.createDirectories(tmp.resolve("state"))
      val store = new BookmarkStore(spark, s"${FailingWriteFileSystem.Scheme}://$stateDir/state.json")
      layout(src)
      store.commit(store.plan("s1", src))
      val before = store.load()
      assert(before("s1").seen.size == 5)
      java.nio.file.Files.write(java.nio.file.Paths.get(src, "late.parquet"), Array[Byte](1))
      val next = store.plan("s1", src)
      assert(next.files.size == 1)
      FailingWriteFileSystem.failAfter = 20
      try intercept[java.io.IOException](store.commit(next))
      finally FailingWriteFileSystem.failAfter = -1
      assert(store.load() == before)
      assert(stateDir.toFile.list().toSeq == Seq("state.json"), "the failed temp file is gone")
      // the next save goes through
      store.commit(next)
      assert(store.load() != before && store.plan("s1", src).files.isEmpty)
    } finally FailingWriteFileSystem.uninstall(conf)
  }
}
