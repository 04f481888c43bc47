package graft.util

import java.nio.file.{StandardCopyOption, Files => NioFiles}

import org.apache.hadoop.fs.{ChecksumFileSystem, FileContext, FileStatus, FileSystem, Options, Path}

/** Small-file writes and listings that run no subprocess. Without
  * Hadoop's native library its local file system sets every created
  * file's permission by running `chmod`, resolves `FileContext` renames
  * with `readlink`, and reads a listed file's owner with `ls -ld` —
  * milliseconds each. On `file:` these helpers go through `java.nio`
  * instead; every other scheme keeps the Hadoop call. Files written here
  * get no `.crc` sidecar, and a stale one is removed, so Hadoop's
  * checksummed reader reads them unverified rather than against an old
  * checksum. */
object Fs {

  def isLocal(fs: FileSystem): Boolean = fs.getUri.getScheme == "file"

  /** `p` on the local disk. */
  def local(fs: FileSystem, p: Path): java.nio.file.Path =
    java.nio.file.Paths.get(fs.makeQualified(p).toUri)

  private def dropChecksum(fs: FileSystem, p: Path): Unit = fs match {
    case c: ChecksumFileSystem => NioFiles.deleteIfExists(local(fs, c.getChecksumFile(p))): Unit
    case _ => ()
  }

  /** Write `bytes` as the whole of `p`, replacing what is there. Not
    * atomic: for files no reader sees until something references them. */
  def write(fs: FileSystem, p: Path, bytes: Array[Byte]): Unit =
    if (isLocal(fs)) {
      val f = local(fs, p)
      NioFiles.createDirectories(f.getParent)
      dropChecksum(fs, p)
      NioFiles.write(f, bytes): Unit
    } else {
      val os = fs.create(p, true)
      try os.write(bytes) finally os.close()
    }

  /** Replace `p` with `bytes` atomically: a reader (or a crash) sees the
    * old content or the new, never a torn file. Writes a temp sibling,
    * then renames it over `p`. */
  def replace(fs: FileSystem, p: Path, bytes: Array[Byte]): Unit = {
    val tmp = new Path(p.getParent,
      s".${p.getName}.tmp-${java.util.UUID.randomUUID().toString.take(8)}")
    try {
      write(fs, tmp, bytes)
      if (isLocal(fs)) {
        dropChecksum(fs, p)
        NioFiles.move(local(fs, tmp), local(fs, p), StandardCopyOption.ATOMIC_MOVE,
          StandardCopyOption.REPLACE_EXISTING): Unit
      } else FileContext.getFileContext(p.toUri, fs.getConf)
        .rename(tmp, p, Options.Rename.OVERWRITE)
    } catch { case e: Throwable =>
      try fs.delete(tmp, false) catch { case _: java.io.IOException => () }
      throw e
    }
  }

  /** Every file under `root` (`root` itself when it is a file), by
    * `listStatus` — the listing `listFiles(root, true)` returns, without
    * the per-file permission, owner and group reads located statuses
    * make. */
  def leafFiles(fs: FileSystem, root: Path): Seq[FileStatus] = {
    val out = Seq.newBuilder[FileStatus]
    def walk(p: Path): Unit = fs.listStatus(p).foreach { st =>
      if (st.isDirectory) walk(st.getPath) else out += st
    }
    walk(root)
    out.result()
  }
}
