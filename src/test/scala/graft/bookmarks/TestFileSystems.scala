package graft.bookmarks

import java.net.URI
import java.util.concurrent.atomic.AtomicLong

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs._
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.hadoop.util.Progressable

/** The raw local file system answering to `scheme`. */
class SchemedLocal(scheme: String) extends RawLocalFileSystem {
  override def getUri: URI = URI.create(s"$scheme:///")
}

/** The local file system under `permcount://`, whose file statuses count
  * reads of their permission, owner and group — what building a
  * `LocatedFileStatus` does, and what costs an `ls -ld` subprocess per
  * file on Hadoop's local file system. */
class PermissionCountingFileSystem extends FilterFileSystem(new SchemedLocal("permcount")) {
  import PermissionCountingFileSystem.reads

  private def counting(st: FileStatus): FileStatus =
    new FileStatus(st.getLen, st.isDirectory, st.getReplication, st.getBlockSize,
      st.getModificationTime, st.getPath) {
      override def getPermission: FsPermission = { reads.incrementAndGet(); st.getPermission }
      override def getOwner: String = { reads.incrementAndGet(); st.getOwner }
      override def getGroup: String = { reads.incrementAndGet(); st.getGroup }
    }

  override def listStatus(f: Path): Array[FileStatus] = super.listStatus(f).map(counting)
  override def getFileStatus(f: Path): FileStatus = counting(super.getFileStatus(f))

  // as FileSystem's own default: a located status per listed one
  override def listLocatedStatus(f: Path): RemoteIterator[LocatedFileStatus] = {
    val it = listStatus(f).iterator
    new RemoteIterator[LocatedFileStatus] {
      def hasNext: Boolean = it.hasNext
      def next(): LocatedFileStatus = {
        val st = it.next()
        new LocatedFileStatus(st,
          if (st.isFile) getFileBlockLocations(st, 0, st.getLen) else null)
      }
    }
  }
}

object PermissionCountingFileSystem {
  val Scheme = "permcount"
  val reads = new AtomicLong

  def install(conf: Configuration): Unit =
    conf.set(s"fs.$Scheme.impl", classOf[PermissionCountingFileSystem].getName)
  def uninstall(conf: Configuration): Unit = conf.unset(s"fs.$Scheme.impl")
}

/** The local file system under `failwrite://`, whose created files fail
  * after [[FailingWriteFileSystem.failAfter]] bytes once it is set >= 0:
  * a writer dying mid-file. */
class FailingWriteFileSystem extends FilterFileSystem(new SchemedLocal("failwrite")) {
  override def create(f: Path, permission: FsPermission, overwrite: Boolean, bufferSize: Int,
                      replication: Short, blockSize: Long,
                      progress: Progressable): FSDataOutputStream = {
    val limit = FailingWriteFileSystem.failAfter
    val out = super.create(f, permission, overwrite, bufferSize, replication, blockSize, progress)
    if (limit < 0) out
    else new FSDataOutputStream(new java.io.OutputStream {
      private var n = 0L
      def write(b: Int): Unit = {
        if (n >= limit) throw new java.io.IOException(s"injected: write failed after $n bytes")
        out.write(b); n += 1
      }
      override def close(): Unit = out.close()
    }, null)
  }
}

object FailingWriteFileSystem {
  val Scheme = "failwrite"
  @volatile var failAfter: Long = -1

  /** The same file system for `FileContext`, which atomic replaces rename through. */
  final class Abstract(uri: URI, conf: Configuration)
      extends DelegateToFileSystem(uri, new FailingWriteFileSystem, conf, Scheme, false)

  def install(conf: Configuration): Unit = {
    conf.set(s"fs.$Scheme.impl", classOf[FailingWriteFileSystem].getName)
    conf.set(s"fs.AbstractFileSystem.$Scheme.impl", classOf[Abstract].getName)
  }
  def uninstall(conf: Configuration): Unit = {
    conf.unset(s"fs.$Scheme.impl")
    conf.unset(s"fs.AbstractFileSystem.$Scheme.impl")
  }
}
