package graft.sinks

import java.net.URI
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{DelegateToFileSystem, FSDataInputStream, FilterFileSystem, Path, RawLocalFileSystem}
import scala.jdk.CollectionConverters._

/** The local file system under the `counting://` scheme, counting `open`
  * calls per file name: tests pin how often an operation reads a file.
  * Register it on a Hadoop configuration with [[CountingFileSystem.install]]. */
class CountingFileSystem extends FilterFileSystem(new CountingFileSystem.Local) {
  override def getScheme: String = CountingFileSystem.Scheme

  override def open(f: Path, bufferSize: Int): FSDataInputStream = {
    CountingFileSystem.opened.merge(f.getName, 1, (a: Integer, b: Integer) => a + b)
    super.open(f, bufferSize)
  }
}

object CountingFileSystem {
  val Scheme = "counting"

  /** The raw local file system, answering to the counting scheme. */
  final class Local extends RawLocalFileSystem {
    override def getUri: URI = URI.create(s"$Scheme:///")
  }

  /** The same file system for `FileContext`, through which the rename
    * commit coordinator publishes. */
  final class Abstract(uri: URI, conf: Configuration)
      extends DelegateToFileSystem(uri, new CountingFileSystem, conf, Scheme, false)

  private val opened = new java.util.concurrent.ConcurrentHashMap[String, Integer]()

  def reset(): Unit = opened.clear()

  /** Opens per file name since the last [[reset]]. */
  def opens: Map[String, Int] = opened.asScala.map { case (n, k) => (n, k.intValue) }.toMap

  def install(conf: Configuration): Unit = {
    conf.set(s"fs.$Scheme.impl", classOf[CountingFileSystem].getName)
    conf.set(s"fs.AbstractFileSystem.$Scheme.impl", classOf[Abstract].getName)
  }

  def uninstall(conf: Configuration): Unit = {
    conf.unset(s"fs.$Scheme.impl")
    conf.unset(s"fs.AbstractFileSystem.$Scheme.impl")
  }
}
