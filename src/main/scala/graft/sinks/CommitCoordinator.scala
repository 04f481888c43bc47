package graft.sinks

import org.apache.hadoop.fs.{FileSystem, Path}

/** Pluggable COMMIT PUBLISH primitive for [[VersionedTable]] — the one
  * point where "exactly one writer wins version N" must hold.
  *
  * The default ([[RenameCommitCoordinator]]) is the Delta HDFSLogStore
  * shape: write the full manifest to a temp file, then atomically
  * publish it if absent (`link(2)` on a local disk, rename elsewhere).
  * That primitive exists on HDFS and local file systems but NOT on
  * plain object stores whose only write is an overwriting PUT —
  * there, two racing writers can both "succeed" and
  * one manifest silently clobbers the other (the reference delegates
  * this whole problem to its managed catalog/lake layer;
  * `/root/reference/glue/glue_etl_framework.py:235-266`).
  *
  * [[LockFileCommitCoordinator]] is the overwrite-only-store path: a
  * lease-style intent protocol built from the two primitives every
  * object store does have — PUT to a UNIQUE key (never contended, so
  * overwrite semantics are irrelevant) and strongly-consistent LIST.
  * One coordination assumption replaces the missing CAS: the settle
  * window must exceed store visibility lag + writer clock skew (the
  * same assumption every lease system makes; S3 has been
  * read-after-write consistent for LIST since 2020, so visibility lag
  * is 0 there and the window only covers clock skew).
  */
trait CommitCoordinator {
  /** Publish `content` at `dst` iff no other writer publishes the same
    * `dst`. Returns true on win; false means a concurrent writer won
    * this version and the caller must rebase-and-retry (append) or
    * abort (serializable DML). Implementations must never leave a torn
    * `dst` readable. */
  def publish(fs: FileSystem, logDir: Path, dst: Path, content: Array[Byte]): Boolean
}

/** Atomic publish-if-absent — correct and cheapest wherever the file
  * system provides it: HDFS, local FS, and object stores with
  * conditional PUT. The full content goes to a temp file first, so a
  * crashed writer never exposes a torn `dst`.
  *
  * On `file:` the temp file is written with `java.nio` and published
  * with `link(2)` (`Files.createLink`), which fails with EEXIST when
  * `dst` exists: a true CAS. Hadoop's local `FileContext.rename(…,
  * Rename.NONE)` is not one — it checks for `dst`, then renames over
  * it, so two racing writers can both "win" — and it runs `readlink`
  * and `chmod` subprocesses. Every other scheme publishes with
  * `FileContext.rename(…, Rename.NONE)`. */
object RenameCommitCoordinator extends CommitCoordinator {
  def publish(fs: FileSystem, logDir: Path, dst: Path,
              content: Array[Byte]): Boolean = {
    val tmp = new Path(logDir,
      s".tmp-${dst.getName}-${java.util.UUID.randomUUID().toString.take(8)}")
    graft.util.Fs.write(fs, tmp, content)
    if (graft.util.Fs.isLocal(fs)) {
      val localTmp = graft.util.Fs.local(fs, tmp)
      try {
        java.nio.file.Files.createLink(graft.util.Fs.local(fs, dst), localTmp)
        true
      } catch {
        case _: java.nio.file.FileAlreadyExistsException => false
      } finally java.nio.file.Files.deleteIfExists(localTmp): Unit
    } else try {
      val fc = org.apache.hadoop.fs.FileContext.getFileContext(
        logDir.toUri, fs.getConf)
      fc.rename(tmp, dst, org.apache.hadoop.fs.Options.Rename.NONE)
      true
    } catch {
      case _: org.apache.hadoop.fs.FileAlreadyExistsException =>
        fs.delete(tmp, false); false
      case e: java.io.IOException if e.getMessage != null &&
        e.getMessage.contains("already exists") =>
        fs.delete(tmp, false); false
    }
  }
}

/** Lease/lock-file election for stores with ONLY overwriting PUT +
  * consistent LIST (no rename, no create-if-absent):
  *
  *  1. PUT an INTENT at a unique key `.intent/<dst>/<ts>-<uuid>` — the
  *     key is unique per writer, so overwrite-PUT semantics can never
  *     lose it.
  *  2. Wait `settleMillis` — after this, every intent from a writer
  *     that COULD still beat us (earlier timestamp) is visible to LIST
  *     (assumption: settle > visibility lag + clock skew).
  *  3. LIST the intents for `dst`; the minimal (ts, uuid) wins.
  *  4. The winner alone PUTs the manifest (uncontended by 2-3) and
  *     clears the intent dir; losers report false and never touch
  *     `dst`.
  *
  * Intents carry a LEASE (`leaseMillis`): an intent older than the
  * lease is ignored by elections and garbage-collected, so a writer
  * that crashed between PUT-intent and publish cannot block the
  * version forever. Symmetrically, a writer whose own election
  * outlives the lease refuses the win — the usual lease contract
  * (clock skew + worst-case pause must stay under the lease).
  *
  * Why a late writer cannot fake a win: it PUTs its intent after the
  * winner's settle expired, so its timestamp is LARGER (within skew,
  * covered by the window) and its own LIST in step 3 sees the winner's
  * intent and orders itself after it. Torn manifests are impossible:
  * `dst` is written exactly once, by one writer, and readers treat a
  * short read as no-commit exactly as with the rename path (content is
  * staged in full before the final PUT streams it).
  */
final class LockFileCommitCoordinator(settleMillis: Long = 150,
                                      leaseMillis: Long = 30000)
    extends CommitCoordinator {
  require(leaseMillis > 2 * settleMillis,
    "lockfile coordinator: the lease must outlive the settle window")
  def publish(fs: FileSystem, logDir: Path, dst: Path,
              content: Array[Byte]): Boolean = {
    // refuse a version a reader can already see — the fast path that
    // avoids an election nobody can win
    if (fs.exists(dst)) return false
    val intentDir = new Path(logDir, s".intent-${dst.getName}")
    val me = f"${System.currentTimeMillis()}%020d-${java.util.UUID.randomUUID().toString.take(8)}"
    // unique key: PUT-overwrite safe. On a FILE system the winner's
    // recursive intent-dir cleanup can race this create (dir deleted
    // between create and chmod) — that only happens when someone just
    // won this version, so a failed intent PUT with dst visible means
    // we lost (object stores have no directories and no such race).
    try {
      val os = fs.create(new Path(intentDir, me), true)
      try os.write(Array.emptyByteArray) finally os.close()
    } catch {
      case e: Exception =>
        if (fs.exists(dst)) return false else throw e
    }
    Thread.sleep(settleMillis)
    // a winner's cleanup may have removed the whole intent dir (dst then
    // already exists) — a missing dir means we lost
    // only INTENT-shaped names participate (20-digit ts, 8-hex uuid) —
    // the winner's in-flight `.put-*` temp (and its checksum sidecar)
    // also lives here and must be neither electable nor GC'd as stale
    val IntentName = "^[0-9]{20}-[0-9a-f]{8}$".r
    val all =
      try fs.listStatus(intentDir).map(_.getPath.getName)
        .filter(IntentName.pattern.matcher(_).matches()).sorted
      catch { case _: java.io.FileNotFoundException => Array.empty[String] }
    // LEASE EXPIRY: an intent from a writer that crashed between PUT and
    // publish must not block the version forever — contenders older than
    // the lease are ignored (and garbage-collected best-effort). The
    // standard lease assumption applies in return: a writer whose own
    // election outlives the lease (GC pause, network stall) must NOT
    // claim the win — a newer contender may have stopped seeing it.
    val now = System.currentTimeMillis()
    def ts(name: String): Long =
      try name.takeWhile(_ != '-').toLong catch { case _: NumberFormatException => 0L }
    val (stale, contenders) = all.partition(n => now - ts(n) > leaseMillis)
    stale.foreach { n =>
      try fs.delete(new Path(intentDir, n), false)
      catch { case _: java.io.IOException => () }
    }
    val won = contenders.headOption.contains(me) &&
      (now - ts(me)) <= leaseMillis && !fs.exists(dst)
    if (won) {
      // ATOMIC-VISIBILITY PUT: object stores make a PUT object visible
      // only once complete — on a file system we must emulate that
      // (temp write + plain rename), or a rebasing loser reading the
      // just-won manifest could adopt a TORN file list as its append
      // base and silently drop every earlier row (caught by the
      // two-writer race test). This is NOT the missing CAS primitive:
      // the election already decided the single writer; the rename is
      // overwrite-indifferent and stands in for PUT's all-or-nothing
      // visibility.
      val tmp = new Path(intentDir, s".put-$me")
      val o = fs.create(tmp, true)
      try o.write(content) finally o.close()
      if (!fs.rename(tmp, dst))
        throw new java.io.IOException(s"lockfile commit: publish rename to '$dst' failed")
      // best-effort cleanup; stale intents are harmless (dst now exists)
      try fs.delete(intentDir, true) catch { case _: java.io.IOException => () }
    } else {
      try fs.delete(new Path(intentDir, me), false)
      catch { case _: java.io.IOException => () }
    }
    won
  }
}
