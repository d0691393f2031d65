package graft

import java.io.{IOException, OutputStream}
import java.net.URI
import java.util.concurrent.atomic.{AtomicLong, AtomicReference}

import org.apache.hadoop.fs.{Path, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission

/** HDFS-semantics local filesystem with IO-fault injection — the test seam
  * behind [[CrashFuzzSpec]]. Registered under the `faulty://` scheme via
  * `fs.faulty.impl`; every graft path acquires filesystems through
  * `Path.getFileSystem(conf)`, so driver and executor code both flow
  * through it. Two jobs in one class:
  *
  *  - '''Conditional rename.''' POSIX rename(2) silently REPLACES an
  *    existing destination, which is why `CommitProtocol.publishFileStream`
  *    switches to link(2) on `file://`. Its OTHER branch — plain rename,
  *    written against the HDFS contract "rename FAILS on an existing
  *    destination" — is unreachable from any `file://` test. This scheme
  *    implements that contract (`rename` returns false when the
  *    destination exists), so the commit protocol's HDFS-shaped branch,
  *    `overwriteFile`'s rename-first-then-delete fallback, and
  *    `recoverManifestRewrites`' loser-observes-winner rename all run for
  *    real under it.
  *
  *  - '''Crash injection.''' [[FaultGate.arm]] makes the k-th subsequent
  *    MUTATING operation (create/append/rename/delete/mkdirs) throw, and
  *    every mutating op after it keeps throwing until [[FaultGate.disarm]]
  *    — a process crash, not a transient error: nothing after the failure
  *    point mutates storage, including `finally`-block cleanup, exactly as
  *    if the JVM had died there. Reads stay live so post-crash
  *    adjudication (and read-path self-recovery) can run, standing in for
  *    the reboot that follows a real crash.
  */
class FaultyFileSystem extends RawLocalFileSystem {
  override def getScheme: String = "faulty"
  override def getUri: URI = FaultyFileSystem.Name

  // RawLocalFileSystem's DeprecatedRawLocalFileStatus loads permissions
  // LAZILY via `new java.io.File(path.toUri)`, which rejects any scheme
  // but `file:` — so hand out statuses with the permission fields already
  // materialized (graft never reads owner/permission; reproducing the
  // real bits would re-enter the same lazy path).
  private def eager(st: org.apache.hadoop.fs.FileStatus): org.apache.hadoop.fs.FileStatus =
    new org.apache.hadoop.fs.FileStatus(st.getLen, st.isDirectory,
      st.getReplication, st.getBlockSize, st.getModificationTime,
      st.getAccessTime,
      if (st.isDirectory) FsPermission.getDirDefault else FsPermission.getFileDefault,
      "", "", st.getPath)

  override def getFileStatus(f: Path): org.apache.hadoop.fs.FileStatus =
    eager(super.getFileStatus(f))

  override def listStatus(f: Path): Array[org.apache.hadoop.fs.FileStatus] = {
    FaultyFileSystem.listStatusCount.incrementAndGet()
    super.listStatus(f).map(eager)
  }

  // every create/append overload in RawLocalFileSystem funnels here
  override protected def createOutputStreamWithMode(f: Path, append: Boolean,
      permission: FsPermission): OutputStream = {
    FaultGate.hit(if (append) "append" else "create", f)
    super.createOutputStreamWithMode(f, append, permission)
  }

  override def rename(src: Path, dst: Path): Boolean = {
    FaultGate.hit("rename", dst)
    // HDFS contract, not POSIX: rename FAILS on an existing destination.
    // The NameNode serializes this check-and-move atomically; a bare
    // exists()-then-rename here would let two racing writers both pass the
    // check and both "win" (POSIX rename replaces silently), making the
    // race fuzz validate mutual exclusion against a WEAKER primitive than
    // the one the commit protocol assumes — so the pair is serialized
    // through one JVM-global lock (local-mode driver and executors share
    // the JVM, so the lock covers every path into this scheme).
    FaultyFileSystem.renameLock.synchronized {
      if (exists(dst)) false else super.rename(src, dst)
    }
  }

  override def delete(p: Path, recursive: Boolean): Boolean = {
    FaultGate.hit("delete", p)
    super.delete(p, recursive)
  }

  override def mkdirs(f: Path): Boolean = {
    FaultGate.hit("mkdirs", f)
    super.mkdirs(f)
  }

  override def mkdirs(f: Path, permission: FsPermission): Boolean = {
    FaultGate.hit("mkdirs", f)
    super.mkdirs(f, permission)
  }

  // mtime/permission writes mutate storage too: vacuum's chain-guard swap
  // and crash recovery PRESERVE a manifest's publish instant via setTimes
  // (the (mtime,len) pair caches and twin stamps validate with), so the
  // crash point must be able to fall between a rename and its setTimes
  override def setTimes(p: Path, mtime: Long, atime: Long): Unit = {
    FaultGate.hit("settimes", p)
    super.setTimes(p, mtime, atime)
  }

  override def setPermission(p: Path, permission: FsPermission): Unit = {
    FaultGate.hit("setpermission", p)
    super.setPermission(p, permission)
  }
}

object FaultyFileSystem {
  val Name: URI = URI.create("faulty:///")

  /** Serializes the exists+rename pair so the scheme provides the ATOMIC
    * conditional rename HDFS does (see [[FaultyFileSystem.rename]]).
    */
  private[graft] val renameLock = new Object

  /** Directory-listing calls through the scheme — PlanningScaleSpec pins
    * "one listStatus per data directory" on the 10⁴-file index.
    */
  val listStatusCount = new AtomicLong
}

/** JVM-global trigger for [[FaultyFileSystem]] (local-mode executors share
  * the JVM, so one static gate covers driver and task IO alike).
  */
object FaultGate {
  private val remaining = new AtomicLong(Long.MaxValue)
  @volatile private var crashed = false
  @volatile private var target: Option[(String, Path) => Boolean] = None
  private val lastTrip = new AtomicReference[String]("")

  /** The `afterOps`-th mutating op from now throws; all later ones too. */
  def arm(afterOps: Long): Unit = {
    require(afterOps >= 1, "arm: afterOps must be >= 1")
    crashed = false
    target = None
    remaining.set(afterOps)
  }

  /** The first mutating op matching `at` (op name, path) throws; all
    * later ones too — a crash at one named point instead of an op count.
    */
  def armAt(at: (String, Path) => Boolean): Unit = {
    crashed = false
    remaining.set(Long.MaxValue)
    target = Some(at)
  }

  def disarm(): Unit = {
    crashed = false
    target = None
    remaining.set(Long.MaxValue)
  }

  /** Did the armed fault actually fire since the last arm/disarm? */
  def tripped: Boolean = crashed

  /** The op/path the armed fault first fired on (diagnostics). */
  def trippedAt: String = lastTrip.get()

  private[graft] def hit(op: String, p: Path): Unit = {
    if (crashed)
      throw new IOException(s"injected crash (post-crash IO): $op $p")
    if (target.exists(_(op, p)) || remaining.decrementAndGet() <= 0L) {
      crashed = true
      lastTrip.set(s"$op $p")
      throw new IOException(s"injected crash: $op $p")
    }
  }
}
