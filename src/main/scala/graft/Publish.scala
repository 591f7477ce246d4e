package graft

import java.io.{FileNotFoundException, IOException}
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths, StandardOpenOption}
import java.util.UUID
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.logging.log4j.LogManager
import org.apache.spark.sql.SparkSession

/** The one crash-safe publication protocol of every on-disk store
  * ([[ArtifactStore]], [[graft.streaming.AdmissionStore]],
  * [[graft.streaming.BucketedUpsert]], [[graft.sources.LedgerWrite]]),
  * over the Hadoop `FileSystem` API. Four operations: lock election
  * ([[tryLock]]), the atomic small-file write ([[writeAtomically]]), the
  * staged-tree swap ([[swap]]) with settle-on-recover ([[settle]]) and
  * the debris [[sweep]], and [[publishIfAbsent]].
  *
  * Hadoop rename semantics shape every operation: a rename onto an
  * existing directory moves the source INSIDE it (HDFS and the local
  * FS alike), and a rename onto an existing file fails on HDFS but
  * replaces it on the local FS. The local FS's `create(path, false)` is
  * check-then-create, so on `file:` the exclusive create is the OS's
  * own (`CREATE_NEW`).
  *
  * Recovery events (steals, aborted steals, restored asides, swept
  * debris, replaced targets) are logged once at WARN on this object's
  * logger; routine traffic logs nothing.
  */
object Publish {
  private val log = LogManager.getLogger(getClass)

  /** A lock untouched this long belonged to a crashed holder. */
  val LockStaleMs: Long = 15 * 60 * 1000L

  /** The filesystem that owns `p` — resolved from the path, never the
    * default FS, so `hdfs://` and `s3a://` stores work on any cluster. */
  def fsOf(p: Path, s: SparkSession = SparkSession.active): FileSystem =
    p.getFileSystem(s.sparkContext.hadoopConfiguration)

  /** The raw local filesystem (no checksum sidecars), for stores that
    * are local-path formats. */
  lazy val localFs: FileSystem = FileSystem.getLocal(new Configuration()).getRaw

  /** A small file's trimmed UTF-8 content; None when absent. */
  def readString(fs: FileSystem, p: Path): Option[String] =
    try {
      val in = fs.open(p)
      try Some(new String(org.apache.hadoop.io.IOUtils
        .readFullyToByteArray(in), UTF_8).trim)
      finally in.close() // readFullyToByteArray does not close
    } catch { case _: FileNotFoundException => None }

  /** A missing source reads as a failed rename (the local FS throws). */
  private def rename(fs: FileSystem, src: Path, dst: Path): Boolean =
    try fs.rename(src, dst) catch { case _: FileNotFoundException => false }

  /** A held lock: the file and this holder's election token. */
  final class Lock private[Publish] (fs: FileSystem, path: Path, token: String) {
    /** Whether the lock still carries this holder's token. An unreadable
      * lock (torn, checksum-corrupt) is simply not ours. */
    def owned: Boolean =
      try readString(fs, path).contains(token)
      catch { case _: IOException => false }

    /** Re-assert ownership: bump the mtime iff the lock is still ours. */
    def refresh(): Boolean =
      owned && { fs.setTimes(path, System.currentTimeMillis(), -1); true }

    /** Delete the lock iff it is still ours: a thief that stole it after
      * it went stale owns it now. */
    def release(): Unit = if (owned) fs.delete(path, false)
  }

  /** Whether `lock` exists and was touched within [[LockStaleMs]]. */
  def heldFresh(fs: FileSystem, lock: Path): Boolean =
    try System.currentTimeMillis() - fs.getFileStatus(lock).getModificationTime <=
      LockStaleMs
    catch { case _: FileNotFoundException => false }

  /** Test seam between the staleness judgement and the steal's rename:
    * a spec installs a probe that refreshes the lock or runs a second
    * stealer there, and restores the no-op afterwards. */
  private[graft] var stealRaceProbe: () => Unit = () => ()

  /** Elect this caller as `lock`'s holder: a random token is written
    * with an exclusive create, and the token that SURVIVES owns the
    * lock. A lock untouched for [[LockStaleMs]] belonged to a crashed
    * holder and is stolen by renaming it aside (a tomb), never by
    * check-then-delete: of two stealers only one rename succeeds. Left
    * carries why the election was lost: a fresh lock, a lost steal race,
    * an aborted steal (the owner refreshed mid-steal) or another
    * holder's surviving token. */
  def tryLock(fs: FileSystem, lock: Path): Either[String, Lock] = {
    val token = UUID.randomUUID().toString
    val held = new Lock(fs, lock, token)
    val created = createExclusive(fs, lock, token) || (steal(fs, lock, token) match {
      case Some(why) => return Left(why)
      case None => createExclusive(fs, lock, token)
    })
    if (!created) Left(s"another holder created $lock first")
    else if (!held.owned) Left(s"another holder's token survived in $lock")
    else Right(held)
  }

  /** Steal `lock` if it is stale: None when stolen, Some(why) when the
    * caller must not elect (fresh, lost race, aborted steal). */
  private def steal(fs: FileSystem, lock: Path, token: String): Option[String] =
    if (heldFresh(fs, lock)) Some(s"$lock is held fresh by a live holder")
    else {
      // the tomb keeps the `.lock` suffix so a crashed stealer's debris
      // ages out by the same rule as any stale lock
      val tomb = new Path(lock.getParent, s"${lock.getName}.stale-$token.lock")
      stealRaceProbe()
      if (!rename(fs, lock, tomb)) Some(s"lost the stale-lock steal race on $lock")
      // the rename preserved the mtime: a fresh tomb is a live owner's
      // lock, refreshed between the staleness check and the rename
      else if (heldFresh(fs, tomb)) {
        if (!rename(fs, tomb, lock)) fs.delete(tomb, false) // re-created
        // meanwhile: the displaced owner fails its next ownership check
        log.warn(s"aborted the steal of $lock: its owner refreshed it mid-steal")
        Some(s"aborted the stale-lock steal on $lock — the owner " +
          "refreshed it between the staleness check and the steal; it is " +
          "a live holder's lock")
      } else {
        fs.delete(tomb, false)
        log.warn(s"stole stale lock $lock (untouched for over ${LockStaleMs / 60000} min)")
        None
      }
    }

  /** Create `p` holding `content` iff it does not exist. */
  private def createExclusive(fs: FileSystem, p: Path, content: String): Boolean =
    try {
      val bytes = content.getBytes(UTF_8)
      if (fs.getScheme == "file") {
        val f = Paths.get(fs.makeQualified(p).toUri)
        Files.createDirectories(f.getParent)
        Files.write(f, bytes, StandardOpenOption.CREATE_NEW, StandardOpenOption.WRITE)
      } else {
        val out = fs.create(p, false)
        try out.write(bytes) finally out.close()
      }
      true
    } catch {
      case _: java.nio.file.FileAlreadyExistsException |
           _: org.apache.hadoop.fs.FileAlreadyExistsException => false
    }

  /** Write `content` to a hidden temp sibling and rename it onto `p`;
    * returns what `p` holds afterwards. A reader never sees a created-
    * but-empty file. Onto an existing `p` the rename fails on HDFS (the
    * first writer's content survives) and replaces on the local FS —
    * either way the caller judges the surviving content. */
  def writeAtomically(fs: FileSystem, p: Path, content: String): Option[String] = {
    val tmp = new Path(p.getParent, s".${p.getName}.tmp-${UUID.randomUUID()}")
    val out = fs.create(tmp, true)
    try out.write(content.getBytes(UTF_8)) finally out.close()
    if (!rename(fs, tmp, p)) fs.delete(tmp, false)
    readString(fs, p)
  }

  /** Replace `live` with `staged` through `aside`: live → aside, staged →
    * live, drop the aside. At no point is the tree both absent and
    * unrecoverable: a crash between the renames leaves the aside, which
    * [[settle]] restores. A missing `live` is a plain first publish. The
    * caller settles `aside` first — a rename onto a leftover aside would
    * nest the live tree inside it. */
  def swap(fs: FileSystem, live: Path, staged: Path, aside: Path): Unit = {
    val hadLive = fs.exists(live)
    if (hadLive && !rename(fs, live, aside))
      throw new IOException(s"publish: cannot set $live aside to $aside")
    if (!rename(fs, staged, live)) {
      if (hadLive) rename(fs, aside, live) // best-effort restore before the throw
      throw new IOException(s"publish: rename $staged -> $live failed")
    }
    if (hadLive && !fs.delete(aside, true))
      throw new IOException(s"publish: cannot drop aside $aside")
  }

  /** Settle an interrupted [[swap]]: an aside with no live tree is the
    * tree itself (the crash fell between the renames) and is restored;
    * one beside a live tree is superseded and dropped. One `exists`
    * call when there is nothing to settle. */
  def settle(fs: FileSystem, live: Path, aside: Path): Unit =
    if (fs.exists(aside)) {
      if (fs.exists(live)) {
        if (!fs.delete(aside, true))
          throw new IOException(s"recover: cannot drop superseded aside $aside")
        log.warn(s"dropped superseded aside $aside of an interrupted swap")
      } else if (!rename(fs, aside, live))
        throw new IOException(s"recover: cannot restore $aside -> $live")
      else log.warn(s"restored $live from the aside of an interrupted swap")
    }

  /** [[settle]] every aside named `<asidePrefix><id>` in `dir` against
    * its live twin `<livePrefix><id>` — for stores whose swaps run per
    * partition dir. One listing; usually nothing to settle. */
  def settleAll(fs: FileSystem, dir: Path, asidePrefix: String, livePrefix: String): Unit =
    if (fs.exists(dir)) fs.listStatus(dir).map(_.getPath.getName)
      .filter(_.startsWith(asidePrefix)).foreach(n => settle(fs,
        new Path(dir, livePrefix + n.stripPrefix(asidePrefix)), new Path(dir, n)))

  /** Delete staging debris that crashed writers left (invisible to
    * readers, but it holds bytes until swept). */
  def sweep(fs: FileSystem, debris: Seq[Path]): Unit =
    if (debris.nonEmpty) {
      debris.foreach(fs.delete(_, true))
      log.warn(s"swept ${debris.size} crashed-writer leftovers: ${debris.mkString(", ")}")
    }

  /** Publish `staged` as `target` unless a valid target exists: first
    * writer wins, and a target that is not `valid` (a hash collision, a
    * half-deleted entry) is replaced. Returns whether this writer's copy
    * landed; a losing copy is deleted. */
  def publishIfAbsent(fs: FileSystem, staged: Path, target: Path)
      (valid: => Boolean): Boolean = {
    if (fs.exists(target)) {
      if (valid) { fs.delete(staged, true); return false }
      fs.delete(target, true)
      log.warn(s"replaced invalid $target")
    }
    val landed = rename(fs, staged, target)
    // a target that appeared between the check and the rename: a
    // directory rename then nests the copy inside it — the other writer won
    val nested = new Path(target, staged.getName)
    if (landed && fs.exists(nested)) { fs.delete(nested, true); false }
    else { if (!landed) fs.delete(staged, true); landed }
  }
}
