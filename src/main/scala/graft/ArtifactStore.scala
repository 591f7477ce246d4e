package graft

import java.nio.file.{Files, Paths}
import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.logging.log4j.LogManager
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Disk-backed, corpus-fingerprinted artifact store — the ONLY
  * materialization path of the "build once per corpus snapshot" families
  * (dedup pair graph + component labels, corpus bigram LM, lexical index,
  * NB-labeled corpus, BPE merges, IVF centroids + inverted file, PQ
  * codebook + code table, SRP band tables). The one in-memory (L1) cache
  * over it lives in [[Artifacts]] (`Artifacts.frame` for partitioned
  * tables, `Artifacts.rows`/`table` for driver-row index tables); this
  * object keeps no in-memory state. At 100 TB these artifacts ARE
  * persisted tables next to the corpus (the index's data files, the
  * dedup pipeline's staged pair graph); this store is that layer — each
  * artifact written once as parquet under a path keyed
  * by (family tag, schema version, corpus fingerprint), read by any later
  * session whose corpus fingerprint matches. Every build is deterministic
  * given the corpus (md5-seeded hashing throughout), so a store hit is
  * bit-equivalent to a rebuild — only the redundant compute is gone.
  *
  * Layout: `root/<tag>/fp=<md5(version:fingerprint)>/` containing the
  * parquet `data/` plus a `_MANIFEST` holding the full unhashed key (the
  * collision guard — a hash hit with a mismatched manifest is treated as
  * corrupt and replaced). Writers build into a sibling `.tmp-<uuid>` and
  * publish it with [[Publish.publishIfAbsent]]: a killed writer leaves
  * only an ignored tmp dir, never a half-published artifact. The whole
  * store lives on the root's Hadoop filesystem (manifests, touches,
  * reads, [[gc]], [[statusRelation]]); only [[codeFingerprint]] reads
  * local class files.
  *
  * Concurrency: a `<entry>.lock` file elects ONE builder per entry across
  * sessions and JVMs ([[Publish.tryLock]]: token-owned, stale after
  * [[Publish.LockStaleMs]], stolen through a tomb, released only by its
  * owner); losers poll for the winner's manifest while the lock is held
  * fresh and read it — N racing sessions build once, read N times. A
  * waiter that outlives [[WaitBuildMs]] falls back to building its own
  * copy (first-writer-wins publish keeps that safe, just redundant).
  *
  * Root resolution, in order: the `spark.graft.artifacts.path` session
  * conf, the `SPARK_GRAFT_ARTIFACTS` env var, then
  * `<java.io.tmpdir>/graft-artifacts`. The store is always on: an empty
  * value or `off` is a misconfiguration and fails loudly. Bench points
  * it at a fresh temp dir per run so its `build` map always prices COLD
  * builds, comparably across rounds. Store events (disk hit, built,
  * unreadable entry removed) go to this object's log4j logger.
  */
object ArtifactStore {
  private val log = LogManager.getLogger(getClass)

  /** Manual escape hatch for semantic bumps that [[codeFingerprint]]
    * cannot see (a changed option DEFAULT read from outside the compiled
    * classes, a store-layout change). Since the code fingerprint below is
    * folded into every entry key automatically, builder EDITS no longer
    * need a bump — this stays for the rare out-of-band invalidation.
    */
  val SchemaVersion = 1

  /** Fingerprint of the engine code itself, folded into every entry key:
    * an entry built by one compile of the builders must never satisfy a
    * reader running a DIFFERENT compile. The persistent default root
    * (<tmpdir>/graft-artifacts) made the failure mode concrete before
    * this existed — edit a builder, forget the manual SchemaVersion bump,
    * and a warm machine serves the OLD builder's parquet to tests and
    * Verify: green runs that never executed the new code. Hashing the
    * compiled classes closes that by construction: unchanged code keeps
    * its warm entries (incremental compilation leaves untouched class
    * files byte-identical), any rebuild of the engine costs exactly one
    * cold re-derivation per corpus. Computed once per JVM from this
    * class's code-source location — the classes directory (every .class
    * under it, name + bytes, in sorted order) or the deployed jar's raw
    * bytes.
    */
  private[graft] lazy val codeFingerprint: String = {
    val md = java.security.MessageDigest.getInstance("MD5")
    try {
      val url = getClass.getProtectionDomain.getCodeSource.getLocation
      val p = Paths.get(url.toURI)
      if (Files.isDirectory(p)) {
        val walk = Files.walk(p)
        try walk.sorted(java.util.Comparator.comparing[java.nio.file.Path, String](_.toString))
          .forEach { f =>
            if (Files.isRegularFile(f) && f.toString.endsWith(".class")) {
              md.update(p.relativize(f).toString.getBytes("UTF-8"))
              md.update(Files.readAllBytes(f))
            }
          }
        finally walk.close()
      } else md.update(Files.readAllBytes(p))
      md.digest().map("%02x".format(_)).mkString
    } catch {
      // no code source (odd classloader): fall back to the manual version
      // alone rather than refuse to run — the store just loses the
      // automatic invalidation on such platforms
      case _: Exception => "unknown"
    }
  }

  private[graft] val WaitBuildMs = 20 * 60 * 1000L
  private val PollMs = 100L

  /** The session's store root. Always defined (the store cannot be
    * disabled); the Option shape is kept for existing callers. A
    * scheme-less root prints as the plain directory it names. */
  def rootOf(s: SparkSession): Option[Path] = Some(root(s))

  private def root(s: SparkSession): Path = {
    val conf = s.conf.getOption("spark.graft.artifacts.path")
      .orElse(sys.env.get("SPARK_GRAFT_ARTIFACTS"))
      .getOrElse(sys.props("java.io.tmpdir") + "/graft-artifacts")
    if (conf.trim.isEmpty || conf == "off")
      throw new IllegalArgumentException(
        s"artifact store root '$conf' (spark.graft.artifacts.path / " +
          "SPARK_GRAFT_ARTIFACTS) is not a directory: the store cannot be " +
          "disabled — set a path, or unset both for <tmpdir>/graft-artifacts")
    new Path(conf)
  }

  private def md5(s: String): String =
    java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString

  private def versioned(fingerprint: String): String =
    s"v$SchemaVersion:c$codeFingerprint:$fingerprint"

  /** The entry dir of (tag, fingerprint) under the session's root, and
    * the root's filesystem. */
  private def locate(s: SparkSession, tag: String, fingerprint: String)
      : (FileSystem, Path) = {
    val r = root(s)
    (Publish.fsOf(r, s), new Path(new Path(r, tag), "fp=" + md5(versioned(fingerprint))))
  }

  private def manifestOk(fs: FileSystem, dir: Path, fingerprint: String): Boolean =
    try Publish.readString(fs, new Path(dir, "_MANIFEST")).contains(versioned(fingerprint))
    catch { case _: java.io.IOException => false }

  /** Mark an entry as used: gc ages by LAST USE (manifest mtime), not
    * build time — a hot entry of an unchanged corpus must survive any
    * maxAgeMs as long as sessions keep reading it.
    */
  private def touch(fs: FileSystem, dir: Path): Unit =
    try fs.setTimes(new Path(dir, "_MANIFEST"), System.currentTimeMillis(), -1)
    catch { case _: java.io.IOException => () }

  /** Open the published parquet, self-healing a manifest-present but
    * unreadable entry (interrupted delete, concurrent gc, torn copy):
    * the entry is removed — manifest first, so it reads as a MISS — and
    * the caller falls back to its miss path instead of being wedged. A
    * missing `data/` is checked before the read, so that heal logs the
    * store's one WARN rather than Spark's PATH_NOT_FOUND listener trace.
    */
  private def readData(s: SparkSession, fs: FileSystem, dir: Path, tag: String)
      : Option[DataFrame] =
    try {
      val data = new Path(dir, "data")
      if (!fs.exists(data)) throw new java.io.FileNotFoundException(data.toString)
      val df = Tables.readParquet(s, data.toString)
      touch(fs, dir)
      Some(df)
    } catch {
      case e: Exception =>
        log.warn(s"unreadable entry for $tag (${e.getClass.getSimpleName}) — removing")
        deleteRecursively(fs, dir)
        None
    }

  /** Liveness check for the L1 frame cache above this store
    * (`Artifacts.frame`): true iff the published entry still exists on
    * disk under THIS session's store root. Touches the manifest when it
    * does — an L1 cache hit is a USE, and [[gc]] ages by last use, so a
    * frame a long-lived session keeps reading must keep its backing entry
    * alive. When the entry is gone (gc'd, or the session's store root
    * changed), the caller drops its cached frame and re-reads through —
    * instead of serving a parquet scan whose files vanished
    * (FileNotFoundException with no self-heal, since nothing would ever
    * re-check the L1 key).
    */
  private[graft] def stillLive(s: SparkSession, tag: String,
      fingerprint: String): Boolean = {
    val (fs, dir) = locate(s, tag, fingerprint)
    val ok = manifestOk(fs, dir, fingerprint)
    if (ok) touch(fs, dir)
    ok
  }

  /** The published artifact for (tag, fingerprint) as a parquet scan, if
    * the entry exists. */
  def readIfPresent(s: SparkSession, tag: String, fingerprint: String)
      : Option[DataFrame] = {
    val (fs, dir) = locate(s, tag, fingerprint)
    if (manifestOk(fs, dir, fingerprint)) {
      val out = readData(s, fs, dir, tag)
      if (out.isDefined) log.info(s"disk hit: $tag")
      out
    } else None
  }

  /** Read the artifact from disk, or elect a builder, run `build`,
    * publish, and return a reader over the published copy. The returned
    * frame is always a plain parquet scan — column pruning and predicate
    * pushdown apply to artifact readers exactly as to any staged table.
    */
  def readThrough(s: SparkSession, tag: String, fingerprint: String)
      (build: => DataFrame): DataFrame = {
    val (fs, dir) = locate(s, tag, fingerprint)
    val deadline = System.currentTimeMillis() + WaitBuildMs
    var out: Option[DataFrame] = None
    var built = false
    while (out.isEmpty) {
      if (manifestOk(fs, dir, fingerprint)) {
        out = readData(s, fs, dir, tag) // None self-heals → loop rebuilds
        if (out.isDefined && !built) log.info(s"disk hit: $tag")
      } else Publish.tryLock(fs, lockOf(dir)) match {
        case Right(lock) =>
          try {
            if (!manifestOk(fs, dir, fingerprint)) { // winner of a steal re-checks
              writeEntry(s, fs, dir, tag, fingerprint, build); built = true
            }
          } finally lock.release()
        case Left(_) if System.currentTimeMillis() > deadline =>
          // the elected builder is alive but slower than any sane build:
          // build our own copy (publish stays first-writer-wins safe)
          writeEntry(s, fs, dir, tag, fingerprint, build); built = true
        case Left(_) => Thread.sleep(PollMs)
      }
    }
    out.get
  }

  /** Publish-if-absent without reading back — the write-through hook for
    * trainers that must always retrain in-session (q74 BPE: its bench
    * cost is the training cost) but whose deterministic product should
    * still land on disk once for every other session. No-op when the
    * entry already exists (same corpus ⇒ bit-identical product) or
    * another session holds its lock.
    */
  def put(s: SparkSession, tag: String, fingerprint: String)
      (df: => DataFrame): Unit = {
    val (fs, dir) = locate(s, tag, fingerprint)
    if (!manifestOk(fs, dir, fingerprint))
      Publish.tryLock(fs, lockOf(dir)).foreach { lock =>
        try {
          if (!manifestOk(fs, dir, fingerprint))
            writeEntry(s, fs, dir, tag, fingerprint, df)
        } finally lock.release()
      }
  }

  private def writeEntry(s: SparkSession, fs: FileSystem, dir: Path, tag: String,
      fingerprint: String, build: => DataFrame): Unit = {
    val built = build
    val tmp = new Path(dir.getParent, ".tmp-" + java.util.UUID.randomUUID().toString)
    built.write.mode("overwrite").parquet(new Path(tmp, "data").toString)
    val out = fs.create(new Path(tmp, "_MANIFEST"), true)
    try out.write(versioned(fingerprint).getBytes("UTF-8")) finally out.close()
    // the artifact now lives on disk: release the checkpoint blocks of
    // the builder's intermediates found in the build plan (only THIS
    // plan's LogicalRDDs) — e.g. the pair graph's shingle/band tables
    releaseCheckpoints(built)
    // a target with a MISMATCHED manifest (hash collision, or a corrupt
    // half-cleaned entry) is replaced rather than trusted
    Publish.publishIfAbsent(fs, tmp, dir)(manifestOk(fs, dir, fingerprint))
    log.info(s"built: $tag")
  }

  /** Release the checkpoint blocks behind `frames`: every `LogicalRDD`
    * (a `localCheckpoint`) in their own logical plans, unpersisted
    * without blocking. Only for frames no live plan will read again. */
  private[graft] def releaseCheckpoints(frames: DataFrame*): Unit =
    frames.foreach(_.queryExecution.logical.collect {
      case l: org.apache.spark.sql.execution.LogicalRDD => l.rdd
    }.foreach(_.unpersist(blocking = false)))

  private def lockOf(dir: Path): Path = new Path(dir.getParent, dir.getName + ".lock")

  /** Delete an entry (or any store path) on its own filesystem. */
  private[graft] def deleteRecursively(p: Path): Unit =
    deleteRecursively(Publish.fsOf(p), p)

  private def deleteRecursively(fs: FileSystem, p: Path): Unit = {
    // the manifest dies FIRST: an INTERRUPTED recursive delete could
    // otherwise leave a manifest-present, data-missing entry that every
    // later manifestOk check trusts (wedging the family until it ages
    // out). Manifest-first, an interruption leaves manifest-less debris —
    // a plain miss the next builder replaces.
    try fs.delete(new Path(p, "_MANIFEST"), false)
    catch { case _: java.io.IOException => () }
    fs.delete(p, true)
  }

  /** Driver-side store snapshot as a LocalRelation — backs the
    * `graft_artifacts_status(path)` SQL table function
    * (GraftExtensions): one row per artifact family with entry counts,
    * on-disk bytes, freshness, and any builder debris (tmp dirs from
    * crashed builds, lock files) — the ops view an operator checks
    * before trusting a store or scheduling a [[gc]]. Metadata only
    * (listings; no data files are read).
    */
  def statusRelation(rootPath: String)
      : org.apache.spark.sql.catalyst.plans.logical.LocalRelation = {
    import org.apache.spark.sql.catalyst.InternalRow
    import org.apache.spark.sql.catalyst.expressions.AttributeReference
    import org.apache.spark.sql.catalyst.plans.logical.LocalRelation
    import org.apache.spark.sql.types.{IntegerType, LongType, StringType}
    import org.apache.spark.unsafe.types.UTF8String
    val out = Seq(
      AttributeReference("family", StringType, nullable = false)(),
      AttributeReference("entries", IntegerType, nullable = false)(),
      AttributeReference("live_entries", IntegerType, nullable = false)(),
      AttributeReference("bytes", LongType, nullable = false)(),
      AttributeReference("newest_manifest_ms", LongType, nullable = false)(),
      AttributeReference("tmp_dirs", IntegerType, nullable = false)(),
      AttributeReference("locks", IntegerType, nullable = false)())
    val root = new Path(rootPath)
    val fs = Publish.fsOf(root)
    val rows =
      if (!fs.exists(root)) Seq.empty[InternalRow]
      else fs.listStatus(root).toSeq.filter(_.isDirectory).map { f =>
        var (entries, live, tmps, locks) = (0, 0, 0, 0)
        var bytes = 0L
        var newest = 0L
        fs.listStatus(f.getPath).foreach { e =>
          val name = e.getPath.getName
          if (name.startsWith(".tmp-")) tmps += 1
          else if (name.endsWith(".lock")) locks += 1
          else if (name.startsWith("fp=")) {
            entries += 1
            // a concurrent gc/publish may delete the entry mid-walk; a
            // vanished manifest or subtree counts 0, it must not throw
            try {
              newest = math.max(newest,
                fs.getFileStatus(new Path(e.getPath, "_MANIFEST")).getModificationTime)
              live += 1
            } catch { case _: java.io.FileNotFoundException => () }
            bytes += (try fs.getContentSummary(e.getPath).getLength
              catch { case _: java.io.IOException => 0L })
          }
        }
        InternalRow(UTF8String.fromString(f.getPath.getName),
          entries, live, bytes, newest, tmps, locks)
      }
    LocalRelation(out, rows, isStreaming = false)
  }

  /** Garbage-collect the store: entries whose manifest mtime — refreshed
    * on EVERY disk hit, so it means last USE, not build time — is older
    * than `maxAgeMs` (a rewritten corpus gets a new fingerprint, so its
    * predecessor's entries go cold and only age out here; a hot entry of
    * an unchanged corpus is touched by its readers — including on every
    * L1 cache hit via [[stillLive]] — and never ages), plus crashed
    * builders' debris past the lock-steal threshold: orphaned `.tmp-*`
    * build dirs, stale `.lock` files and manifest-less entries
    * ([[Publish.sweep]]). Safe against racing builders (a deleted entry
    * is just a miss — the next readThrough re-publishes) and against the
    * in-memory frame caches (they re-check [[stillLive]] on every hit and
    * re-read through on a vanished entry). NOT safe against a reader
    * caught mid-action: Spark re-opens parquet files per job, so a
    * collected entry can still fail one in-flight query of a live
    * session — run gc with a maxAgeMs comfortably above any query's
    * lifetime, never 0, on a shared store. Returns the deleted paths,
    * each under `root` as given.
    */
  def gc(root: Path, maxAgeMs: Long): Seq[Path] = {
    val fs = Publish.fsOf(root)
    if (!fs.exists(root)) return Seq.empty
    val now = System.currentTimeMillis()
    val debris = scala.collection.mutable.ArrayBuffer[Path]()
    val cold = scala.collection.mutable.ArrayBuffer[Path]()
    fs.listStatus(root).filter(_.isDirectory).foreach { fam =>
      val famPath = new Path(root, fam.getPath.getName)
      fs.listStatus(fam.getPath).foreach { e =>
        val name = e.getPath.getName
        val entry = new Path(famPath, name)
        val stale = now - e.getModificationTime > Publish.LockStaleMs
        if (name.startsWith(".tmp-") || name.endsWith(".lock")) {
          if (stale) debris += entry
        } else if (name.startsWith("fp=")) {
          val manifestAge =
            try Some(now - fs.getFileStatus(new Path(entry, "_MANIFEST")).getModificationTime)
            catch { case _: java.io.FileNotFoundException => None }
          manifestAge match {
            case None => if (stale) debris += entry // interrupted delete
            case Some(a) => if (a > maxAgeMs) cold += entry
          }
        }
      }
    }
    Publish.sweep(fs, debris.toSeq)
    cold.foreach(deleteRecursively(fs, _))
    (debris ++ cold).toSeq
  }
}
