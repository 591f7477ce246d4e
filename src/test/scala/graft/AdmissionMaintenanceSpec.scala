package graft

import java.nio.file.{Files, Paths}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.streaming.{AdmissionStore, NearDupAdmission}

/** The admission stores' single-maintainer contract, ENFORCED (r17 —
  * the r16 verdict's top item): maintenance runs under a per-table
  * lock that writeEpoch checks twice (entry + rename-ε), every staged
  * rewrite re-lists the epoch set under a fresh lock and aborts on
  * drift, and the previously fail-SILENT window (an epoch landing
  * between maintenance's store read and its publishSwap was dropped
  * with the swapped-out tree) is now loud from BOTH sides. Plus the
  * r17 byte-carry (the width signal without a per-batch store walk),
  * the epoch-replacement aside, and the structural `_PBK` recovery.
  */
class AdmissionMaintenanceSpec extends AnyFunSuite with TempDirs {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.ui.enabled", "false")
    .getOrCreate()


  private def lockOf(table: String) = Paths.get(s"${table}_maint.lock")

  /** A one-row (bucket, doc_id) epoch frame — the bands-table shape. */
  private def bandRow(b: String, id: Long) = {
    import spark.implicits._
    Seq((b, id)).toDF("bucket", "doc_id")
  }

  private def storedPairs(table: String): Set[(String, Long)] =
    spark.read.parquet(table).select("bucket", "doc_id").collect()
      .map(r => (r.getString(0), r.getLong(1))).toSet

  private def diskBytesUnderEpochs(table: String): Long = {
    val root = Paths.get(table)
    val s = Files.walk(root)
    try {
      import scala.jdk.CollectionConverters._
      s.iterator().asScala
        .filter(p => Files.isRegularFile(p) &&
          root.relativize(p).toString.startsWith("epoch=") &&
          // Hadoop's local FS hides its .crc sidecars from
          // getContentSummary — measure with the same lens
          !p.getFileName.toString.startsWith("."))
        .map(Files.size(_)).sum
    } finally s.close()
  }

  test("writeEpoch fails loudly under a held maintenance lock; the retry after release loses nothing") {
    val table = tmp("maint_lock") + "/bands"
    AdmissionStore.writeEpoch(bandRow("b0", 0L), col("bucket"), table, 0L)
    Files.createFile(lockOf(table)) // a maintainer owns the table
    val e = intercept[IllegalStateException] {
      AdmissionStore.writeEpoch(bandRow("b1", 1L), col("bucket"), table, 1L)
    }
    assert(e.getMessage.contains("maintenance"), e.getMessage)
    // nothing half-written: the store still holds exactly epoch 0
    assert(storedPairs(table) == Set(("b0", 0L)))
    Files.delete(lockOf(table))
    // the batch retry (Structured Streaming re-runs the failed batch)
    AdmissionStore.writeEpoch(bandRow("b1", 1L), col("bucket"), table, 1L)
    assert(storedPairs(table) == Set(("b0", 0L), ("b1", 1L)))
  }

  test("a stale lock (crashed maintainer) does not wedge the stream, and the next maintenance steals it") {
    val table = tmp("maint_stale") + "/bands"
    AdmissionStore.writeEpoch(bandRow("b0", 0L), col("bucket"), table, 0L)
    Files.createFile(lockOf(table))
    Files.setLastModifiedTime(lockOf(table),
      java.nio.file.attribute.FileTime.fromMillis(
        System.currentTimeMillis() - Publish.LockStaleMs - 1000))
    // the writer treats the stale lock as absent — availability over a
    // dead maintainer
    AdmissionStore.writeEpoch(bandRow("b1", 1L), col("bucket"), table, 1L)
    assert(storedPairs(table) == Set(("b0", 0L), ("b1", 1L)))
    // the next maintenance steals the stale lock instead of dead-ending
    val rep = AdmissionStore.maintain(spark, table, col("bucket"))
    assert(rep.isDefined && !Files.exists(lockOf(table)))
  }

  test("two concurrent maintainers: the second election fails loudly") {
    val table = tmp("maint_two") + "/bands"
    AdmissionStore.writeEpoch(bandRow("b0", 0L), col("bucket"), table, 0L)
    AdmissionStore.withMaintenance(spark, table) {
      val e = intercept[IllegalStateException] {
        AdmissionStore.maintain(spark, table, col("bucket"))
      }
      assert(e.getMessage.contains("maintainer"), e.getMessage)
    }
    // the outer maintainer released on exit; a fresh election works
    assert(AdmissionStore.maintain(spark, table, col("bucket")).isDefined)
  }

  test("epoch-set drift aborts the publish loudly and drops the staged tree — the raced epoch survives") {
    val table = tmp("maint_drift") + "/bands"
    AdmissionStore.writeEpoch(bandRow("b0", 0L), col("bucket"), table, 0L)
    AdmissionStore.writeEpoch(bandRow("b1", 1L), col("bucket"), table, 1L)
    val snapshot = AdmissionStore.epochSet(spark, table)
    // a writer slips past a stale lock while the maintainer is staging
    AdmissionStore.writeEpoch(bandRow("b2", 2L), col("bucket"), table, 2L)
    val staged = s"${table}_rebucket_tmp-test"
    AdmissionStore.withMaintenance(spark, table) {
      Files.createDirectories(Paths.get(staged))
      val e = intercept[IllegalStateException] {
        AdmissionStore.guardEpochDrift(spark, table, snapshot, staged)
      }
      assert(e.getMessage.contains("drifted"), e.getMessage)
    }
    assert(!Files.exists(Paths.get(staged)), "staged tree not dropped")
    // nothing lost: all three epochs' rows still read back
    assert(storedPairs(table) == Set(("b0", 0L), ("b1", 1L), ("b2", 2L)))
  }

  test("a maintainer that lost its lock to a stale-steal aborts before publishing, and never deletes the thief's lock") {
    val table = tmp("maint_theft") + "/bands"
    AdmissionStore.writeEpoch(bandRow("b0", 0L), col("bucket"), table, 0L)
    val snapshot = AdmissionStore.epochSet(spark, table)
    val staged = s"${table}_rebucket_tmp-test"
    AdmissionStore.withMaintenance(spark, table) {
      // simulate the steal: the slow maintainer's lock went stale and a
      // second maintainer re-elected with its own token (drop the
      // Hadoop checksum sidecar — this nio write bypasses it, and a
      // stale crc would make the lock read as corrupt instead)
      Files.deleteIfExists(lockOf(table).getParent
        .resolve("." + lockOf(table).getFileName + ".crc"))
      Files.write(lockOf(table), "thief-token".getBytes("UTF-8"))
      Files.createDirectories(Paths.get(staged))
      val e = intercept[IllegalStateException] {
        AdmissionStore.guardEpochDrift(spark, table, snapshot, staged)
      }
      assert(e.getMessage.contains("lock lost") ||
        e.getMessage.contains("stole"), e.getMessage)
      assert(!Files.exists(Paths.get(staged)),
        "superseded maintainer's staged tree not dropped")
    }
    // release must NOT delete the thief's lock: the thief owns the
    // table now, and deleting would expose its publish window to writers
    assert(Files.exists(lockOf(table)), "thief's lock deleted on release")
    assert(new String(Files.readAllBytes(lockOf(table)), "UTF-8")
      == "thief-token")
    Files.delete(lockOf(table))
    // the store is untouched throughout
    assert(storedPairs(table) == Set(("b0", 0L)))
  }

  test("a live writer raced against repeated maintenance: every reported success survives, every failure is loud") {
    val table = tmp("maint_race") + "/bands"
    AdmissionStore.writeEpoch(bandRow("seed", -1L), col("bucket"), table, 0L)
    val successes = java.util.concurrent.ConcurrentHashMap.newKeySet[Long]()
    val unexpected = new java.util.concurrent.atomic.AtomicReference[Throwable]()
    val writer = new Thread(() => {
      for (i <- 1L to 12L) {
        try {
          AdmissionStore.writeEpoch(bandRow(s"b$i", i), col("bucket"),
            table, 100L + i)
          successes.add(i)
        } catch {
          // the ONLY acceptable failure is the loud maintenance-lock
          // abort (the batch-retry path); anything else is a bug
          case e: IllegalStateException
            if e.getMessage.contains("maintenance") ||
              e.getMessage.contains("aside") => ()
          case t: Throwable => unexpected.compareAndSet(null, t)
        }
      }
    })
    writer.start()
    var maintErrs = 0
    for (_ <- 0 until 6) {
      // each compact is a real staged publish over the whole store — the
      // exact window the r16 verdict flagged as fail-silent
      try AdmissionStore.compactEpochs(spark,
        Paths.get(table).getParent.toString, "bands")
      catch {
        case e: IllegalStateException if e.getMessage.contains("drifted") =>
          maintErrs += 1 // the loud maintenance-side abort: re-runnable
      }
    }
    writer.join(120000)
    assert(!writer.isAlive, "writer thread hung")
    assert(unexpected.get() == null, s"writer died: ${unexpected.get()}")
    // ZERO SILENT LOSS: every epoch the writer reported as committed is
    // readable afterwards (possibly folded into the compacted base)
    val stored = storedPairs(table)
    import scala.jdk.CollectionConverters._
    for (i <- successes.asScala)
      assert(stored.contains((s"b$i", i)),
        s"epoch $i was reported committed but its rows are gone " +
          s"(survived: $stored, maintenance aborts: $maintErrs)")
    assert(stored.contains(("seed", -1L)))
  }

  test("width signal carries bytes incrementally: no per-batch store walk, retries don't double-count, debris never inflates") {
    val table = tmp("maint_bytes") + "/bands"
    AdmissionStore.writeEpoch(bandRow("b0", 0L), col("bucket"), table, 0L)
    val sig1 = AdmissionStore.writeEpoch(bandRow("b1", 1L), col("bucket"),
      table, 1L).get
    assert(sig1.storeBytes == diskBytesUnderEpochs(table),
      s"carry ${sig1.storeBytes} != walk ${diskBytesUnderEpochs(table)}")
    // a RETRY of epoch 1 replaces, not adds: the carry subtracts the
    // replaced epoch's bytes
    val sig1r = AdmissionStore.writeEpoch(bandRow("b1", 1L), col("bucket"),
      table, 1L).get
    assert(sig1r.storeBytes == diskBytesUnderEpochs(table),
      s"retry double-counted: ${sig1r.storeBytes} vs ${diskBytesUnderEpochs(table)}")
    // crashed-write staged debris is invisible to the signal even across
    // a re-base (epoch=* dirs only — the r16 ADVICE flag)
    val debris = Paths.get(s"$table/.epoch_stage_9/pb=0")
    Files.createDirectories(debris)
    Files.write(debris.resolve("part-junk.parquet"), new Array[Byte](1 << 20))
    Files.delete(Paths.get(s"$table/_BYTES")) // force the re-base walk
    val sig2 = AdmissionStore.widthSignal(spark, table)
    assert(sig2.storeBytes == diskBytesUnderEpochs(table),
      s"debris inflated the signal: ${sig2.storeBytes}")
    // maintenance sweeps never-retried staged debris
    AdmissionStore.maintain(spark, table, col("bucket"))
    assert(!Files.exists(Paths.get(s"$table/.epoch_stage_9")),
      "maintain did not sweep staged debris")
    // and a torn/deleted cell self-heals on the next write
    Files.deleteIfExists(Paths.get(s"$table/_BYTES"))
    val sig3 = AdmissionStore.writeEpoch(bandRow("b3", 3L), col("bucket"),
      table, 3L).get
    assert(sig3.storeBytes == diskBytesUnderEpochs(table))
  }

  test("an empty epoch publishes nothing: no epoch dir, no staged debris, pruned reads unaffected") {
    import spark.implicits._
    val table = tmp("maint_empty") + "/bands"
    val stored = bandRow("b0", 0L).schema
    def prunedRead(keys: Seq[String]): Option[Set[(String, Long)]] = {
      val k = keys.toDF("bucket")
      val (cp, read) = AdmissionStore.observeTouched(k, col("bucket"), table, stored)
      cp.localCheckpoint()
      read.map(_.read(spark).select("bucket", "doc_id").collect()
        .map(r => (r.getString(0), r.getLong(1))).toSet)
    }
    def entries = Option(new java.io.File(table).list()).map(_.toSet).getOrElse(Set.empty)
    // a fresh table whose first epoch is empty stays a store with no epochs
    assert(AdmissionStore.writeEpoch(bandRow("b0", 0L).limit(0), col("bucket"),
      table, 0L).isEmpty)
    assert(!entries.exists(n => n.startsWith("epoch=") || n.startsWith(".epoch_stage_")),
      s"empty first epoch left $entries")
    assert(prunedRead(Seq("b0")).isEmpty)
    // after a real epoch, an empty one adds no dir and changes no read
    assert(AdmissionStore.writeEpoch(bandRow("b0", 0L), col("bucket"), table, 0L).nonEmpty)
    val before = prunedRead(Seq("b0", "b1"))
    assert(before.contains(Set(("b0", 0L))), s"$before")
    assert(AdmissionStore.writeEpoch(bandRow("b1", 1L).limit(0), col("bucket"),
      table, 1L).isEmpty)
    assert(!entries.contains("epoch=1") && !entries.exists(_.startsWith(".epoch_stage_")),
      s"empty epoch left $entries")
    assert(prunedRead(Seq("b0", "b1")) == before)
  }

  test("epoch replacement is recoverable mid-dance: the old-aside restores on the next gate read") {
    import spark.implicits._
    val store = tmp("maint_oldaside"); val kept = tmp("maint_oldaside_kept")
    // letter-only tokens: the shingle tokenizer keeps [a-z]+ words, so a
    // digit-suffixed scheme would collapse every doc to the same shingles
    def alpha(n: Int): String =
      s"${(97 + n % 26).toChar}${(97 + (n / 26) % 26).toChar}${(97 + (n / 676) % 26).toChar}"
    def doc(i: Int): String = (0 until 8).map(k =>
      s"word${alpha((i * 7 + k) % 13)} tok${alpha(i * 8 + k)}").mkString(" ")
    NearDupAdmission.admit(
      (0 until 10).map(i => (i.toLong, doc(i))).toDF("doc_id", "text"),
      0L, store, kept)
    NearDupAdmission.admit(
      (10 until 20).map(i => (i.toLong, doc(i))).toDF("doc_id", "text"),
      1L, store, kept)
    // simulate a crash between writeEpoch's two renames: epoch 1 absent,
    // its committed rows in the hidden old-aside
    val bands = s"$store/bands"
    val rowsBefore = spark.read.parquet(bands).count()
    Files.move(Paths.get(s"$bands/epoch=1"),
      Paths.get(s"$bands/.epoch_old_1"))
    // the next gate read settles the aside BEFORE judging — a doc-17
    // clone must still be blocked (fail-open would re-admit it)
    NearDupAdmission.admit(
      Seq((100L, doc(17)), (101L, doc(900))).toDF("doc_id", "text"),
      2L, store, kept)
    assert(Files.exists(Paths.get(s"$bands/epoch=1")),
      "old-aside not restored on read")
    val kept2 = spark.read.parquet(s"$kept/epoch=2")
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(kept2 == Set(101L), s"recovered epoch did not gate: $kept2")
    assert(spark.read.parquet(bands).filter(col("epoch") =!= 2).count()
      == rowsBefore)
  }

  test("a deleted TABLE _PBK recovers structurally from agreeing epoch markers at the next maintenance") {
    val table = tmp("maint_stamp") + "/bands"
    AdmissionStore.writeEpoch(bandRow("b0", 0L), col("bucket"), table, 0L)
    AdmissionStore.writeEpoch(bandRow("b1", 1L), col("bucket"), table, 1L)
    Files.delete(Paths.get(s"$table/_PBK"))
    // reads fail loudly while the stamp is gone (unchanged contract)
    import spark.implicits._
    intercept[IllegalStateException] {
      val keys = Seq("b0").toDF("bucket")
      AdmissionStore.observeTouched(keys, col("bucket"), table, keys.schema)
    }
    // the advertised recovery now actually works: compact/maintain
    // re-derive the stamp from the agreeing per-epoch markers
    AdmissionStore.compactEpochs(spark,
      Paths.get(table).getParent.toString, "bands")
    assert(AdmissionStore.layoutK(spark, table)
      .contains(AdmissionStore.DefaultBuckets))
    assert(storedPairs(table) == Set(("b0", 0L), ("b1", 1L)))
  }

  test("a paused maintainer that resumes AFTER a genuine stale-steal aborts " +
    "loudly and never publishes over the thief (end-to-end, real steal path)") {
    val table = tmp("maint_paused") + "/bands"
    AdmissionStore.writeEpoch(bandRow("b0", 0L), col("bucket"), table, 0L)
    AdmissionStore.writeEpoch(bandRow("b1", 1L), col("bucket"), table, 1L)
    val staged = s"${table}_rebucket_tmp-paused"
    AdmissionStore.withMaintenance(spark, table) {
      val snapshot = AdmissionStore.epochSet(spark, table)
      // the maintainer legally pauses past LockStaleMs (GC, host
      // stall — the r16/r17 bench windows saw 2.8× swings): age the lock
      Files.setLastModifiedTime(lockOf(table),
        java.nio.file.attribute.FileTime.fromMillis(
          System.currentTimeMillis() - Publish.LockStaleMs - 1000))
      // a SECOND maintainer elects through the PRODUCTION steal path and
      // completes a real staged publish (compact folds both epochs)
      AdmissionStore.compactEpochs(spark,
        Paths.get(table).getParent.toString, "bands")
      val afterThief = storedPairs(table)
      assert(afterThief == Set(("b0", 0L), ("b1", 1L)))
      // the paused maintainer RESUMES: its guard must abort — its token
      // is gone (the thief owned and released) — and drop its staged tree
      Files.createDirectories(Paths.get(staged))
      val e = intercept[IllegalStateException] {
        AdmissionStore.guardEpochDrift(spark, table, snapshot, staged)
      }
      assert(e.getMessage.contains("lock lost"), e.getMessage)
      assert(!Files.exists(Paths.get(staged)),
        "paused maintainer's staged tree not dropped")
      // the thief's published tree is untouched by the aborted publish
      assert(storedPairs(table) == afterThief)
    }
    // release never deletes what isn't ours: after the thief released,
    // there is no lock left to delete — a fresh election must succeed
    assert(!Files.exists(lockOf(table)))
    assert(AdmissionStore.maintain(spark, table, col("bucket")).isDefined)
  }

  test("a stale-steal that races the live owner's lock refresh hands the " +
    "lock back and aborts — never two elected maintainers") {
    val table = tmp("maint_stealrace") + "/bands"
    AdmissionStore.writeEpoch(bandRow("b0", 0L), col("bucket"), table, 0L)
    // the owner: a maintainer whose lock went stale but who is still alive
    Files.createFile(lockOf(table))
    Files.write(lockOf(table), "owner-token".getBytes("UTF-8"))
    Files.deleteIfExists(lockOf(table).getParent
      .resolve("." + lockOf(table).getFileName + ".crc"))
    Files.setLastModifiedTime(lockOf(table),
      java.nio.file.attribute.FileTime.fromMillis(
        System.currentTimeMillis() - Publish.LockStaleMs - 1000))
    // force the r17-review interleaving: the owner's touchMaintLock lands
    // BETWEEN the thief's staleness judgment and its rename-aside
    Publish.stealRaceProbe = () =>
      Files.setLastModifiedTime(lockOf(table),
        java.nio.file.attribute.FileTime.fromMillis(System.currentTimeMillis()))
    try {
      val e = intercept[IllegalStateException] {
        AdmissionStore.withMaintenance(spark, table) {
          fail("the thief must not elect over a lock refreshed mid-steal")
        }
      }
      assert(e.getMessage.contains("refreshed"), e.getMessage)
    } finally Publish.stealRaceProbe = () => ()
    // the lock was handed BACK: still present, still the owner's token,
    // still fresh — the owner's next guard/touch passes untouched
    assert(Files.exists(lockOf(table)), "owner's refreshed lock not handed back")
    assert(new String(Files.readAllBytes(lockOf(table)), "UTF-8").trim
      == "owner-token")
    assert(System.currentTimeMillis() -
      Files.getLastModifiedTime(lockOf(table)).toMillis
      < Publish.LockStaleMs, "handed-back lock must be fresh")
    Files.delete(lockOf(table))
  }
}
