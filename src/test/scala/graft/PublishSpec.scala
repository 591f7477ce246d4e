package graft

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path, Paths}
import java.nio.file.attribute.FileTime
import java.util.concurrent.atomic.AtomicInteger
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite
import graft.sources.{LedgerSource, LedgerStreamingWrite, LedgerWrite}
import graft.streaming.{AdmissionStore, BucketedUpsert}

/** One table of lock, steal and crash cases run against every store that
  * publishes through [[Publish]]: the lock cases against the stores that
  * elect a writer (ArtifactStore builders, AdmissionStore maintainers),
  * the crash cases against all four. Plus the guard that keeps the
  * protocol in one module: nothing else in `src/main/scala` renames,
  * moves or exclusively creates files.
  */
class PublishSpec extends AnyFunSuite with TempDirs {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  /** One election on a fresh store: the lock file it contends for, and
    * one attempt that returns whether it won (and ran its body). */
  private case class Election(lock: Path, attempt: () => Boolean)

  /** A store under test: how to set up an election (stores that elect a
    * writer), and its two crash cases — each leaves the state a crash
    * leaves, checks what readers see, makes the next access and checks
    * the recovery. */
  private case class Rig(name: String, election: Option[() => Election],
      stagingCrash: () => Unit, midSwapCrash: () => Unit)

  private def md5(s: String): String =
    java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes(UTF_8)).map("%02x".format(_)).mkString

  private def withStore[T](root: String)(f: => T): T = {
    val prev = spark.conf.getOption("spark.graft.artifacts.path")
    spark.conf.set("spark.graft.artifacts.path", root)
    try f finally prev match {
      case Some(v) => spark.conf.set("spark.graft.artifacts.path", v)
      case None => spark.conf.unset("spark.graft.artifacts.path")
    }
  }

  private def age(p: Path, ms: Long): Unit =
    Files.setLastModifiedTime(p, FileTime.fromMillis(System.currentTimeMillis() - ms))

  private def names(dir: Path): Set[String] =
    if (!Files.isDirectory(dir)) Set.empty
    else { val s = Files.list(dir); try s.iterator().asScala.map(_.getFileName.toString).toSet finally s.close() }

  // ---------------------------------------------------------------------
  // ArtifactStore: builders elect per entry; publish-if-absent
  // ---------------------------------------------------------------------

  private val artifactStore = Rig("ArtifactStore",
    election = Some { () =>
      val root = tmp("pub_art")
      val lock = Paths.get(root, "fam", "fp=" + md5(
        s"v${ArtifactStore.SchemaVersion}:c${ArtifactStore.codeFingerprint}:fpE") + ".lock")
      Files.createDirectories(lock.getParent)
      Election(lock, () => withStore(root) {
        val built = new AtomicInteger(0)
        ArtifactStore.put(spark, "fam", "fpE") { built.incrementAndGet(); spark.range(2).toDF("id") }
        built.get == 1
      })
    },
    stagingCrash = { () =>
      val root = tmp("pub_art_stage")
      withStore(root) {
        val builds = new AtomicInteger(0)
        def read() = ArtifactStore.readThrough(spark, "fam", "fpS") {
          builds.incrementAndGet(); spark.range(3).toDF("id") }.count()
        assert(read() == 3L)
        // a builder killed after staging: a tmp build dir with data, no publish
        val debris = Paths.get(root, "fam", ".tmp-crashed")
        Files.createDirectories(debris.resolve("data"))
        Files.write(debris.resolve("data").resolve("part-0.parquet"), Array[Byte](1, 2, 3))
        assert(read() == 3L && builds.get == 1, "staging debris disturbed a reader")
        age(debris, Publish.LockStaleMs + 60000)
        val gone = ArtifactStore.gc(new org.apache.hadoop.fs.Path(root), 7L * 24 * 3600 * 1000)
        assert(gone.map(_.toString).contains(debris.toString), s"debris not swept: $gone")
        assert(!Files.exists(debris) && read() == 3L && builds.get == 1)
      }
    },
    midSwapCrash = { () =>
      // the store's replace of an entry is a manifest-first delete: a
      // crash inside it leaves a manifest-less, half-deleted entry
      val root = tmp("pub_art_swap")
      withStore(root) {
        val builds = new AtomicInteger(0)
        def read() = ArtifactStore.readThrough(spark, "fam", "fpM") {
          builds.incrementAndGet(); spark.range(4).toDF("id") }.count()
        assert(read() == 4L)
        val entry = Files.list(Paths.get(root, "fam")).iterator().asScala
          .find(_.getFileName.toString.startsWith("fp=")).get
        Files.delete(entry.resolve("_MANIFEST"))
        Files.list(entry.resolve("data")).iterator().asScala.toList
          .filter(_.getFileName.toString.endsWith(".parquet")).take(1).foreach(Files.delete(_))
        assert(read() == 4L && builds.get == 2, "the half-deleted entry was not rebuilt")
        assert(ArtifactStore.readIfPresent(spark, "fam", "fpM").get.count() == 4L)
      }
    })

  // ---------------------------------------------------------------------
  // AdmissionStore: maintainers elect per table; epoch and table swaps
  // ---------------------------------------------------------------------

  private def bandRow(b: String, id: Long): DataFrame = {
    import spark.implicits._
    Seq((b, id)).toDF("bucket", "doc_id")
  }

  private def storedPairs(table: String): Set[(String, Long)] =
    spark.read.parquet(table).select("bucket", "doc_id").collect()
      .map(r => (r.getString(0), r.getLong(1))).toSet

  /** A gate's pruned read of `keys`, as every admission runs it. */
  private def gateRead(table: String, keys: Seq[String]): Set[(String, Long)] = {
    import spark.implicits._
    val k = keys.toDF("bucket")
    val (cp, read) = AdmissionStore.observeTouched(k, col("bucket"), table,
      bandRow("b", 0L).schema)
    cp.localCheckpoint()
    read.map(_.read(spark).select("bucket", "doc_id").collect()
      .map(r => (r.getString(0), r.getLong(1))).toSet).getOrElse(Set.empty)
  }

  private val admissionStore = Rig("AdmissionStore",
    election = Some { () =>
      val table = tmp("pub_adm") + "/bands"
      AdmissionStore.writeEpoch(bandRow("b0", 0L), col("bucket"), table, 0L)
      Election(Paths.get(s"${table}_maint.lock"), () =>
        try AdmissionStore.withMaintenance(spark, table)(true)
        catch { case _: IllegalStateException => false })
    },
    stagingCrash = { () =>
      val store = tmp("pub_adm_stage"); val table = s"$store/bands"
      AdmissionStore.writeEpoch(bandRow("b0", 0L), col("bucket"), table, 0L)
      // a writer killed after staging epoch 7: hidden, unmarked, never retried
      val debris = Paths.get(table, ".epoch_stage_7", "pb=0")
      Files.createDirectories(debris)
      Files.write(debris.resolve("part-junk.parquet"), Array[Byte](1, 2, 3))
      assert(gateRead(table, Seq("b0")) == Set(("b0", 0L)), "staging debris disturbed a reader")
      AdmissionStore.compactEpochs(spark, store, "bands")
      assert(!Files.exists(Paths.get(table, ".epoch_stage_7")), "debris not swept")
      assert(storedPairs(table) == Set(("b0", 0L)))
    },
    midSwapCrash = { () =>
      val store = tmp("pub_adm_swap"); val table = s"$store/bands"
      AdmissionStore.writeEpoch(bandRow("b0", 0L), col("bucket"), table, 0L)
      AdmissionStore.writeEpoch(bandRow("b1", 1L), col("bucket"), table, 1L)
      // an epoch replacement cut between its renames: the next read restores it
      Files.move(Paths.get(table, "epoch=1"), Paths.get(table, ".epoch_old_1"))
      assert(gateRead(table, Seq("b0", "b1")) == Set(("b0", 0L), ("b1", 1L)))
      assert(Files.exists(Paths.get(table, "epoch=1")) &&
        !Files.exists(Paths.get(table, ".epoch_old_1")))
      // a maintenance publish cut between its renames: reads refuse to
      // run, the next maintenance restores it
      Files.move(Paths.get(table), Paths.get(s"${table}_aside"))
      intercept[IllegalStateException](gateRead(table, Seq("b0")))
      AdmissionStore.compactEpochs(spark, store, "bands")
      assert(!Files.exists(Paths.get(s"${table}_aside")))
      assert(storedPairs(table) == Set(("b0", 0L), ("b1", 1L)))
    })

  // ---------------------------------------------------------------------
  // BucketedUpsert: per-bucket swaps, no writer election
  // ---------------------------------------------------------------------

  private def latestWins(existing: DataFrame, fresh: DataFrame): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window.partitionBy("k").orderBy(col("ts").desc)
    existing.unionByName(fresh).withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1).drop("rn")
  }

  private def upsert(table: String, rows: (String, Long)*): Set[(String, Long)] = {
    import spark.implicits._
    BucketedUpsert.upsert(rows.toDF("k", "ts"), table, "k")(latestWins)
    spark.read.parquet(table).select("k", "ts").collect()
      .map(r => (r.getString(0), r.getLong(1))).toSet
  }

  private val bucketedUpsert = Rig("BucketedUpsert",
    election = None,
    stagingCrash = { () =>
      val table = tmp("pub_bu_stage") + "/lookup"
      assert(upsert(table, "k1" -> 1L) == Set(("k1", 1L)))
      // an upsert killed after staging: its staged tree sits beside the table
      val debris = Paths.get(s"${table}_epoch_tmp", "bucket=3")
      Files.createDirectories(debris)
      Files.write(debris.resolve("part-junk.parquet"), Array[Byte](1, 2, 3))
      assert(spark.read.parquet(table).count() == 1L, "staging debris disturbed a reader")
      assert(upsert(table, "k2" -> 1L) == Set(("k1", 1L), ("k2", 1L)))
      assert(!Files.exists(Paths.get(s"${table}_epoch_tmp")), "debris not swept")
    },
    midSwapCrash = { () =>
      val table = tmp("pub_bu_swap") + "/lookup"
      upsert(table, "k1" -> 1L, "k2" -> 1L)
      val bucket = names(Paths.get(table)).filter(_.startsWith("bucket=")).min
      val b = bucket.stripPrefix("bucket=")
      Files.move(Paths.get(table, bucket), Paths.get(table, s".bucket_old_$b"))
      // the next upsert (any key) settles the swap before it reads
      assert(upsert(table, "k3" -> 1L) == Set(("k1", 1L), ("k2", 1L), ("k3", 1L)))
      assert(!names(Paths.get(table)).exists(_.startsWith(".bucket_old_")))
    })

  // ---------------------------------------------------------------------
  // LedgerWrite: segment and manifest publication, no writer election
  // ---------------------------------------------------------------------

  private val ledgerSchema = new StructType()
    .add("partition", IntegerType).add("key", StringType).add("value", BinaryType)

  private def entries(root: Path, p: Int): Long =
    LedgerSource.listLedgers(root.resolve(s"partition-$p")).map(_.entries).sum

  private val ledgerWrite = Rig("LedgerWrite",
    election = None,
    stagingCrash = { () =>
      val root = Paths.get(tmp("pub_ledger_stage"))
      val w = new LedgerStreamingWrite(root.toString, "q", ledgerSchema, Map.empty)
      val staging = root.resolve(".staging").resolve("stream-q")
      Files.createDirectories(staging)
      Files.write(staging.resolve("t0-p0.piece"), "k,v\n".getBytes(UTF_8))
      val msg = LedgerWrite.LedgerCommitMessage("t0", Seq(LedgerWrite.Piece(0, "t0-p0.piece", 1)))
      // a commit killed after merging its segment, before the manifest
      val tmpSeg = root.resolve("partition-0").resolve(".tmp-q-3")
      Files.createDirectories(tmpSeg.getParent)
      Files.write(tmpSeg, "k,v\n".getBytes(UTF_8))
      assert(entries(root, 0) == 0L, "a staged segment was visible to readers")
      w.commit(3L, Array(msg)) // the retried commit
      assert(entries(root, 0) == 1L)
      assert(names(root.resolve("partition-0")) == Set("ledger-0.log"), "debris not swept")
    },
    midSwapCrash = { () =>
      val root = Paths.get(tmp("pub_ledger_swap"))
      val w = new LedgerStreamingWrite(root.toString, "q", ledgerSchema, Map.empty)
      val staging = root.resolve(".staging").resolve("stream-q")
      Files.createDirectories(staging)
      // a commit killed between its two segment renames: partition 0
      // published, partition 1 still staged under the recorded plan
      Seq(0, 1).foreach(p => Files.createDirectories(root.resolve(s"partition-$p")))
      Files.write(root.resolve("partition-0/ledger-0.log"), "a,x\n".getBytes(UTF_8))
      Files.write(root.resolve("partition-1/.tmp-q-4"), "b,y\n".getBytes(UTF_8))
      Files.write(staging.resolve("manifest-4"),
        "0,.tmp-q-4,ledger-0.log\n1,.tmp-q-4,ledger-0.log".getBytes(UTF_8))
      w.commit(4L, Array.empty) // the retried commit replays the plan
      assert(entries(root, 0) == 1L && entries(root, 1) == 1L)
      assert(names(root.resolve("partition-1")) == Set("ledger-0.log"))
      assert(Files.exists(root.resolve("_commits").resolve("q-4")))
    })

  private val rigs = Seq(artifactStore, admissionStore, bucketedUpsert, ledgerWrite)

  private def plantLock(lock: Path, token: String): Unit = {
    Files.deleteIfExists(lock.resolveSibling(s".${lock.getFileName}.crc"))
    Files.write(lock, token.getBytes(UTF_8))
  }

  private def tokenOf(lock: Path): String = new String(Files.readAllBytes(lock), UTF_8).trim

  for (rig <- rigs; election <- rig.election) {
    test(s"${rig.name}: a fresh lock loses the election and is left alone") {
      val e = election()
      plantLock(e.lock, "live-holder")
      assert(!e.attempt(), "won over a fresh lock")
      assert(tokenOf(e.lock) == "live-holder")
      Files.delete(e.lock)
      assert(e.attempt(), "a free lock was not won")
      assert(!Files.exists(e.lock), "the winner did not release its lock")
    }

    test(s"${rig.name}: of two stealers of a stale lock exactly one wins") {
      val e = election()
      plantLock(e.lock, "crashed-holder")
      age(e.lock, Publish.LockStaleMs + 1000)
      var second: Option[Boolean] = None
      // the second stealer runs whole between the first one's staleness
      // judgement and its rename
      Publish.stealRaceProbe = () => {
        Publish.stealRaceProbe = () => ()
        second = Some(e.attempt())
      }
      val first = try e.attempt() finally Publish.stealRaceProbe = () => ()
      assert(second.isDefined, "the steal never reached its rename")
      assert(Seq(first, second.get).count(identity) == 1,
        s"stealers won: first=$first second=${second.get}")
      assert(!names(e.lock.getParent).exists(_.contains(".stale-")), "a tomb was left behind")
    }

    test(s"${rig.name}: the tomb re-check hands a lock refreshed mid-steal back") {
      val e = election()
      plantLock(e.lock, "slow-holder")
      age(e.lock, Publish.LockStaleMs + 1000)
      Publish.stealRaceProbe = () =>
        Files.setLastModifiedTime(e.lock, FileTime.fromMillis(System.currentTimeMillis()))
      try assert(!e.attempt(), "elected over a lock its owner refreshed")
      finally Publish.stealRaceProbe = () => ()
      assert(tokenOf(e.lock) == "slow-holder", "the refreshed lock was not handed back")
      assert(System.currentTimeMillis() - Files.getLastModifiedTime(e.lock).toMillis <
        Publish.LockStaleMs)
      Files.delete(e.lock)
    }
  }

  for (rig <- rigs) {
    test(s"${rig.name}: a crash after staging leaves only invisible debris that gets swept") {
      rig.stagingCrash()
    }
    test(s"${rig.name}: a crash mid-swap is restored on the next access") {
      rig.midSwapCrash()
    }
  }

  /** src/main/scala's sources, split into graft/Publish.scala and the rest. */
  private def mainSources: (List[Path], List[Path]) = {
    val walk = Files.walk(Paths.get("src/main/scala"))
    val sources = try walk.iterator().asScala.filter(_.toString.endsWith(".scala")).toList
      finally walk.close()
    assert(sources.size > 20, s"the scan found only ${sources.size} sources")
    sources.partition(_.endsWith(Paths.get("graft", "Publish.scala")))
  }

  test("only Publish renames, moves or exclusively creates files in src/main/scala") {
    val banned = Seq("Files.move", "Files.createFile", "ATOMIC_MOVE", ".rename(")
    val (publish, rest) = mainSources
    assert(publish.size == 1 && Files.readString(publish.head).contains(".rename("))
    val offenders = for (f <- rest; b <- banned if Files.readString(f).contains(b)) yield s"$f: $b"
    assert(offenders.isEmpty, s"publish outside graft.Publish: ${offenders.mkString("; ")}")
  }

  test("outside Publish, src/main/scala resolves filesystems from paths, never FileSystem.get") {
    // FileSystem.get(conf) is the DEFAULT filesystem: a store on another
    // scheme (s3a:// on an hdfs cluster) fails with "Wrong FS"; Publish.fsOf
    // resolves the path's own. Matched across whitespace and line breaks.
    val get = """FileSystem\s*\.\s*get\s*\(""".r
    val (_, rest) = mainSources
    val offenders = rest.filter(f => get.findFirstIn(Files.readString(f)).isDefined)
    assert(offenders.isEmpty, s"FileSystem.get outside graft.Publish: ${offenders.mkString("; ")}")
  }
}
