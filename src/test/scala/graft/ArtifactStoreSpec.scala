package graft

import java.nio.file.{Files, Paths}
import java.util.concurrent.atomic.AtomicInteger
import org.apache.hadoop.fs.{Path => HPath}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The disk-backed artifact store — always on, the only materialization
  * path of the corpus artifact families: build-once/read-forever across
  * JVMs, atomic first-writer-wins publishes, lock-elected single builder
  * under a planted race, corrupt-entry self-healing, loud failure on a
  * disabling root, and store-backed shared getters under the one L1
  * (`Artifacts.frame`, keyed by the documents or the embeddings
  * fingerprint). readThrough deliberately keeps NO in-memory state — the
  * disk is the only carrier — so "second call in this JVM reads without
  * building" is exactly the fresh-JVM behavior (the cross-JVM run is
  * additionally exercised for real by two sequential `sbt runMain`
  * prewarm passes; see SCALING.md).
  */
class ArtifactStoreSpec extends AnyFunSuite with TempDirs {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  private def freshRoot(): String =
    tmp("graft-store-spec")

  private def withStore[T](root: String)(f: => T): T = {
    val prev = spark.conf.getOption("spark.graft.artifacts.path")
    spark.conf.set("spark.graft.artifacts.path", root)
    try f finally prev match {
      case Some(v) => spark.conf.set("spark.graft.artifacts.path", v)
      case None => spark.conf.unset("spark.graft.artifacts.path")
    }
  }

  test("readThrough builds once, then serves parquet reads with no in-memory state") {
    val root = freshRoot()
    withStore(root) {
      val builds = new AtomicInteger(0)
      def build = { builds.incrementAndGet()
        spark.range(10).select(col("id"), (col("id") * 2).as("v")) }
      val first = ArtifactStore.readThrough(spark, "specfam", "fpA")(build)
      assert(builds.get == 1)
      assert(first.collect().map(_.getLong(1)).sorted.sameElements(
        (0L until 10L).map(_ * 2)))
      // second call: no L1 anywhere in ArtifactStore, so this IS the
      // fresh-JVM path — must read the published copy, not rebuild
      val second = ArtifactStore.readThrough(spark, "specfam", "fpA")(build)
      assert(builds.get == 1, "second readThrough rebuilt instead of reading disk")
      // every scanned file is under the store root (inputFiles, not the
      // plan string: explain abbreviates a long Location path)
      assert(second.inputFiles.nonEmpty &&
        second.inputFiles.forall(_.contains(root)),
        "returned frame does not scan the store path")
      assert(second.collect().length == 10)
      // a different fingerprint is a different entry
      ArtifactStore.readThrough(spark, "specfam", "fpB")(build)
      assert(builds.get == 2)
      // no leftover tmp dirs or lock files
      val leftovers = Files.list(Paths.get(root, "specfam")).toArray.map(_.toString)
        .filter(p => p.contains(".tmp-") || p.endsWith(".lock"))
      assert(leftovers.isEmpty, s"unclean publish: ${leftovers.mkString(",")}")
    }
  }

  test("corrupt or mismatched entries are replaced, not trusted") {
    val root = freshRoot()
    withStore(root) {
      val builds = new AtomicInteger(0)
      def build = { builds.incrementAndGet(); spark.range(5).toDF("id") }
      ArtifactStore.readThrough(spark, "heal", "fp1")(build)
      assert(builds.get == 1)
      // damage the manifest: the entry must be treated as a miss and
      // rebuilt in place
      val entry = Files.list(Paths.get(root, "heal")).toArray.map(_.toString)
        .filter(_.contains("fp=")).head
      Files.writeString(Paths.get(entry, "_MANIFEST"), "garbage")
      val healed = ArtifactStore.readThrough(spark, "heal", "fp1")(build)
      assert(builds.get == 2, "corrupt entry was served instead of rebuilt")
      assert(healed.collect().length == 5)
      assert(Files.readString(Paths.get(entry, "_MANIFEST")).startsWith("v"),
        "manifest not restored")
      // the inverse damage — manifest INTACT, data gone (an interrupted
      // gc delete, a torn copy): the read must self-heal into a rebuild,
      // not wedge the family behind a trusted-but-unreadable entry
      ArtifactStore.deleteRecursively(new HPath(entry, "data"))
      Files.writeString(Paths.get(entry, "_MANIFEST"),
        Files.readString(Paths.get(entry, "_MANIFEST"))) // keep it valid
      val healed2 = ArtifactStore.readThrough(spark, "heal", "fp1")(build)
      assert(builds.get == 3, "manifest-present/data-missing entry wedged the family")
      assert(healed2.collect().length == 5)
    }
  }

  test("two racing sessions build exactly once and read consistently") {
    val root = freshRoot()
    withStore(root) {
      val builds = new AtomicInteger(0)
      def build = {
        builds.incrementAndGet()
        Thread.sleep(500) // hold the lock long enough for a real overlap
        spark.range(100).select(col("id"), md5(col("id").cast("string")).as("h"))
      }
      import scala.concurrent.{Await, Future}
      import scala.concurrent.duration._
      import scala.concurrent.ExecutionContext.Implicits.global
      val fs = Seq.fill(2)(Future {
        ArtifactStore.readThrough(spark, "race", "fpR")(build)
          .collect().map(_.getString(1)).sorted.toSeq
      })
      val results = Await.result(Future.sequence(fs), 120.seconds)
      assert(builds.get == 1,
        s"planted race built ${builds.get} times — lock election failed")
      assert(results(0) == results(1), "racing readers saw different data")
      val leftovers = Files.list(Paths.get(root, "race")).toArray.map(_.toString)
        .filter(p => p.contains(".tmp-") || p.endsWith(".lock"))
      assert(leftovers.isEmpty, s"race left debris: ${leftovers.mkString(",")}")
    }
  }

  test("a builder that outlives its lock never deletes the thief's lock; one entry is published") {
    val root = freshRoot()
    withStore(root) {
      import scala.concurrent.{Await, Future}
      import scala.concurrent.duration._
      import scala.concurrent.ExecutionContext.Implicits.global
      val fam = Paths.get(root, "thief")
      def lockFile = Files.list(fam).toArray.map(_.asInstanceOf[java.nio.file.Path])
        .find(_.getFileName.toString.endsWith(".lock"))
      val thiefBuilding = new java.util.concurrent.CountDownLatch(1)
      val thiefGo = new java.util.concurrent.CountDownLatch(1)
      val builds = new AtomicInteger(0)
      var thief: Future[Long] = null
      val first = Future {
        ArtifactStore.readThrough(spark, "thief", "fpT") {
          builds.incrementAndGet()
          // this build runs past staleness: age its own lock ...
          Files.setLastModifiedTime(lockFile.get, java.nio.file.attribute.FileTime
            .fromMillis(System.currentTimeMillis() - Publish.LockStaleMs - 1000))
          // ... so a second session steals it and starts its own build
          thief = Future {
            ArtifactStore.readThrough(spark, "thief", "fpT") {
              builds.incrementAndGet()
              thiefBuilding.countDown()
              thiefGo.await()
              spark.range(7).toDF("id")
            }.count()
          }
          assert(thiefBuilding.await(60, SECONDS), "the stale lock was not stolen")
          spark.range(7).toDF("id")
        }.count()
      }
      assert(Await.result(first, 120.seconds) == 7L)
      // the first builder has released: the thief, still building, keeps
      // its lock
      assert(lockFile.isDefined, "the first builder's release deleted the thief's lock")
      thiefGo.countDown()
      assert(Await.result(thief, 120.seconds) == 7L)
      assert(builds.get == 2)
      val left = Files.list(fam).toArray.map(_.toString)
      assert(left.count(_.contains("fp=")) == 1 && !left.exists(p =>
        p.contains(".tmp-") || p.endsWith(".lock")),
        s"expected exactly one published entry: ${left.mkString(",")}")
    }
  }

  test("put is publish-if-absent: a retrainer never rewrites a published entry") {
    val root = freshRoot()
    withStore(root) {
      val writes = new AtomicInteger(0)
      def df = { writes.incrementAndGet(); spark.range(3).toDF("id") }
      ArtifactStore.put(spark, "bpe20", "fpP")(df)
      assert(writes.get == 1)
      val entry = Files.list(Paths.get(root, "bpe20")).toArray.map(_.toString)
        .filter(_.contains("fp=")).head
      val mtime = Files.getLastModifiedTime(Paths.get(entry, "_MANIFEST"))
      ArtifactStore.put(spark, "bpe20", "fpP")(df)
      assert(writes.get == 1, "second put re-evaluated/rewrote the entry")
      assert(Files.getLastModifiedTime(Paths.get(entry, "_MANIFEST")) == mtime)
      assert(ArtifactStore.readIfPresent(spark, "bpe20", "fpP").get
        .collect().length == 3)
    }
  }

  test("a disabling root (off or empty) fails loudly, naming the setting") {
    // the store cannot be turned off: `off` must not silently become a
    // relative directory called "off", nor an empty value the cwd
    Seq("off", "", "  ").foreach { bad =>
      withStore(bad) {
        val builds = new AtomicInteger(0)
        val e = intercept[IllegalArgumentException](
          ArtifactStore.readThrough(spark, "x", "y") {
            builds.incrementAndGet(); spark.range(2).toDF("id") })
        assert(e.getMessage.contains("spark.graft.artifacts.path") &&
          e.getMessage.contains("SPARK_GRAFT_ARTIFACTS"), e.getMessage)
        assert(builds.get == 0, "misconfigured store still ran the build")
        intercept[IllegalArgumentException](ArtifactStore.rootOf(spark))
      }
    }
    assert(!Files.exists(Paths.get("off")), "`off` became a relative store root")
  }

  test("gc ages out cold entries, orphan tmp dirs and stale locks — and spares live ones") {
    val root = freshRoot()
    withStore(root) {
      ArtifactStore.readThrough(spark, "gcfam", "fpOld")(spark.range(3).toDF("id"))
      ArtifactStore.readThrough(spark, "gcfam", "fpLive")(spark.range(4).toDF("id"))
      val fam = Paths.get(root, "gcfam")
      // plant debris a crashed builder would leave
      val tmp = fam.resolve(".tmp-dead")
      Files.createDirectories(tmp)
      val lock = fam.resolve("fp=deadbeef.lock")
      Files.createFile(lock)
      // age the old entry's manifest, the tmp dir and the lock past
      // their thresholds; keep fpLive fresh
      val oldEntry = Files.list(fam).toArray.map(_.toString)
        .filter(_.contains("fp=")).filterNot(_.endsWith(".lock")).sorted
      def age(p: java.nio.file.Path, ms: Long): Unit =
        Files.setLastModifiedTime(p,
          java.nio.file.attribute.FileTime.fromMillis(System.currentTimeMillis() - ms))
      val entries = oldEntry.map(Paths.get(_))
      val (live, dead) = entries.partition(e =>
        Files.readString(e.resolve("_MANIFEST")).endsWith("fpLive"))
      assert(live.length == 1 && dead.length == 1)
      dead.foreach(e => age(e.resolve("_MANIFEST"), 100L * 24 * 3600 * 1000))
      age(tmp, Publish.LockStaleMs + 60000)
      age(lock, Publish.LockStaleMs + 60000)
      val gone = ArtifactStore.gc(new HPath(root), 7L * 24 * 3600 * 1000)
        .map(_.toString).toSet
      assert(dead.forall(e => gone.contains(e.toString)), s"cold entry survived: $gone")
      assert(gone.contains(tmp.toString) && gone.contains(lock.toString),
        s"debris survived: $gone")
      assert(live.forall(e => !gone.contains(e.toString)), "live entry collected")
      assert(ArtifactStore.readIfPresent(spark, "gcfam", "fpLive").isDefined,
        "live entry unreadable after gc")
      assert(ArtifactStore.readIfPresent(spark, "gcfam", "fpOld").isEmpty,
        "collected entry still served")
    }
  }

  test("entry keys carry the code fingerprint: a rebuilt engine can never read stale parquet") {
    // the historical hazard: edit a builder, forget the manual
    // SchemaVersion bump, and the persistent default root serves the OLD
    // builder's parquet — green runs that never executed the new code.
    // The key folds an md5 of the compiled classes, so a code change IS
    // a key change by construction.
    assert(ArtifactStore.codeFingerprint.matches("[0-9a-f]{32}"),
      s"code fingerprint not computed: ${ArtifactStore.codeFingerprint}")
    val root = freshRoot()
    withStore(root) {
      ArtifactStore.readThrough(spark, "codefp", "fpX")(spark.range(2).toDF("id"))
      val entry = Files.list(Paths.get(root, "codefp")).toArray.map(_.toString)
        .filter(_.contains("fp=")).head
      val manifest = Files.readString(Paths.get(entry, "_MANIFEST"))
      assert(manifest ==
        s"v${ArtifactStore.SchemaVersion}:c${ArtifactStore.codeFingerprint}:fpX",
        s"manifest does not carry the code fingerprint: $manifest")
    }
  }

  test("L1-cached getters survive gc: vanished entries re-read through, hits touch the manifest") {
    val root = freshRoot()
    val corpus = tmp("graft-store-corpus2")
    spark.range(20).select(col("id").as("doc_id"),
        lit("en").as("lang"), lit("src0").as("source"),
        concat(lit("kappa lambda omicron sigma upsilon "),
          col("id").cast("string")).as("text"))
      .write.mode("overwrite").parquet(s"$corpus/documents.parquet")
    // the one frame L1 serves both fingerprint sources: a documents-keyed
    // getter (lex census) and an embeddings-keyed one (SRP band tables)
    spark.range(24).select(col("id").as("vec_id"),
        array((0 until 8).map(i => sin(col("id") * (i + 1)).cast("float")): _*)
          .as("embedding"), (col("id") % 3).cast("int").as("label"))
      .write.mode("overwrite").parquet(s"$corpus/embeddings.parquet")
    withStore(root) {
      def census(): Map[String, Long] =
        graft.operators.TextQueries.lexDfShared(spark, corpus)
          .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
      def bands(): Set[(Long, Int, Long)] =
        graft.operators.VectorQueries.srpBandsShared(spark, corpus)
          .collect().map(r => (r.getAs[Long]("vec_id"), r.getAs[Int]("t"),
            r.getAs[Long]("b"))).toSet
      val getters = Seq[(String, String, () => Iterable[Any])](
        ("lexdf", "documents", () => census()),
        ("srpbands", "embeddings", () => bands()))
      getters.foreach { case (tag, table, get) =>
        val first = get()
        assert(first.nonEmpty, s"$tag built empty")
        val entry = Files.list(Paths.get(root, tag)).toArray.map(_.toString)
          .filter(_.contains("fp=")).head
        val manifest = Paths.get(entry, "_MANIFEST")
        // an L1 hit is a USE: gc ages by last use, so the hit must refresh
        // the manifest mtime — age it back, hit, observe it move forward
        val aged = java.nio.file.attribute.FileTime
          .fromMillis(System.currentTimeMillis() - 3600 * 1000)
        Files.setLastModifiedTime(manifest, aged)
        get() // L1 hit
        assert(Files.getLastModifiedTime(manifest).toMillis > aged.toMillis,
          s"$tag: L1 cache hit did not touch the manifest — gc would collect a hot entry")
        // gc the entry out from under the live L1 frame: the next getter
        // call must notice, drop the dead frame, and re-read through —
        // not serve a scan over deleted files
        Files.setLastModifiedTime(manifest, aged)
        val gone = ArtifactStore.gc(new HPath(root), 60 * 1000)
        assert(gone.map(_.toString).contains(entry), s"$tag: gc spared the entry: $gone")
        val healed = get() // must rebuild + republish, not FileNotFound
        assert(healed == first, s"$tag: re-read-through result diverged")
        assert(ArtifactStore.readIfPresent(spark, tag,
          Tables.parquetFingerprint(spark, corpus, table)).isDefined,
          s"$tag: getter did not republish after its backing entry was collected")
      }
      val census0 = census()
      assert(census0.size == 5 && census0.values.forall(_ == 20))
      assert(bands().size == 24 * graft.operators.VectorQueries.SrpAnnTables)
    }
  }

  test("shared getters are store-backed: a fresh JVM would scan the published parquet") {
    // private corpus (fingerprint collides with nothing, so no L1 entry
    // can satisfy it) → the getter must build THROUGH the store and hand
    // back a frame that scans the store path — which is exactly what a
    // fresh JVM gets on the same store
    val root = freshRoot()
    val corpus = tmp("graft-store-corpus")
    spark.range(30).select(col("id").as("doc_id"),
        lit("en").as("lang"), lit("src0").as("source"),
        concat(lit("alpha beta gamma delta epsilon zeta "),
          col("id").cast("string")).as("text"))
      .write.mode("overwrite").parquet(s"$corpus/documents.parquet")
    withStore(root) {
      val df = graft.operators.TextQueries.lexDfShared(spark, corpus)
      assert(df.inputFiles.nonEmpty && df.inputFiles.forall(_.contains(root)),
        "lexDfShared is not reading the published store entry")
      // the census content is right: tokens() strips digits, so the
      // corpus has exactly the 6 word types, each in all 30 docs
      val rows = df.collect().map(r => r.getString(0) -> r.getLong(1)).toMap
      assert(rows.size == 6 && rows.values.forall(_ == 30),
        s"store round-trip corrupted the census: ${rows.take(8)}")
    }
  }
}
