package graft

import java.nio.file.{Files, Path, Paths}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.FileSourceScanExec
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.streaming.{AdmissionStore, EmbeddingAdmission, NearDupAdmission, QuoteAdmission, SemanticAdmission}

/** The admission stores' blocking-key partition layout (r15, per-store
  * fan-out since r16): every stateful gate writes `pb = hash(blocking
  * key) % K` partition dirs inside each epoch, with K read from the
  * store's own `_PBK` stamp; per-batch reads prune to the batch's
  * touched pb set at FILE level (the r14 verdict's admission-family
  * 100× blocker was the per-batch O(store) scan), and compaction
  * preserves the layout. The file-level claim is asserted on the scan's
  * own `numFiles` metric, not inferred from row provenance. The growth
  * lifecycle (sizing at first write, width signal, re-bucket) is
  * AdmissionLifecycleSpec's subject.
  */
class AdmissionPruningSpec extends AnyFunSuite with TempDirs {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.ui.enabled", "false")
    .getOrCreate()


  /** The number of files the scan behind `df` actually read — executed
    * first, then the FileSourceScanExec's numFiles metric (a plain
    * scan+filter has no exchange, so no adaptive wrapper hides it). */
  private def filesRead(df: DataFrame): Long = {
    df.collect()
    val scans = df.queryExecution.executedPlan.collect {
      case f: FileSourceScanExec => f
    }
    assert(scans.nonEmpty, "no file scan in the plan")
    scans.map(_.metrics("numFiles").value).sum
  }

  /** All part-files under `root` whose path contains `needle`. */
  private def partFiles(root: String, needle: String = ""): Seq[Path] = {
    val r = Paths.get(root)
    if (!Files.exists(r)) Seq.empty
    else {
      val s = Files.walk(r)
      try {
        import scala.jdk.CollectionConverters._
        s.iterator().asScala.filter(p => Files.isRegularFile(p) &&
            p.getFileName.toString.startsWith("part-") &&
            p.toString.contains(needle)).toVector
      } finally s.close()
    }
  }

  private def pbDirs(dir: String): Seq[String] = {
    val f = new java.io.File(dir)
    if (!f.exists()) Seq.empty
    else f.list().toSeq.filter(_.startsWith("pb="))
  }

  /** Letters-only encoding of n — the gates' tokenizer keeps [a-z] only,
    * so digit suffixes would collapse every fixture onto the same words. */
  private def alpha(n: Int): String =
    s"${(97 + n % 26).toChar}${(97 + (n / 26) % 26).toChar}${(97 + (n / 676) % 26).toChar}"

  test("near-dup store: pb layout, file-level pruned reads, compaction keeps both") {
    import spark.implicits._
    val store = tmp("prune_store"); val kept = tmp("prune_kept")
    // 40 mutually distinct docs → bands spread over several pb dirs
    val words = Seq("alpha", "bravo", "charlie", "delta", "echo", "foxtrot",
      "golf", "hotel", "india", "juliet", "kilo", "lima")
    def doc(i: Int): String =
      (0 until 8).map(k =>
        words((i * 7 + k * 3) % words.size) + alpha(i * 8 + k)).mkString(" ")
    val batch0 = (0 until 40).map(i => (i.toLong, doc(i))).toDF("doc_id", "text")
    NearDupAdmission.admit(batch0, 0L, store, kept)

    val bandDirs = pbDirs(s"$store/bands/epoch=0")
    assert(bandDirs.size >= 2, s"bands epoch not key-partitioned: $bandDirs")
    assert(pbDirs(s"$store/docs/epoch=0").size >= 2, "docs epoch not key-partitioned")

    // file-level pruning: a one-bucket read scans exactly that pb dir's
    // files, strictly fewer than the store's
    val allFiles = partFiles(s"$store/bands").size
    val onePb = bandDirs.head.stripPrefix("pb=").toInt
    val prunedFiles = filesRead(
      AdmissionStore.readTouched(spark, s"$store/bands", Seq(onePb)))
    assert(prunedFiles == partFiles(s"$store/bands", s"pb=$onePb/").size,
      "pruned scan read files outside the touched pb dir")
    assert(prunedFiles < allFiles,
      s"pruning read the whole store ($prunedFiles of $allFiles files)")
    // and the full read really is the whole store (the metric is live)
    assert(filesRead(spark.read.parquet(s"$store/bands")) == allFiles)
    // completeness: the pruned read returns every row of the touched bucket
    val full = spark.read.parquet(s"$store/bands")
      .filter(col("pb") === onePb).count()
    assert(AdmissionStore.readTouched(spark, s"$store/bands", Seq(onePb))
      .count() == full)

    // the gate still blocks against the pruned store: an exact clone of
    // an admitted doc (fresh id) must drop, a fresh doc must land
    val batch1 = Seq((100L, doc(3)), (101L, doc(777))).toDF("doc_id", "text")
    NearDupAdmission.admit(batch1, 1L, store, kept)
    val kept1 = spark.read.parquet(s"$kept/epoch=1")
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(kept1 == Set(101L), s"pruned-store gate misjudged: $kept1")

    // compaction folds epochs AND preserves the key layout; the gate
    // still blocks afterwards
    NearDupAdmission.compact(spark, store)
    val epochs = new java.io.File(s"$store/bands").list().filter(_.startsWith("epoch="))
    assert(epochs.toSeq == Seq("epoch=-1"), s"compaction left $epochs")
    assert(pbDirs(s"$store/bands/epoch=-1").nonEmpty,
      "compaction dropped the pb layout")
    assert(pbDirs(s"$store/docs/epoch=-1").nonEmpty)
    val batch2 = Seq((200L, doc(5))).toDF("doc_id", "text")
    NearDupAdmission.admit(batch2, 2L, store, kept)
    assert(spark.read.parquet(s"$kept/epoch=2").isEmpty,
      "clone admitted after compaction")
  }

  test("layout stamp: a store under a different pb fan-out fails loudly, never open") {
    import spark.implicits._
    val store = tmp("prunek_store"); val kept = tmp("prunek_kept")
    val b0 = Seq((1L, "alpha bravo charlie delta echo foxtrot golf hotel"),
      (2L, "india juliet kilo lima alpha mike november oscar"))
      .toDF("doc_id", "text")
    NearDupAdmission.admit(b0, 0L, store, kept)
    val marker = java.nio.file.Paths.get(s"$store/bands/_PBK")
    assert(java.nio.file.Files.exists(marker), "first write did not stamp K")
    // hadoop's local fs keeps a .crc sidecar — tampering via java.nio
    // must drop it or the read fails on checksum instead of the check
    def dropCrc(): Unit = java.nio.file.Files.deleteIfExists(
      java.nio.file.Paths.get(s"$store/bands/._PBK.crc"))

    // readers route with the STAMPED K, so "a build compiled with a
    // different default" can no longer mis-route by construction; the
    // remaining hazard is a marker that LIES about the written layout
    // (restored from the wrong backup, hand-edited). That is detected
    // structurally: any observed pb dir >= stamped K proves the lie,
    // and the gate must ABORT — silently routing pb = hash % K' would
    // read a partial store view and admit duplicates (fail-open).
    val maxPb = pbDirs(s"$store/bands/epoch=0")
      .map(_.stripPrefix("pb=").toInt).max
    assert(maxPb >= 1, "fixture produced a single pb dir — widen it")
    java.nio.file.Files.write(marker, maxPb.toString.getBytes); dropCrc()
    val b1 = Seq((3L, "papa quebec romeo sierra tango uniform victor whiskey"))
      .toDF("doc_id", "text")
    val e1 = intercept[IllegalStateException] {
      NearDupAdmission.admit(b1, 1L, store, kept)
    }
    assert(e1.getMessage.contains("fan-out"), e1.getMessage)

    // the OTHER direction — a stamp LARGER than the written layout
    // (restored from a post-rebucket backup over pre-rebucket data) —
    // must be equally loud: hash % K' would route keys to dirs that
    // don't exist and read an empty store view (fail-open). Detected
    // against the per-epoch markers, which travel with every write.
    java.nio.file.Files.write(marker,
      (AdmissionStore.DefaultBuckets * 4).toString.getBytes); dropCrc()
    val e1b = intercept[IllegalStateException] {
      NearDupAdmission.admit(b1, 1L, store, kept)
    }
    assert(e1b.getMessage.contains("fan-out"), e1b.getMessage)

    // a MISSING marker (pre-layout store, or a deleted stamp) is equally
    // loud — there is no silent legacy-read path
    java.nio.file.Files.delete(marker)
    val e2 = intercept[IllegalStateException] {
      NearDupAdmission.admit(b1, 1L, store, kept)
    }
    assert(e2.getMessage.contains("_PBK"), e2.getMessage)

    // restored to the real K, the gate carries on
    java.nio.file.Files.write(marker,
      AdmissionStore.DefaultBuckets.toString.getBytes)
    dropCrc()
    NearDupAdmission.admit(b1, 1L, store, kept)
    assert(spark.read.parquet(s"$kept/epoch=1").count() == 1)
  }

  test("quote census: pb layout and pruned coverage reads") {
    import spark.implicits._
    val store = tmp("pruneq_store"); val kept = tmp("pruneq_kept")
    def sent(i: Int): String =
      (0 until 25).map(k => s"w${alpha(i)}x${alpha((k * 11 + i) % 97)}").mkString(" ")
    val b0 = (0 until 20).map(i => (i.toLong, sent(i))).toDF("doc_id", "text")
    QuoteAdmission.admit(b0, 0L, store, kept)
    assert(pbDirs(s"$store/census/epoch=0").size >= 2,
      "census epoch not key-partitioned")
    // a doc quoting an admitted doc's 25-token run still drops against
    // the pruned census; a fresh doc passes
    val b1 = Seq((50L, "lead in words " + sent(7)), (51L, sent(500)))
      .toDF("doc_id", "text")
    QuoteAdmission.admit(b1, 1L, store, kept)
    val kept1 = spark.read.parquet(s"$kept/epoch=1")
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(kept1 == Set(51L), s"pruned-census gate misjudged: $kept1")
    // compaction preserves the layout (epoch=-1 base, see compact's doc)
    QuoteAdmission.compact(spark, store)
    assert(pbDirs(s"$store/census/epoch=-1").nonEmpty,
      "census compaction dropped the pb layout")
  }

  test("embedding + semantic stores: pb layout and duplicate blocking") {
    val e = Tables.embeddings(spark, "/root/testdata/sf0.001")
      .filter(col("vec_id") < 120).localCheckpoint()

    val store = tmp("prunee_store"); val kept = tmp("prunee_kept")
    EmbeddingAdmission.admit(e, 0L, store, kept)
    assert(pbDirs(s"$store/vecs/epoch=0").size >= 2, "vecs not key-partitioned")
    assert(pbDirs(s"$store/buckets/epoch=0").size >= 2,
      "buckets not key-partitioned")
    // re-offering an admitted vector under a fresh id drops against the
    // pruned store
    val clone = e.filter(col("vec_id") === 7)
      .select((col("vec_id") + 5000).as("vec_id"), col("embedding"))
    EmbeddingAdmission.admit(clone, 1L, store, kept)
    assert(spark.read.parquet(s"$kept/epoch=1").isEmpty,
      "embedding clone admitted against the pruned store")

    val semStore = tmp("prunes_store"); val semKept = tmp("prunes_kept")
    val cent = graft.operators.VectorQueries.trainCells(e)
    val geom = SemanticAdmission.Geometry.pin(cent, semStore)
    SemanticAdmission.admit(e, 0L, geom, semStore, semKept)
    assert(pbDirs(s"$semStore/members/epoch=0").nonEmpty,
      "members not key-partitioned")
    SemanticAdmission.admit(clone, 1L, geom, semStore, semKept)
    assert(spark.read.parquet(s"$semKept/epoch=1").isEmpty,
      "semantic clone admitted against the pruned store")
  }
}
