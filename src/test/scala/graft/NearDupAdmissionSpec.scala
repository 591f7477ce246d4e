package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.scalatest.funsuite.AnyFunSuite
import graft.streaming.NearDupAdmission

/** Streaming near-dup admission: batch-2 docs that near-duplicate admitted
  * batch-1 docs (or lower-id batch-2 docs) must be dropped; novel docs
  * admitted; retried epochs idempotent.
  */
class NearDupAdmissionSpec extends AnyFunSuite with TempDirs {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  private val textX =
    "the quick brown fox jumps over the lazy dog again today in the park"
  private val textXDup = // one tail word changed: 3-gram jaccard ~0.85
    "the quick brown fox jumps over the lazy dog again today in the garden"
  private val textY =
    "completely different content about spark partitions and shuffle plans here"
  private val textZ =
    "a third unrelated document discussing window functions and watermarks now"
  private val textZDup =
    "a third unrelated document discussing window functions and watermarks soon"

  /** Spark jobs of a steady-state epoch (the job-budget test's second). */
  private val JobsPerEpoch = 15

  test("a steady-state epoch runs a pinned number of Spark jobs") {
    import spark.implicits._
    val store = tmp("ndupj_store"); val kept = tmp("ndupj_kept")
    NearDupAdmission.admit(Seq((1L, textX), (2L, textY)).toDF("doc_id", "text"),
      0L, store, kept)
    // a dup of the store, a novel doc and its in-batch dup
    val ((_, jobs), compiles) = SparkJobs.compilesOf(SparkJobs.of(spark, "neardup-epoch-1") {
      NearDupAdmission.admit(Seq((3L, textXDup), (4L, textZ), (5L, textZDup))
        .toDF("doc_id", "text"), 1L, store, kept)
    })
    info(s"$jobs jobs, $compiles generated-code compiles")
    assert(spark.read.parquet(s"$kept/epoch=1").select("doc_id").as[Long]
      .collect().toSet == Set(4L))
    assert(jobs == JobsPerEpoch, s"an epoch ran $jobs Spark jobs, pinned $JobsPerEpoch")
  }

  test("a burst of identical docs keeps one, and every anti-join broadcast stays within the batch") {
    import spark.implicits._
    val store = tmp("ndupb_store"); val kept = tmp("ndupb_kept")
    // m copies of one doc verify m(m-1)/2 in-batch pairs (and m store
    // pairs next epoch); the drop-id sets a gate broadcasts must be
    // their distinct ids, at most the batch's rows
    val m = 40
    def burst(from: Long) = ((from until from + m).map(i => (i, textX)) :+
      ((from + m, textY))).toDF("doc_id", "text")
    val (_, fresh) = SparkJobs.antiJoinBroadcastRows(spark) {
      NearDupAdmission.admit(burst(0L), 0L, store, kept)
    }
    assert(spark.read.parquet(s"$kept/epoch=0").select("doc_id").as[Long]
      .collect().toSet == Set(0L, m.toLong))
    val (_, again) = SparkJobs.antiJoinBroadcastRows(spark) {
      NearDupAdmission.admit(burst(100L), 1L, store, kept)
    }
    assert(spark.read.parquet(s"$kept/epoch=1").select("doc_id").as[Long]
      .collect().isEmpty)
    assert(fresh.nonEmpty && again.nonEmpty, "no broadcast anti-join ran")
    assert((fresh ++ again).forall(_ <= m + 1),
      s"an anti-join broadcast outgrew the ${m + 1}-row batch: ${fresh ++ again}")
  }

  test("admission filter drops near-dups vs store and within batch") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val store = tmp("ndup_store")
    val kept = tmp("ndup_kept")
    val ckpt = tmp("ndup_ckpt")

    val mem = MemoryStream[(Long, String)]
    val q = NearDupAdmission.stream(
      mem.toDF().toDF("doc_id", "text"), store, kept, ckpt)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())

    // batch 1: two distinct docs + a shingle-less doc (< 3 words, cannot
    // near-dup anything) → all admitted
    mem.addData((1L, textX), (2L, textY), (9L, "hi there"))
    val q1 = q.start(); q1.awaitTermination(120000)
    val kept1 = spark.read.parquet(kept).select("doc_id")
      .collect().map(_.getLong(0)).toSet
    assert(kept1 == Set(1L, 2L, 9L), kept1.toString)

    // batch 2: dup-of-store (3), novel (4), dup-of-4-within-batch (5)
    mem.addData((3L, textXDup), (4L, textZ), (5L, textZDup))
    val q2 = q.start(); q2.awaitTermination(120000)
    val kept2 = spark.read.parquet(kept).select("doc_id")
      .collect().map(_.getLong(0)).toSet
    assert(kept2 == Set(1L, 2L, 4L, 9L), kept2.toString)

    // store holds exactly the admitted fingerprints
    val storeIds = spark.read.parquet(store + "/docs").select("doc_id")
      .collect().map(_.getLong(0)).toSet
    assert(storeIds == Set(1L, 2L, 4L), storeIds.toString)

    // idempotent retry: re-running an epoch's admit overwrites, not appends
    val batch2 = Seq((3L, textXDup), (4L, textZ), (5L, textZDup))
      .toDF("doc_id", "text")
    NearDupAdmission.admit(batch2, 1L, store, kept)
    val keptRetry = spark.read.parquet(kept).select("doc_id")
      .collect().map(_.getLong(0)).toSeq.sorted
    assert(keptRetry == Seq(1L, 2L, 4L, 9L), keptRetry.toString)

    // compaction folds epochs into one; dedup behavior unchanged after it
    NearDupAdmission.compact(spark, store)
    val epochDirs = new java.io.File(store + "/docs").listFiles()
      .filter(_.getName.startsWith("epoch=")).map(_.getName).toSeq
    assert(epochDirs == Seq("epoch=-1"), epochDirs.toString)
    def storeDocIds = spark.read.parquet(store + "/docs").select("doc_id")
      .collect().map(_.getLong(0)).toSet
    assert(storeDocIds == Set(1L, 2L, 4L))
    NearDupAdmission.admit(Seq((6L, textXDup)).toDF("doc_id", "text"), 2L, store, kept)
    val keptAfter = spark.read.parquet(kept).select("doc_id")
      .collect().map(_.getLong(0)).toSet
    assert(keptAfter == Set(1L, 2L, 4L, 9L), s"dup admitted after compact: $keptAfter")

    // a FRESH checkpoint over the compacted store starts at batch 0: its
    // epoch must not replace the compacted base, and a later exact clone
    // of a compacted doc (fresh id) must still drop
    val keptFresh = tmp("ndup_kept_fresh")
    val textW = "an unrelated fresh document about checkpoint cursors and offsets"
    NearDupAdmission.admit(Seq((10L, textW)).toDF("doc_id", "text"), 0L,
      store, keptFresh)
    assert(storeDocIds == Set(1L, 2L, 4L, 10L),
      s"batch 0 of a fresh checkpoint replaced the compacted base: $storeDocIds")
    NearDupAdmission.admit(Seq((11L, textX)).toDF("doc_id", "text"), 1L,
      store, keptFresh)
    assert(spark.read.parquet(s"$keptFresh/epoch=1").isEmpty,
      "exact clone of a compacted doc admitted after a fresh checkpoint")
  }

  test("hot-bucket cap also gates the batch-vs-store band join") {
    import spark.implicits._
    val store = tmp("ndup_hot_store")
    val kept = tmp("ndup_hot_kept")
    // epoch 0 admits a template cluster into the STORE: 30 IDENTICAL docs,
    // so every one of their band buckets deterministically holds all 30
    // entries (with the in-batch cap on, none pairs with another → all 30
    // admitted, accumulating the hot buckets in the store)
    val template = (0 until 30).map(i => (i.toLong, textX))
    NearDupAdmission.admit(template.toDF("doc_id", "text"), 0L, store, kept,
      maxBucket = 10)
    // epoch 1: one more template doc + one novel doc. Every bucket doc 100
    // lands in is hot (30 store entries > 10), so the batch-vs-store join
    // must NOT produce 30 candidate pairs for it — it is admitted
    // (declared-lossy skew guard), and the novel doc admits too
    NearDupAdmission.admit(
      Seq((100L, textX), (101L, textY))
        .toDF("doc_id", "text"), 1L, store, kept, maxBucket = 10)
    val keptIds = spark.read.parquet(kept).select("doc_id")
      .collect().map(_.getLong(0)).toSet
    assert(keptIds.contains(101L), keptIds.toString)
    assert(keptIds.contains(100L),
      s"hot-bucket store join was not capped (100 judged vs template): $keptIds")
    // control: without the cap the same doc IS recognized as a store dup
    // (epoch-0 control admits only doc 0; the rest drop as in-batch dups)
    val store2 = tmp("ndup_hot_store2")
    val kept2 = tmp("ndup_hot_kept2")
    NearDupAdmission.admit(template.toDF("doc_id", "text"), 0L, store2, kept2)
    NearDupAdmission.admit(
      Seq((100L, textX)).toDF("doc_id", "text"),
      1L, store2, kept2)
    val keptIds2 = spark.read.parquet(kept2).select("doc_id")
      .collect().map(_.getLong(0)).toSet
    assert(!keptIds2.contains(100L), keptIds2.toString)
  }
}
