package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.scalatest.funsuite.AnyFunSuite
import graft.streaming.EmbeddingAdmission

/** Streaming embedding near-dup admission: batch-2 vectors that
  * near-duplicate admitted batch-1 vectors (or lower-id batch-2 vectors)
  * must drop; novel vectors admit; retried epochs are idempotent; the
  * hot-bucket cap gates the store join.
  */
class EmbeddingAdmissionSpec extends AnyFunSuite with TempDirs {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  // 8-dim unit-ish vectors: dups differ by a tiny rotation (cosine ≈
  // 0.9999 ≥ 0.95); distinct vectors are orthogonal (cosine 0)
  private val vA = Seq(1f, 0f, 0f, 0f, 0f, 0f, 0f, 0f)
  private val vADup = Seq(0.99f, 0.01f, 0f, 0f, 0f, 0f, 0f, 0f)
  private val vB = Seq(0f, 1f, 0f, 0f, 0f, 0f, 0f, 0f)
  private val vC = Seq(0f, 0f, 1f, 0f, 0f, 0f, 0f, 0f)
  private val vCDup = Seq(0f, 0.01f, 0.99f, 0f, 0f, 0f, 0f, 0f)

  /** Spark jobs of a steady-state epoch (the job-budget test's second). */
  private val JobsPerEpoch = 15

  test("a steady-state epoch runs a pinned number of Spark jobs") {
    import spark.implicits._
    val store = tmp("eadmj_store"); val kept = tmp("eadmj_kept")
    EmbeddingAdmission.admit(Seq((1L, vA), (2L, vB)).toDF("vec_id", "embedding"),
      0L, store, kept)
    // a dup of the store, a novel vector and its in-batch dup
    val ((_, jobs), compiles) = SparkJobs.compilesOf(SparkJobs.of(spark, "embedding-epoch-1") {
      EmbeddingAdmission.admit(Seq((3L, vADup), (4L, vC), (5L, vCDup))
        .toDF("vec_id", "embedding"), 1L, store, kept)
    })
    info(s"$jobs jobs, $compiles generated-code compiles")
    assert(spark.read.parquet(s"$kept/epoch=1").select("vec_id").as[Long]
      .collect().toSet == Set(4L))
    assert(jobs == JobsPerEpoch, s"an epoch ran $jobs Spark jobs, pinned $JobsPerEpoch")
  }

  test("admission drops near-dup vectors vs store and within batch") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val store = tmp("eadm_store")
    val kept = tmp("eadm_kept")
    val ckpt = tmp("eadm_ckpt")

    val mem = MemoryStream[(Long, Seq[Float])]
    val q = EmbeddingAdmission.stream(
      mem.toDF().toDF("vec_id", "embedding"), store, kept, ckpt)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())

    // batch 1: two orthogonal vectors → both admitted
    mem.addData((1L, vA), (2L, vB))
    val q1 = q.start(); q1.awaitTermination(120000)
    val kept1 = spark.read.parquet(kept).select("vec_id")
      .collect().map(_.getLong(0)).toSet
    assert(kept1 == Set(1L, 2L), kept1.toString)

    // batch 2: dup-of-store (3≈1), novel (4), dup-of-4 within batch (5)
    mem.addData((3L, vADup), (4L, vC), (5L, vCDup))
    val q2 = q.start(); q2.awaitTermination(120000)
    val kept2 = spark.read.parquet(kept).select("vec_id")
      .collect().map(_.getLong(0)).toSet
    assert(kept2 == Set(1L, 2L, 4L), kept2.toString)

    // store holds exactly the admitted vectors
    val storeIds = spark.read.parquet(store + "/vecs").select("vec_id")
      .collect().map(_.getLong(0)).toSet
    assert(storeIds == Set(1L, 2L, 4L), storeIds.toString)

    // idempotent retry: re-running epoch 1's admit overwrites, not appends
    val batch2 = Seq((3L, vADup), (4L, vC), (5L, vCDup))
      .toDF("vec_id", "embedding")
    EmbeddingAdmission.admit(batch2, 1L, store, kept)
    val keptRetry = spark.read.parquet(kept).select("vec_id")
      .collect().map(_.getLong(0)).toSeq.sorted
    assert(keptRetry == Seq(1L, 2L, 4L), keptRetry.toString)

    // compaction folds epochs; dedup behavior unchanged after it
    EmbeddingAdmission.compact(spark, store)
    val epochDirs = new java.io.File(store + "/vecs").listFiles()
      .filter(_.getName.startsWith("epoch=")).map(_.getName).toSeq
    assert(epochDirs == Seq("epoch=-1"), epochDirs.toString)
    EmbeddingAdmission.admit(
      Seq((6L, vADup)).toDF("vec_id", "embedding"), 2L, store, kept)
    val keptAfter = spark.read.parquet(kept).select("vec_id")
      .collect().map(_.getLong(0)).toSet
    assert(keptAfter == Set(1L, 2L, 4L),
      s"dup admitted after compact: $keptAfter")
  }

  test("hot-bucket cap gates the batch-vs-store bucket join") {
    import spark.implicits._
    val store = tmp("eadm_hot_store")
    val kept = tmp("eadm_hot_kept")
    // epoch 0: 30 IDENTICAL vectors — with the cap on, their buckets are
    // hot, so none pairs in-batch → all 30 admitted into the store
    val template = (0 until 30).map(i => (i.toLong, vA))
    EmbeddingAdmission.admit(template.toDF("vec_id", "embedding"),
      0L, store, kept, maxBucket = 10)
    // epoch 1: one more template vector + one novel. The template's
    // buckets hold 30 store entries (> 10): the store join must skip
    // them (declared-lossy skew guard) — both vectors admit
    EmbeddingAdmission.admit(
      Seq((100L, vA), (101L, vB)).toDF("vec_id", "embedding"),
      1L, store, kept, maxBucket = 10)
    val keptIds = spark.read.parquet(kept).select("vec_id")
      .collect().map(_.getLong(0)).toSet
    assert(keptIds.contains(101L), keptIds.toString)
    assert(keptIds.contains(100L),
      s"hot-bucket store join was not capped: $keptIds")
    // control: without the cap the same vector IS a store dup
    val store2 = tmp("eadm_hot_store2")
    val kept2 = tmp("eadm_hot_kept2")
    EmbeddingAdmission.admit(template.toDF("vec_id", "embedding"),
      0L, store2, kept2)
    EmbeddingAdmission.admit(
      Seq((100L, vA)).toDF("vec_id", "embedding"), 1L, store2, kept2)
    val keptIds2 = spark.read.parquet(kept2).select("vec_id")
      .collect().map(_.getLong(0)).toSet
    assert(!keptIds2.contains(100L), keptIds2.toString)
  }
}
