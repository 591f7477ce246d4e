package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.scalatest.funsuite.AnyFunSuite
import graft.streaming.SemanticAdmission

/** Streaming SemDeDup admission: within-cell semantic dups drop against
  * the store and within the batch (where the LEAST prototypical member
  * is kept — the q119 rule, not lower-id-wins); cross-cell vectors never
  * pair; retried epochs are idempotent; a retrained centroid geometry is
  * rejected loudly when the stream binds it; compaction preserves
  * behavior.
  */
class SemanticAdmissionSpec extends AnyFunSuite with TempDirs {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  // two orthogonal cells; all vectors 4-dim floats
  private def centroids = {
    import spark.implicits._
    Seq((0, Seq(1f, 0f, 0f, 0f)), (1, Seq(0f, 0f, 1f, 0f)))
      .toDF("cell", "centroid")
  }

  private val vA = Seq(1f, 0f, 0f, 0f) // cell 0, csim 1.0
  private val vADup = Seq(0.99f, 0.01f, 0f, 0f) // cell 0, ~vA
  private val vB = Seq(0f, 0f, 1f, 0f) // cell 1
  // an in-batch duplicate pair in cell 0, far enough off the stored vA
  // (cos 0.80 / 0.70 < 0.95) that only the IN-BATCH rule fires: w1 is
  // MORE prototypical (csim 0.80 vs 0.70) and cos(w1, w2) ≈ 0.989 ≥
  // 0.95 — the SemDeDup rule must drop w1 and keep w2, even though w2
  // has the larger id (lower-id-wins would keep w1)
  private val w1 = Seq(0.8f, 0.6f, 0f, 0f)
  private val w2 = Seq(0.7f, 0.714f, 0f, 0f)

  test("semantic admission: store dups drop, in-batch keeps the least prototypical") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val store = tmp("sadm_store")
    val kept = tmp("sadm_kept")
    val ckpt = tmp("sadm_ckpt")

    val mem = MemoryStream[(Long, Seq[Float])]
    val q = SemanticAdmission.stream(
      mem.toDF().toDF("vec_id", "embedding"), centroids, store, kept, ckpt)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())

    // batch 1: vA (cell 0) and vB (cell 1) — different cells never pair
    mem.addData((1L, vA), (2L, vB))
    val q1 = q.start(); q1.awaitTermination(120000)
    val kept1 = spark.read.parquet(kept).select("vec_id")
      .collect().map(_.getLong(0)).toSet
    assert(kept1 == Set(1L, 2L), kept1.toString)

    // batch 2: vADup duplicates the STORED vA (batch member loses);
    // (4=w1, 5=w2) duplicate each other in-batch — w1 (more prototypical)
    // drops although it has the LOWER id
    mem.addData((3L, vADup), (4L, w1), (5L, w2))
    val q2 = q.start(); q2.awaitTermination(120000)
    val kept2 = spark.read.parquet(kept).select("vec_id")
      .collect().map(_.getLong(0)).toSet
    assert(kept2 == Set(1L, 2L, 5L),
      s"expected the least prototypical in-batch member kept: $kept2")

    // the store carries (cell, csim) for everything admitted
    val members = spark.read.parquet(store + "/members")
      .select("vec_id", "cell").collect()
      .map(r => r.getLong(0) -> r.getInt(1)).toMap
    assert(members == Map(1L -> 0, 2L -> 1, 5L -> 0), members.toString)

    // idempotent retry of epoch 1: same kept set, no appends
    val geom = SemanticAdmission.Geometry.pin(centroids, store)
    SemanticAdmission.admit(
      Seq((3L, vADup), (4L, w1), (5L, w2)).toDF("vec_id", "embedding"),
      1L, geom, store, kept)
    val keptRetry = spark.read.parquet(kept).select("vec_id")
      .collect().map(_.getLong(0)).toSeq.sorted
    assert(keptRetry == Seq(1L, 2L, 5L), keptRetry.toString)

    // a RETRAINED geometry is rejected loudly — stored csims and cells
    // are meaningless under moved centroids. The stream binds its
    // geometry once, at start, so the mismatch fails there, before any
    // batch runs
    val retrained = Seq((0, Seq(0.7f, 0.7f, 0f, 0f)), (1, Seq(0f, 0f, 0f, 1f)))
      .toDF("cell", "centroid")
    val mem2 = MemoryStream[(Long, Seq[Float])]
    val e = intercept[IllegalStateException] {
      SemanticAdmission.stream(mem2.toDF().toDF("vec_id", "embedding"),
        retrained, store, kept, tmp("sadm_ckpt_retrained"))
    }
    assert(e.getMessage.contains("retrained"), e.getMessage)
    // and a geometry pinned to another store is refused by admit
    val other = SemanticAdmission.Geometry.pin(centroids, tmp("sadm_other"))
    intercept[IllegalArgumentException] {
      SemanticAdmission.admit(Seq((9L, vB)).toDF("vec_id", "embedding"),
        2L, other, store, kept)
    }

    // an EMPTY epoch (or one admitting nothing) must not poison the
    // store: the empty epoch publishes nothing (AdmissionStore.writeEpoch),
    // and the gate keeps working
    SemanticAdmission.admit(
      Seq.empty[(Long, Seq[Float])].toDF("vec_id", "embedding"),
      5L, geom, store, kept)
    SemanticAdmission.admit(
      Seq((7L, vADup)).toDF("vec_id", "embedding"), 6L, geom, store, kept)
    assert(spark.read.parquet(s"$kept/epoch=6").count() == 0,
      "store dup admitted after an empty epoch — the store read broke")

    // compaction folds epochs; dedup behavior and the geometry pin survive
    SemanticAdmission.compact(spark, store)
    val epochDirs = new java.io.File(store + "/members").listFiles()
      .filter(_.getName.startsWith("epoch=")).map(_.getName).toSeq
    assert(epochDirs == Seq("epoch=-1"), epochDirs.toString)
    SemanticAdmission.admit(
      Seq((6L, vADup)).toDF("vec_id", "embedding"), 2L, geom, store, kept)
    val keptAfter = spark.read.parquet(kept).select("vec_id")
      .collect().map(_.getLong(0)).toSet
    assert(keptAfter == Set(1L, 2L, 5L),
      s"semantic dup admitted after compact: $keptAfter")
  }
}
