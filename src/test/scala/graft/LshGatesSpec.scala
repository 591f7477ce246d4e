package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite
import graft.streaming.{EmbeddingAdmission, NearDupAdmission}

/** One table of cases run against both LSH admission gates. The gates
  * share their batch-vs-store judge, in-batch pair core and hot-bucket
  * cap, so every case must hold for the text gate (NearDupAdmission) and
  * the embedding gate (EmbeddingAdmission) alike. Every item of a case is
  * a copy of one template, so each of its band buckets holds all of them.
  */
class LshGatesSpec extends AnyFunSuite with TempDirs {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  /** A gate under test: `admit(ids, epoch, store, kept, maxBucket)` sends
    * one template copy per id as epoch `epoch`. */
  private final class Gate(val name: String,
      val admit: (Seq[Long], Long, String, String, Int) => Unit)

  private val gates = Seq(
    new Gate("text", (ids, epoch, store, kept, cap) => {
      import spark.implicits._
      val text = "the quick brown fox jumps over the lazy dog again today in the park"
      NearDupAdmission.admit(ids.map(i => (i, text)).toDF("doc_id", "text"),
        epoch, store, kept, maxBucket = cap)
    }),
    new Gate("embedding", (ids, epoch, store, kept, cap) => {
      import spark.implicits._
      val v = Seq(1f, 0f, 0f, 0f, 0f, 0f, 0f, 0f)
      EmbeddingAdmission.admit(ids.map(i => (i, v)).toDF("vec_id", "embedding"),
        epoch, store, kept, maxBucket = cap)
    }))

  /** The ids one epoch admitted (the kept dir's first column). */
  private def keptIds(kept: String, epoch: Long): Set[Long] =
    spark.read.parquet(s"$kept/epoch=$epoch").collect().map(_.getLong(0)).toSet

  private val cases: Seq[(String, Gate => Unit)] = Seq(
    "lossy mode: in-batch pairs capped by the batch's own buckets, " +
      "batch×store pairs by the combined population" -> { g =>
      val store = tmp(s"lsh_${g.name}_cap_store")
      val kept = tmp(s"lsh_${g.name}_cap_kept")
      // 11 copies over a cap of 10: every bucket is hot, none pairs
      g.admit(0L to 10L, 0L, store, kept, 10)
      assert(keptIds(kept, 0L) == (0L to 10L).toSet)
      // 2 more copies: 2 per bucket in the batch (under the cap, so the
      // in-batch pair is judged and the higher id drops), 13 with the
      // store (over it, so no batch×store candidate)
      g.admit(Seq(100L, 101L), 1L, store, kept, 10)
      assert(keptIds(kept, 1L) == Set(100L), s"${g.name} gate")
    },
    "uncapped: copies drop against the store and within the batch" -> { g =>
      val store = tmp(s"lsh_${g.name}_exact_store")
      val kept = tmp(s"lsh_${g.name}_exact_kept")
      g.admit(0L to 10L, 0L, store, kept, 0)
      assert(keptIds(kept, 0L) == Set(0L), s"${g.name} gate")
      g.admit(Seq(100L, 101L), 1L, store, kept, 0)
      assert(keptIds(kept, 1L).isEmpty, s"${g.name} gate")
    })

  for (g <- gates; (name, run) <- cases)
    test(s"${g.name} gate: $name")(run(g))
}
