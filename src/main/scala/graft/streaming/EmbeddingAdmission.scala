package graft.streaming

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.DataStreamWriter
import graft.functions.expressions.VectorExpressions.cosineSim
import graft.operators.VectorQueries
import graft.operators.TextQueries.PairKernel

/** Streaming embedding near-dup admission — the streaming form of the
  * q45/q62 vector dedup, and the embedding sibling of the text
  * `NearDupAdmission`: a vector is admitted iff it does not
  * near-duplicate (exact cosine ≥ threshold; SRP-banded candidates) any
  * previously admitted vector, or a lower-id vector of its own batch.
  * Admitted vectors append to the store as `epoch=<batchId>` partitions;
  * overwriting the deterministic epoch directory makes foreachBatch
  * retries idempotent (a retried batch's vectors never match their own
  * stored copies — the store judge's id filter — and the kept set is
  * deterministic, so a partial prior attempt replays to the same state).
  *
  * Scale shape: the store keeps two tables — `buckets` ((table, bucket),
  * vec_id), the compact blocking index, and `vecs` (vec_id, embedding),
  * the verify payload — and the judge is the LSH gates' shared body
  * ([[AdmissionGate.Lsh]]). The store format is 8-bit SRP bands
  * over 3 tables, sized for the q62 regime (~log₂(n)−3, so buckets stay
  * ~8 deep at a few thousand vectors); at the ≥0.95 near-dup threshold
  * the 3-table OR-amplification keeps per-pair miss ≈ 5e-4 at 8 bits (see
  * `VectorQueries.embeddingLeakPairsLsh`). A restart under another width
  * would band against an incompatible store, so it is fixed here.
  */
object EmbeddingAdmission extends AdmissionStore.Store {

  /** The gate's pair kernel: SRP band key `tb`, exact cosine verify. */
  private val Cosine = PairKernel("vec_id", "tb", "embedding", cosineSim, "cos")

  private val Gate = AdmissionGate.Lsh(Cosine,
    VectorQueries.srpBandKeys(col("embedding"), bits = 8, VectorQueries.SrpDedupTables),
    payloadSub = "vecs", bandSub = "buckets")
  protected val tables = Seq(Gate.payloads, Gate.bands)

  def admit(batch: DataFrame, batchId: Long, storePath: String,
            keptPath: String, threshold: Double = 0.95,
            maxBucket: Int = 0, expectedStoreBytes: Long = 0L)
      : Seq[AdmissionStore.WidthSignal] = {
    val (kept, signals) = Gate.judge(
      batch.select(col("vec_id"), col("embedding")), batchId, storePath,
      threshold, maxBucket, expectedStoreBytes)
    AdmissionGate.keep(kept, keptPath, batchId)
    signals
  }

  /** Wire as a streaming sink over a (vec_id, embedding) stream. */
  def stream(vecs: DataFrame, storePath: String, keptPath: String,
             checkpoint: String, threshold: Double = 0.95,
             maxBucket: Int = 0, expectedStoreBytes: Long = 0L): DataStreamWriter[Row] =
    AdmissionGate.wire(vecs, checkpoint) { (batch, id) =>
      admit(batch, id, storePath, keptPath, threshold, maxBucket,
        expectedStoreBytes)
    }
}
