package graft.streaming

import org.apache.spark.sql.{DataFrame, Observation, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.DataStreamWriter
import graft.operators.TextQueries

/** Streaming near-dup admission — the streaming form of q38's dedup-keep:
  * a document is admitted iff it does not near-duplicate (exact
  * set-jaccard >= threshold, MinHash-LSH band candidates) any previously
  * admitted document, or a lower-id document of its own batch (the same
  * greedy pair-drop q38 applies). Admitted fingerprints append to the
  * store as `epoch=<batchId>` partitions; overwriting the deterministic
  * epoch directory makes foreachBatch retries idempotent.
  *
  * Scale shape: the store keeps two tables — `bands` (bucket, doc_id),
  * the compact blocking index, and `docs` (doc_id, shingles), the verify
  * payload — and the judge is the LSH gates' shared body
  * ([[AdmissionGate.Lsh]]). The store format is q38's banding (64
  * hashes, 32 bands × 2 rows): a restart under another banding would
  * block against an incompatible store, so it is fixed here.
  *
  * Maintenance ([[AdmissionStore.Store]]): compaction bounds the
  * epoch-dir growth that is the one O(epochs) listing cost in the
  * admission design.
  */
object NearDupAdmission extends AdmissionStore.Store {

  // shingle-less docs (< 3 alphabetic words) cannot near-duplicate
  // anything — always admitted, exactly as the batch q38 keeps them
  private val Gate = AdmissionGate.Lsh(TextQueries.Jaccard,
    TextQueries.minhashBands(numHashes = 64, bands = 32, rows = 2),
    payloadSub = "docs", bandSub = "bands",
    pairable = size(col("shingles")) > 0)
  protected val tables = Seq(Gate.payloads, Gate.bands)

  /** One epoch's verdict: the admitted (doc_id, text) rows (a lazy
    * frame over this epoch's checkpoint — reading it runs no gate work
    * again), how many there are, and the store writes' width signals. */
  final case class Judged(survivors: DataFrame, admitted: Long,
      signals: Seq[AdmissionStore.WidthSignal])

  /** Judge one epoch and append its admitted fingerprints to the store;
    * the survivors are handed back in memory ([[admit]] writes them to
    * the kept dir, the curation funnel feeds them to its next gate),
    * counted by the named `neardup:<batchId>` observation. */
  def judge(batch: DataFrame, batchId: Long, storePath: String,
            threshold: Double = 0.5, maxBucket: Int = 0,
            expectedStoreBytes: Long = 0L): Judged = {
    val counted = Observation(s"neardup:$batchId")
    val (kept, signals) = Gate.judge(
      batch.select(col("doc_id"), col("text"), TextQueries.neardupShingles),
      batchId, storePath, threshold, maxBucket, expectedStoreBytes,
      Some(counted))
    Judged(kept.select("doc_id", "text"),
      AdmissionStore.observed(counted).getLong(0), signals)
  }

  /** [[judge]], then the survivors are the epoch's kept dir. */
  def admit(batch: DataFrame, batchId: Long, storePath: String,
            keptPath: String, threshold: Double = 0.5, maxBucket: Int = 0,
            expectedStoreBytes: Long = 0L)
      : Seq[AdmissionStore.WidthSignal] = {
    val j = judge(batch, batchId, storePath, threshold, maxBucket,
      expectedStoreBytes)
    AdmissionGate.keep(j.survivors, keptPath, batchId)
    j.signals
  }

  /** Wire as a streaming sink over a (doc_id, text) stream. */
  def stream(docs: DataFrame, storePath: String, keptPath: String,
             checkpoint: String, threshold: Double = 0.5,
             maxBucket: Int = 0, expectedStoreBytes: Long = 0L): DataStreamWriter[Row] =
    AdmissionGate.wire(docs, checkpoint) { (batch, id) =>
      admit(batch, id, storePath, keptPath, threshold, maxBucket,
        expectedStoreBytes)
    }
}
