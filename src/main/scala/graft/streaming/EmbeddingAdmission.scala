package graft.streaming

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.DataStreamWriter
import graft.functions.expressions.VectorExpressions.cosineSim
import graft.operators.{TextQueries, VectorQueries}
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
  * the verify payload. Candidate generation is a distributed bucket
  * equi-join of the batch's bands against the store's (shuffle key =
  * (table, bucket), cost Σ bucket²); embeddings join back only for
  * surviving candidate pairs. Nothing data-sized crosses the driver.
  * `bits` is the q62 dial: size it to the expected store
  * (~log₂(n)−3, so buckets stay ~8 deep); at the ≥0.95 near-dup
  * threshold the 3-table OR-amplification keeps per-pair miss ≈ 5e-4 at
  * 8 bits (see `VectorQueries.embeddingLeakPairsLsh`).
  */
object EmbeddingAdmission {

  // The store's two tables: vecs by vec_id (the verify join's key),
  // buckets by the band key
  private val Vecs = AdmissionStore.Table("vecs", col("vec_id"))
  private val Buckets = AdmissionStore.Table("buckets", col("tb"))
  private val tables = AdmissionStore.Store(Vecs, Buckets)

  /** The gate's pair kernel: SRP band key `tb`, exact cosine verify. */
  private val Cosine = PairKernel("vec_id", "tb", "embedding", cosineSim, "cos")

  /** The stored rows of the buckets table — ONE definition for the
    * write and the pruned read's schema (the vecs table stores the kept
    * (vec_id, embedding) rows as they are). */
  private def storedBuckets(banded: DataFrame, kept: DataFrame): DataFrame =
    banded.join(kept.select("vec_id"), "vec_id")

  def admit(batch: DataFrame, batchId: Long, storePath: String,
            keptPath: String, threshold: Double = 0.95, bits: Int = 8,
            maxBucket: Int = 0, expectedStoreBytes: Long = 0L)
      : Seq[AdmissionStore.WidthSignal] = {
    val vecs = batch.select(col("vec_id"), col("embedding")).localCheckpoint()

    // only a genuinely-missing store reads as empty; any other failure
    // (incl. an interrupted maintenance publish) aborts the epoch —
    // swallowing it would admit duplicates of everything previously
    // admitted (same contract as NearDupAdmission). Store reads prune
    // to the batch's touched key-hash partitions (AdmissionStore
    // layout, routing K from each table's own stamp): buckets by the
    // batch's own (t, b) bands, vecs by the surviving candidates'
    // vec_ids — per-batch store IO is O(touched partitions), not
    // O(store). Each touched set is observed on the checkpoint that
    // materialises its keys.
    val bandedRaw = vecs.select(col("vec_id"), VectorQueries.srpBandKeys(
      col("embedding"), bits, VectorQueries.SrpDedupTables).as("tb"))
    val (bandedObs, storeBucketsRead) = AdmissionStore.observeTouched(bandedRaw,
      Buckets.key, Buckets.at(storePath), storedBuckets(bandedRaw, vecs).schema)
    val banded = bandedObs.localCheckpoint()

    // dups vs the already-admitted store (bipartite bucket join) and
    // within the batch (greedy pair-drop, higher id loses: q45/q38) —
    // the LSH gates' shared kernels, so a hot-bucket cap judges exactly
    // as the text gate's does
    val dupVsStore = AdmissionStore.dupsVsStore(vecs, banded, storeBucketsRead,
      Vecs.at(storePath), vecs.schema, Cosine, threshold, maxBucket)
    val dupInBatch = TextQueries
      .lshPairsFromDocs(vecs, banded, threshold, maxBucket, Cosine)
      .select(col("d2").as("vec_id")).distinct()

    val kept = vecs
      .join(dupVsStore.unionByName(dupInBatch).distinct(),
        Seq("vec_id"), "left_anti")
      .localCheckpoint()
    // deterministic epoch dirs: a retried batch overwrites its own
    // output; an empty epoch publishes nothing to the store
    // (AdmissionStore.writeEpoch). Key-hash partition dirs inside the
    // epoch (AdmissionStore layout). First epoch sizes each table's
    // fan-out from the expected-scale hint; width signals ride back per
    // epoch (the lifecycle report).
    kept.write.mode("overwrite").parquet(s"$keptPath/epoch=$batchId")
    Seq(
      AdmissionStore.writeEpoch(kept, Vecs.key,
        Vecs.at(storePath), batchId, expectedStoreBytes),
      AdmissionStore.writeEpoch(storedBuckets(banded, kept),
        Buckets.key, Buckets.at(storePath), batchId, expectedStoreBytes)).flatten
  }

  /** Fold accumulated epoch partitions into the base epoch (offline
    * maintenance, ENFORCED by AdmissionStore's per-table lock +
    * epoch-drift guard — a racing writeEpoch fails loudly or aborts the
    * publish; rename results checked so a failure cannot silently empty
    * the store).
    */
  def compact(s: SparkSession, storePath: String): Unit =
    tables.compact(s, storePath)

  /** Full offline maintenance: fold epochs, then re-bucket any table
    * whose width signal fired (the AdmissionStore lifecycle), each on
    * its own blocking key. */
  def maintain(s: SparkSession, storePath: String,
      targetBucketBytes: Long = AdmissionStore.TargetBucketBytes)
      : Seq[AdmissionStore.LayoutReport] =
    tables.maintain(s, storePath, targetBucketBytes)

  /** Wire as a streaming sink over a (vec_id, embedding) stream. */
  def stream(vecs: DataFrame, storePath: String, keptPath: String,
             checkpoint: String, threshold: Double = 0.95, bits: Int = 8,
             maxBucket: Int = 0, expectedStoreBytes: Long = 0L): DataStreamWriter[Row] =
    vecs.writeStream
      .outputMode("update")
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: DataFrame, id: Long) =>
        admit(batch, id, storePath, keptPath, threshold, bits, maxBucket,
          expectedStoreBytes)
        ()
      }
}
