package graft.streaming

import org.apache.spark.sql.{DataFrame, Observation, Row, SparkSession}
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
  * payload. Candidate generation is a distributed bucket equi-join of the
  * batch's bands against the store's bands (shuffle key = bucket, cost
  * Σ bucket²); shingle payloads join back only for surviving candidate
  * pairs. Nothing data-sized crosses the driver.
  */
object NearDupAdmission {

  // The store's two tables: docs by doc_id (the verify join's key),
  // bands by bucket (the blocking join's key)
  private val Docs = AdmissionStore.Table("docs", col("doc_id"))
  private val Bands = AdmissionStore.Table("bands", col("bucket"))
  private val tables = AdmissionStore.Store(Docs, Bands)

  /** One epoch's verdict: the admitted (doc_id, text) rows (a lazy
    * frame over this epoch's checkpoint — reading it runs no gate work
    * again), how many there are, and the store writes' width signals. */
  final case class Judged(survivors: DataFrame, admitted: Long,
      signals: Seq[AdmissionStore.WidthSignal])

  // The stored rows of the two tables, ONE definition for the write and
  // the pruned read's schema
  private def storedDocs(kept: DataFrame): DataFrame =
    kept.filter(size(col("shingles")) > 0).select("doc_id", "shingles")
  private def storedBands(banded: DataFrame, kept: DataFrame): DataFrame =
    banded.join(kept.select("doc_id"), "doc_id")

  /** Judge one epoch and append its admitted fingerprints to the store;
    * the survivors are handed back in memory ([[admit]] writes them to
    * the kept dir, the curation funnel feeds them to its next gate). */
  def judge(batch: DataFrame, batchId: Long, storePath: String,
            threshold: Double = 0.5, numHashes: Int = 64,
            bands: Int = 32, rows: Int = 2, maxBucket: Int = 0,
            expectedStoreBytes: Long = 0L): Judged = {
    val all = batch
      .select(col("doc_id"), col("text"), TextQueries.neardupShingles)
      .localCheckpoint()
    // shingle-less docs (< 3 alphabetic words) cannot near-duplicate
    // anything — always admitted, exactly as the batch q38 keeps them
    val docs = all.filter(size(col("shingles")) > 0)
    // only a genuinely-missing store reads as empty; any other failure
    // (corrupt file, IO error, an interrupted maintenance publish)
    // aborts the epoch — swallowing it would admit duplicates of
    // everything previously admitted.
    //
    // The store is key-hash partitioned (AdmissionStore layout, routing
    // K from the store's own stamp): the bands read prunes to the
    // batch's own band buckets — complete for the join (every row of a
    // touched BUCKET shares its pb dir) and for the hotness judgment (a
    // bucket outside the batch's pb set can produce no candidate, and
    // every batch bucket is touched by definition) — and the
    // shingle-payload read prunes to the surviving candidates' doc-id
    // buckets. Per-batch store IO is O(touched partitions), not
    // O(store) — the r14 verdict's admission-family 100× blocker. Both
    // touched sets are observed on the checkpoints below.
    val bandedRaw = TextQueries.bandedOf(docs, numHashes, bands, rows)
    val (bandedObs, storeBandsRead) = AdmissionStore.observeTouched(bandedRaw,
      Bands.key, Bands.at(storePath), storedBands(bandedRaw, all).schema)
    val banded = bandedObs.localCheckpoint()

    // dups vs the already-admitted store (bipartite band join) and
    // within the batch (greedy pair-drop, higher id loses: q38
    // semantics) — the LSH gates' shared kernels
    val dupVsStore = AdmissionStore.dupsVsStore(docs, banded, storeBandsRead,
      Docs.at(storePath), storedDocs(all).schema, TextQueries.Jaccard,
      threshold, maxBucket)
    val dupInBatch = TextQueries
      .lshPairsFromDocs(docs, banded, threshold, maxBucket)
      .select(col("d2").as("doc_id")).distinct()

    // survivors = every doc not judged a dup, shingle-less ones included;
    // counted by a named observation on the checkpoint that materialises
    // them
    val counted = Observation(s"neardup:$batchId")
    val kept = all
      .join(dupVsStore.unionByName(dupInBatch).distinct(), Seq("doc_id"), "left_anti")
      .observe(counted, count(lit(1)).as("n"))
      .localCheckpoint()
    // key-hash partition dirs inside the deterministic epoch dir
    // (AdmissionStore layout; a retried batch overwrites its own
    // output, an empty epoch publishes nothing). The first epoch sizes
    // each table's fan-out from the caller's expected-scale hint; every
    // epoch's width signal rides back in the return so the stream's
    // reports carry the layout's growth story (AdmissionStore
    // lifecycle).
    val signals = Seq(
      AdmissionStore.writeEpoch(storedDocs(kept),
        Docs.key, Docs.at(storePath), batchId, expectedStoreBytes),
      AdmissionStore.writeEpoch(storedBands(banded, kept),
        Bands.key, Bands.at(storePath), batchId, expectedStoreBytes)).flatten
    Judged(kept.select("doc_id", "text"),
      AdmissionStore.observed(counted).getLong(0), signals)
  }

  /** [[judge]], then the survivors overwrite the deterministic
    * `epoch=<batchId>` kept dir (a retried batch reproduces its own
    * output). */
  def admit(batch: DataFrame, batchId: Long, storePath: String,
            keptPath: String, threshold: Double = 0.5, numHashes: Int = 64,
            bands: Int = 32, rows: Int = 2, maxBucket: Int = 0,
            expectedStoreBytes: Long = 0L)
      : Seq[AdmissionStore.WidthSignal] = {
    val j = judge(batch, batchId, storePath, threshold, numHashes, bands,
      rows, maxBucket, expectedStoreBytes)
    j.survivors.write.mode("overwrite").parquet(s"$keptPath/epoch=$batchId")
    j.signals
  }

  /** Compact the store's accumulated epoch partitions into the base
    * epoch — unbounded epoch-dir growth is the one O(epochs) listing cost
    * in the admission design. Offline maintenance, ENFORCED by
    * AdmissionStore's per-table lock: a concurrent writeEpoch fails
    * loudly against the held lock, and the publish aborts on epoch-set
    * drift — a raced epoch is never silently swapped away with the
    * superseded tree.
    */
  def compact(s: SparkSession, storePath: String): Unit =
    tables.compact(s, storePath)

  /** Full offline maintenance: fold epochs, then re-bucket any table
    * whose width signal says the store has outgrown its fan-out
    * (store bytes / K past `targetBucketBytes` — the AdmissionStore
    * lifecycle). Each table re-buckets on its own blocking key, the
    * same key its pruned reads route on. */
  def maintain(s: SparkSession, storePath: String,
      targetBucketBytes: Long = AdmissionStore.TargetBucketBytes)
      : Seq[AdmissionStore.LayoutReport] =
    tables.maintain(s, storePath, targetBucketBytes)

  /** Wire as a streaming sink over a (doc_id, text) stream. */
  def stream(docs: DataFrame, storePath: String, keptPath: String,
             checkpoint: String, threshold: Double = 0.5,
             maxBucket: Int = 0, expectedStoreBytes: Long = 0L): DataStreamWriter[Row] =
    docs.writeStream
      .outputMode("update")
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: DataFrame, id: Long) =>
        admit(batch, id, storePath, keptPath, threshold, maxBucket = maxBucket,
          expectedStoreBytes = expectedStoreBytes)
        ()
      }
}
