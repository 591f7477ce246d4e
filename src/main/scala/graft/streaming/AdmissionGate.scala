package graft.streaming

import org.apache.spark.sql.{Column, DataFrame, Observation, Row}
import org.apache.spark.sql.functions.{col, count, lit}
import org.apache.spark.sql.streaming.DataStreamWriter
import graft.operators.TextQueries
import graft.operators.TextQueries.PairKernel

/** The skeleton every streaming admission gate shares — the shape of the
  * paper's streaming jobs (a source is read, a micro-batch is judged, the
  * result goes to an idempotent per-epoch sink): ONE stream wiring
  * ([[wire]]), ONE kept-epoch write ([[keep]]) and ONE LSH judge body
  * ([[Lsh]]) for the two band-blocked gates. A gate supplies only its
  * decisions, its stores and its observation names; the per-epoch steps
  * around them are written here once, so an epoch-level concern (such as
  * per-gate admitted/dropped counts) has one place to go.
  */
private[streaming] object AdmissionGate {

  /** Wire `input` as a streaming sink: each micro-batch runs `epoch`
    * under its batch id, with the stream's progress checkpointed at
    * `checkpoint`. A gate binds its frozen inputs (references, pinned
    * geometry) BEFORE calling this, so no batch re-reads them. */
  def wire(input: DataFrame, checkpoint: String)
      (epoch: (DataFrame, Long) => Unit): DataStreamWriter[Row] =
    input.writeStream
      .outputMode("update")
      .option("checkpointLocation", checkpoint)
      .foreachBatch(epoch)

  /** Publish an epoch's survivors: they overwrite the deterministic
    * `epoch=<batchId>` kept dir, so a retried batch reproduces its own
    * output instead of appending a second copy. */
  def keep(survivors: DataFrame, keptPath: String, batchId: Long): Unit =
    survivors.write.mode("overwrite").parquet(s"$keptPath/epoch=$batchId")

  /** An LSH gate: a row is admitted iff it does not near-duplicate
    * (`kernel.sim` ≥ threshold over band-key candidates) any previously
    * admitted row, or a lower-id row of its own batch (q38's greedy
    * pair-drop: the higher id loses). `bandKey` explodes a row's payload
    * into its band keys; rows failing `pairable` (a shingle-less doc)
    * skip banding and are always admitted. The store keeps two tables,
    * derived from the kernel: `payloadSub` (id, payload) — the verify
    * payload, keyed by id — and `bandSub` (id, band key) — the compact
    * blocking index, keyed by band key. Candidate generation is a
    * distributed band equi-join (shuffle key = band key, cost
    * Σ bucket²); payloads join back only for surviving candidate pairs.
    * Nothing data-sized crosses the driver. */
  final case class Lsh(kernel: PairKernel, bandKey: Column,
      payloadSub: String, bandSub: String, pairable: Column = lit(true)) {
    val payloads = AdmissionStore.Table(payloadSub, col(kernel.id))
    val bands = AdmissionStore.Table(bandSub, col(kernel.key))

    // The stored rows of the two tables, ONE definition for the write
    // and the pruned read's schema
    private def storedPayloads(rows: DataFrame): DataFrame =
      rows.filter(pairable).select(col(kernel.id), col(kernel.payload))
    private def storedBands(banded: DataFrame, kept: DataFrame): DataFrame =
      banded.join(kept.select(col(kernel.id)), kernel.id)

    /** Judge one epoch of `rows` (the kernel's id and payload, plus any
      * carried columns) and append its admitted rows to the store at
      * `storePath`. Returns the survivors — a lazy frame over this
      * epoch's checkpoint, carrying every column of `rows` — and the
      * store writes' width signals. `counted`, when given, counts the
      * survivors on that checkpoint (no job of its own). */
    def judge(rows: DataFrame, batchId: Long, storePath: String,
        threshold: Double, maxBucket: Int, expectedStoreBytes: Long,
        counted: Option[Observation] = None)
        : (DataFrame, Seq[AdmissionStore.WidthSignal]) = {
      val all = rows.localCheckpoint()
      val docs = all.filter(pairable)
      // only a genuinely-missing store reads as empty; any other failure
      // (corrupt file, IO error, an interrupted maintenance publish)
      // aborts the epoch — swallowing it would admit duplicates of
      // everything previously admitted.
      //
      // The store is key-hash partitioned (AdmissionStore layout, routing
      // K from the store's own stamp): the band read prunes to the
      // batch's own band keys — complete for the join (every row of a
      // touched key shares its pb dir) and for the hotness judgment (a
      // key outside the batch's pb set can produce no candidate) — and
      // the payload read prunes to the surviving candidates' ids.
      // Per-batch store IO is O(touched partitions), not O(store). Both
      // touched sets are observed on the checkpoints that materialise
      // their keys.
      val bandedRaw = docs.select(col(kernel.id), bandKey.as(kernel.key))
      val (bandedObs, storeBandsRead) = AdmissionStore.observeTouched(bandedRaw,
        bands.key, bands.at(storePath), storedBands(bandedRaw, all).schema)
      val banded = bandedObs.localCheckpoint()

      // dups vs the already-admitted store (bipartite band join) and
      // within the batch (greedy pair-drop, higher id loses) — the
      // batch twins' kernels, so a hot-bucket cap judges alike in both
      val dupVsStore = AdmissionStore.dupsVsStore(docs, banded, storeBandsRead,
        payloads.at(storePath), storedPayloads(all).schema, kernel,
        threshold, maxBucket)
      val dupInBatch = TextQueries
        .lshPairsFromDocs(docs, banded, threshold, maxBucket, kernel)
        .select(col("d2").as(kernel.id)).distinct()

      // survivors = every row not judged a dup, unpairable ones included
      val survivors = all.join(dupVsStore.unionByName(dupInBatch).distinct(),
        Seq(kernel.id), "left_anti")
      val kept = counted.fold(survivors)(o =>
        survivors.observe(o, count(lit(1)).as("n"))).localCheckpoint()
      // key-hash partition dirs inside the deterministic epoch dir (a
      // retried batch overwrites its own output, an empty epoch
      // publishes nothing). The first epoch sizes each table's fan-out
      // from the caller's expected-scale hint; every epoch's width
      // signal rides back so the stream's reports carry the layout's
      // growth story (AdmissionStore lifecycle). Payloads are written
      // before the band index: stored bands without stored payloads is
      // a damaged store, never an empty one.
      (kept, Seq(
        AdmissionStore.writeEpoch(storedPayloads(kept), payloads.key,
          payloads.at(storePath), batchId, expectedStoreBytes),
        AdmissionStore.writeEpoch(storedBands(banded, kept), bands.key,
          bands.at(storePath), batchId, expectedStoreBytes)).flatten)
    }
  }
}
