package graft.streaming

import org.apache.spark.sql.{Column, DataFrame, Observation, Row}
import org.apache.spark.sql.functions.{broadcast, col, count, explode, lit, when}
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

  /** `ids` hinted for a broadcast join when `rows` rows of its schema
    * fit Spark's own threshold, `spark.sql.autoBroadcastJoinThreshold`.
    * `ids` must be a set of DISTINCT ids of a frame of at most `rows`
    * rows — a per-row verdict, or a pair-derived set after its
    * `distinct` (a batch of m copies of one doc yields m(m-1)/2 verified
    * pairs, which must not reach the driver). The gates anti-join such
    * sets against their batch; Spark sizes a plan over store or
    * reference reads far above the threshold, plans a sort-merge join,
    * and adaptive execution demotes it only after the batch side's
    * shuffle has run. A gate's observed row counts bound the set, so the
    * batch side is never shuffled. */
  def broadcastIfSmall(ids: DataFrame, rows: Long): DataFrame = {
    val limit = ids.sparkSession.sessionState.conf.autoBroadcastJoinThreshold
    if (limit >= 0 && BigInt(rows) * (8 + ids.schema.defaultSize) <= limit) broadcast(ids)
    else ids
  }

  /** An LSH gate: a row is admitted iff it does not near-duplicate
    * (`kernel.sim` ≥ threshold over band-key candidates) any previously
    * admitted row, or a lower-id row of its own batch (q38's greedy
    * pair-drop: the higher id loses). `bandKeys` is a row's payload's
    * band keys as one array; rows failing `pairable` (a shingle-less
    * doc) skip banding and are always admitted. The store keeps two
    * tables, derived from the kernel: `payloadSub` (id, payload) — the
    * verify payload, keyed by id — and `bandSub` (id, band key) — the
    * compact blocking index, keyed by band key. Candidate generation is
    * a distributed band equi-join (shuffle key = band key, cost
    * Σ bucket²); payloads join back only for surviving candidate pairs.
    * Nothing data-sized crosses the driver. */
  final case class Lsh(kernel: PairKernel, bandKeys: Column,
      payloadSub: String, bandSub: String, pairable: Column = lit(true)) {
    val payloads = AdmissionStore.Table(payloadSub, col(kernel.id))
    val bands = AdmissionStore.Table(bandSub, col(kernel.key))

    /** The band-key array column the judge's checkpoint carries. */
    private val Keys = "band_keys"

    // The stored rows of the two tables, ONE definition for the write
    // and the pruned read's schema
    private def storedPayloads(rows: DataFrame): DataFrame =
      rows.filter(pairable).select(col(kernel.id), col(kernel.payload))
    private def storedBands(keyed: DataFrame): DataFrame =
      keyed.select(col(kernel.id), explode(col(Keys)).as(kernel.key))

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
      // ONE checkpoint holds the rows and their band keys (unpairable
      // rows have none). Only a genuinely-missing store reads as empty;
      // any other failure (corrupt file, IO error, an interrupted
      // maintenance publish) aborts the epoch — swallowing it would
      // admit duplicates of everything previously admitted.
      //
      // The store is key-hash partitioned (AdmissionStore layout, routing
      // K from the store's own stamp): the band read prunes to the
      // batch's own band keys — complete for the join (every row of a
      // touched key shares its pb dir) and for the hotness judgment (a
      // key outside the batch's pb set can produce no candidate) — and
      // the payload read prunes to the surviving candidates' ids.
      // Per-batch store IO is O(touched partitions), not O(store). Both
      // touched sets are observed on the checkpoints that materialise
      // their keys; the row count bounds the (distinct) drop-id sets.
      val keyed = rows.withColumn(Keys, when(pairable, bandKeys))
      val (keyedObs, storeBandsRead) = AdmissionStore.observeTouched(keyed,
        col(Keys), bands.at(storePath), storedBands(keyed).schema)
      val in = Observation(s"lsh.in:$payloadSub")
      val all = keyedObs.observe(in, count(lit(1)).as("n")).localCheckpoint()
      val n = AdmissionStore.observed(in).getLong(0)
      val docs = all.filter(pairable)
      val banded = storedBands(all)

      // dups vs the already-admitted store (bipartite band join) and
      // within the batch (greedy pair-drop, higher id loses) — the
      // batch twins' kernels, so a hot-bucket cap judges alike in both
      val dupVsStore = AdmissionStore.dupsVsStore(docs, banded, storeBandsRead,
        payloads.at(storePath), storedPayloads(all).schema, kernel,
        threshold, maxBucket)
      val dupInBatch = TextQueries
        .lshPairsFromDocs(docs, banded, threshold, maxBucket, kernel)
        .select(col("d2").as(kernel.id))

      // survivors = every row not judged a dup, unpairable ones included.
      // Both sets hold one id per verified pair; their ONE distinct
      // bounds the broadcast by the batch
      val dups = dupVsStore.unionByName(dupInBatch).distinct()
      val survivors = all.join(broadcastIfSmall(dups, n), Seq(kernel.id), "left_anti")
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
      (kept.drop(Keys), Seq(
        AdmissionStore.writeEpoch(storedPayloads(kept), payloads.key,
          payloads.at(storePath), batchId, expectedStoreBytes),
        AdmissionStore.writeEpoch(storedBands(kept), bands.key,
          bands.at(storePath), batchId, expectedStoreBytes)).flatten)
    }
  }
}
