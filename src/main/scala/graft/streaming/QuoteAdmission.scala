package graft.streaming

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.DataStreamWriter
import graft.operators.CorpusStatsMaintenance

/** Streaming verbatim-quote admission — the streaming form of q117's
  * duplicated-span audit, complementing [[NearDupAdmission]]: LSH catches
  * documents that are MOSTLY the same, this gate catches documents that
  * CONTAIN a long exact quote of the admitted corpus (Lee et al. 2022's
  * ExactSubstr rule as an ingest policy). A document is admitted iff its
  * longest run of consecutive stride-1 10-token window hashes covered by
  * (a) the admitted store or (b) a lower-id document of its own batch
  * stays under `spanTokens` (runs of `spanTokens - 10 + 1` windows =
  * a `spanTokens`-token duplicated substring; same greedy lower-id-wins
  * as the near-dup gate). Coverage is per-window ("this window exists
  * somewhere admitted"), exactly q117's census semantics — a run may
  * stitch windows owned by different store docs, the deliberate batch/
  * stream agreement.
  *
  * Scale shape: the store keeps ONE table — the admitted corpus's
  * DISTINCT window hashes in `epoch=<batchId>` partitions (hash
  * existence is all coverage tests: an epoch excludes its own partition
  * and cross-epoch ownership can never be self under the fresh-ids
  * contract, so owner counts would be dead weight in a window-sized key
  * space; the batch-vs-batch q117 CENSUS semantics live in
  * CorpusStatsMaintenance.SpanIndex, which shares this gate's window-key
  * definition). The batch joins the store on the hash key (shuffle =
  * touched keys only), and the islands window partitions by doc_id —
  * bounded by document length, never corpus-sized. Nothing data-sized
  * crosses the driver.
  *
  * Retry idempotence: an epoch EXCLUDES its own `epoch=<batchId>`
  * partition from the store read, so a foreachBatch retry that already
  * published its census cannot self-reject (sub-threshold windows shared
  * between two docs BOTH kept in the original run would otherwise read
  * back as covered).
  *
  * Maintenance ([[AdmissionStore.Store]]): compaction folds census
  * epochs into the base epoch `epoch=-1` (AdmissionStore's BASE EPOCH),
  * which lies below every batchId, so the same-epoch exclusion in
  * [[quoteDrops]] can never alias it; offline only — a retry AFTER
  * compaction would no longer find its epoch to exclude. Epoch
  * structure survives the re-bucket, so the same-epoch retry exclusion
  * keeps working.
  */
object QuoteAdmission extends AdmissionStore.Store {

  /** Window width in tokens — the census key's format: a restart under
    * another width would test coverage against an incompatible store. */
  private val WindowTokens = 10

  /** The census table: window hashes keyed by `h`. Compaction folds it
    * to DISTINCT hashes — hash existence is all coverage tests, so rows
    * repeated across epochs are dead weight in the base (`pb` is a
    * function of `h`, so the pair is distinct exactly when `h` is). */
  private val Census = AdmissionStore.Table("census", col("h"), _.distinct())
  protected val tables = Seq(Census)

  /** One epoch's windows: `frame` = (doc_id, i, h), the stride-1
    * window hashes of the batch, materialised once (drop computation
    * and census publication both read it), and `census` = the census
    * store's pruned read, its touched set observed on that same
    * checkpoint (None before the first census epoch). */
  final case class Windows(frame: DataFrame,
      census: Option[AdmissionStore.PrunedRead])

  /** The census rows an epoch publishes: the admitted docs' DISTINCT
    * window hashes. ONE definition for the write and the pruned read's
    * schema. */
  private def censusRows(wins: DataFrame, keptIds: DataFrame): DataFrame =
    wins.join(keptIds.select(col("doc_id")), "doc_id")
      .select(col("h")).distinct()

  /** The [[Windows]] of (doc_id, text) docs — q117's relation. ONE
    * window-key definition shared with the incremental span census
    * ([[graft.operators.CorpusStatsMaintenance.windowHashes]]) so the
    * batch/stream hash can never drift. Docs shorter than the window
    * have none and are trivially admitted. The census read
    * prunes to the batch's own window-hash key buckets (AdmissionStore
    * layout, routing K from the store's stamp) — coverage only ever
    * tests hashes the batch holds, and every row of a touched hash
    * shares its pb dir. A missing census WITH a maintenance aside is
    * not "empty" — it is an INTERRUPTED compact()/maintain() publish:
    * failing open would admit long quotes of everything previously
    * admitted, so the read fails loudly and points at the recovery
    * (AdmissionStore's one aside convention).
    */
  def windowsOf(docs: DataFrame, storePath: String): Windows = {
    val raw = CorpusStatsMaintenance.windowHashes(docs, WindowTokens)
    val (observed, census) = AdmissionStore.observeTouched(raw, Census.key,
      Census.at(storePath), censusRows(raw, raw).schema)
    Windows(observed.localCheckpoint(), census)
  }

  /** Doc ids of `wins` whose longest covered run reaches the span
    * threshold — covered by the store (excluding this epoch's own
    * partition, for retry safety) or by a lower-id doc of the same batch.
    */
  def quoteDrops(wins: Windows, batchId: Long, spanTokens: Int = 20): DataFrame = {
    require(spanTokens >= WindowTokens,
      s"spanTokens ($spanTokens) must be >= the window ($WindowTokens)")
    val s = wins.frame.sparkSession
    val runThreshold = spanTokens - WindowTokens + 1
    val w = wins.frame.select(col("doc_id"), col("i"), col("h"))
    // ONE pass flags the covered windows: the admitted corpus owns its
    // census hashes under an id below every batch id (any owner — epochs
    // have fresh ids, so ownership can't be this doc), so a window is
    // covered iff its hash's lowest owner lies below its own doc (greedy
    // lower-id-wins, the q38/near-dup convention). Each (doc_id, i)
    // window is one row, so the covered positions need no distinct.
    val owners = wins.census.fold(w) { census =>
      w.unionByName(census.read(s)
        .filter(col("epoch") =!= batchId) // retries skip their own output
        .select(lit(Long.MinValue).as("doc_id"), lit(null).cast("int").as("i"),
          col("h")))
    }
    val covered = owners
      .withColumn("mo", min(col("doc_id")).over(Window.partitionBy(col("h"))))
      .filter(col("mo") < col("doc_id"))
      .select(col("doc_id"), col("i"))

    // q117's gaps-and-islands kernel over the covered positions
    CorpusStatsMaintenance.coveredRuns(covered)
      .filter(col("run") >= runThreshold)
      .select(col("doc_id")).distinct()
  }

  /** Publish the admitted docs' DISTINCT window hashes as this epoch's
    * store partition — hash existence is all coverage ever tests (an
    * epoch's own partition is excluded, and cross-epoch ownership can
    * never be self, so per-hash owner counts would be dead weight in a
    * window-sized key space). `keptIds` = (doc_id) the FINAL admitted set
    * (a funnel must publish survivors of ALL its gates, not just this
    * one). An epoch with no surviving windows publishes nothing
    * ([[AdmissionStore.writeEpoch]]'s empty-epoch rule).
    */
  def publishCensus(wins: Windows, keptIds: DataFrame, batchId: Long,
                    storePath: String, expectedStoreBytes: Long = 0L)
      : Seq[AdmissionStore.WidthSignal] =
    AdmissionStore.writeEpoch(censusRows(wins.frame, keptIds), Census.key,
      Census.at(storePath), batchId, expectedStoreBytes).toSeq

  def admit(batch: DataFrame, batchId: Long, storePath: String,
            keptPath: String, spanTokens: Int = 20,
            expectedStoreBytes: Long = 0L)
      : Seq[AdmissionStore.WidthSignal] = {
    val all = batch.select(col("doc_id"), col("text")).localCheckpoint()
    val wins = windowsOf(all, storePath)
    val dropped = quoteDrops(wins, batchId, spanTokens)
    val kept = all.join(dropped, Seq("doc_id"), "left_anti").localCheckpoint()
    AdmissionGate.keep(kept, keptPath, batchId)
    publishCensus(wins, kept.select(col("doc_id")), batchId, storePath,
      expectedStoreBytes)
  }

  /** Wire as a streaming sink over a (doc_id, text) stream. */
  def stream(docs: DataFrame, storePath: String, keptPath: String,
             checkpoint: String, spanTokens: Int = 20,
             expectedStoreBytes: Long = 0L): DataStreamWriter[Row] =
    AdmissionGate.wire(docs, checkpoint) { (batch, id) =>
      admit(batch, id, storePath, keptPath, spanTokens, expectedStoreBytes)
    }
}
