package graft.streaming

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.DataStreamWriter

/** Streaming verbatim-quote admission — the streaming form of q117's
  * duplicated-span audit, complementing [[NearDupAdmission]]: LSH catches
  * documents that are MOSTLY the same, this gate catches documents that
  * CONTAIN a long exact quote of the admitted corpus (Lee et al. 2022's
  * ExactSubstr rule as an ingest policy). A document is admitted iff its
  * longest run of consecutive stride-1 `window`-token hashes covered by
  * (a) the admitted store or (b) a lower-id document of its own batch
  * stays under `spanTokens` (runs of `spanTokens - window + 1` windows =
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
  * back as covered). Compaction folds epochs into `epoch=0` — offline
  * maintenance, not concurrent with an active stream, like the near-dup
  * store's.
  */
object QuoteAdmission {

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
    * batch/stream hash can never drift. Docs shorter than `window`
    * tokens have none and are trivially admitted. The census read
    * prunes to the batch's own window-hash key buckets (AdmissionStore
    * layout, routing K from the store's stamp) — coverage only ever
    * tests hashes the batch holds, and every row of a touched hash
    * shares its pb dir. A missing census WITH a maintenance aside is
    * not "empty" — it is an INTERRUPTED compact()/maintain() publish:
    * failing open would admit long quotes of everything previously
    * admitted, so the read fails loudly and points at the recovery
    * (one shared aside convention — see compact()).
    */
  def windowsOf(docs: DataFrame, storePath: String, window: Int = 10): Windows = {
    val raw = graft.operators.CorpusStatsMaintenance.windowHashes(docs, window)
    val (observed, census) = AdmissionStore.observeTouched(raw, col("h"),
      s"$storePath/census", censusRows(raw, raw).schema)
    Windows(observed.localCheckpoint(), census)
  }

  /** Doc ids of `wins` whose longest covered run reaches the span
    * threshold — covered by the store (excluding this epoch's own
    * partition, for retry safety) or by a lower-id doc of the same batch.
    */
  def quoteDrops(wins: Windows, batchId: Long,
                 spanTokens: Int = 20, window: Int = 10): DataFrame = {
    require(spanTokens >= window,
      s"spanTokens ($spanTokens) must be >= window ($window)")
    val s = wins.frame.sparkSession
    val runThreshold = spanTokens - window + 1
    val stored: Option[DataFrame] = wins.census
      .map(_.read(s).filter(col("epoch") =!= batchId)) // retries skip their own output

    // covered-by-store: the window's hash has at least one admitted owner
    // (any owner — epochs have fresh ids, so ownership can't be this doc)
    val w = wins.frame
    val storeHit = stored match {
      case None => w.select(col("doc_id"), col("i")).limit(0)
      case Some(census) =>
        w.join(census.select(col("h")).distinct(), "h")
          .select(col("doc_id"), col("i"))
    }
    // covered-in-batch: a LOWER-id batch doc holds the same hash (greedy
    // lower-id-wins, the q38/near-dup convention)
    val minOwner = w.groupBy(col("h")).agg(min(col("doc_id")).as("mo"))
    val batchHit = w.join(minOwner, "h")
      .filter(col("mo") < col("doc_id"))
      .select(col("doc_id"), col("i"))

    // q117's gaps-and-islands kernel over the covered positions
    storeHit.unionByName(batchHit).distinct()
      .withColumn("grp", col("i") -
        row_number().over(Window.partitionBy("doc_id").orderBy("i")))
      .groupBy(col("doc_id"), col("grp"))
      .agg(count(lit(1)).as("run"))
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
    AdmissionStore.writeEpoch(censusRows(wins.frame, keptIds), col("h"),
      s"$storePath/census", batchId, expectedStoreBytes).toSeq

  def admit(batch: DataFrame, batchId: Long, storePath: String,
            keptPath: String, spanTokens: Int = 20, window: Int = 10,
            expectedStoreBytes: Long = 0L)
      : Seq[AdmissionStore.WidthSignal] = {
    val all = batch.select(col("doc_id"), col("text")).localCheckpoint()
    val wins = windowsOf(all, storePath, window)
    val dropped = quoteDrops(wins, batchId, spanTokens, window)
    val kept = all.join(dropped, Seq("doc_id"), "left_anti").localCheckpoint()
    // deterministic epoch dirs: a retried batch overwrites its own output
    kept.write.mode("overwrite").parquet(s"$keptPath/epoch=$batchId")
    publishCensus(wins, kept.select(col("doc_id")), batchId, storePath,
      expectedStoreBytes)
  }

  /** Fold accumulated epoch partitions into a single base epoch (the
    * near-dup store's compaction pattern; offline maintenance only — a
    * retry AFTER compaction would no longer find its epoch to exclude).
    * The base lands in `epoch=-1`: batchIds are non-negative, so the
    * same-epoch exclusion in quoteDrops can NEVER alias the compacted
    * base — compacting into epoch=0 would make the first batch of any
    * FRESH checkpoint (batchId 0) exclude the entire accumulated store
    * and then overwrite it with its own census.
    */
  def compact(s: SparkSession, storePath: String): Unit = {
    val fs = org.apache.hadoop.fs.FileSystem.get(s.sparkContext.hadoopConfiguration)
    val live = s"$storePath/census"
    // uuid-unique staging tree (the AdmissionStore convention): a
    // superseded slow maintainer can never write into the tree this run
    // publishes; abandoned trees are swept by the prologue
    val tmp = s"$storePath/census_compact_tmp-${java.util.UUID.randomUUID()}"
    val livePath = new org.apache.hadoop.fs.Path(live)
    // the census fold runs as the table's elected single maintainer
    // (AdmissionStore's lock + epoch-drift guard — one enforcement for
    // every maintenance flow, this hand-rolled fold included): a
    // concurrent writeEpoch either fails loudly against the fresh lock
    // or aborts this publish via the drift re-list; neither can lose
    // an epoch with the swapped-out tree.
    AdmissionStore.withMaintenance(s, live) {
      // ONE aside convention per table (AdmissionStore's): an interrupted
      // publish — this compact's OR a maintain() re-bucket's — recovers
      // here, and quoteDrops' reads refuse to run while {no live, aside
      // present} stands (fail-loud, never fail-open). A second hand-rolled
      // aside name would leave half the crash states unrecoverable by
      // whichever tool checked the other. The prologue also sweeps
      // never-retried staged debris and re-derives a deleted table
      // stamp from agreeing epoch markers.
      AdmissionStore.maintenancePrologue(s, live)
      // a genuinely-missing census is a no-op; any OTHER read failure
      // propagates (the old catch-everything would silently skip a
      // compaction over an unreadable store)
      if (fs.exists(livePath)) {
        val snapshot = AdmissionStore.epochSet(s, live)
        // (no pre-delete: the staging tree is uuid-unique per run, and
        // the prologue swept any abandoned census_compact_tmp-* trees)
        // pb is a pure function of h under the store's own stamped fan-out
        // — recomputing it preserves the blocking-key layout through the
        // distinct, at whatever K the store has grown to
        val k = AdmissionStore.layoutK(s, live).getOrElse(
          throw new IllegalStateException(
            s"quote store $live has no _PBK layout marker — rebuild the store"))
        s.read.parquet(live).select(col("h")).distinct()
          .withColumn("pb", AdmissionStore.pb(col("h"), k))
          .write.partitionBy("pb")
          .mode("overwrite").parquet(s"$tmp/epoch=-1")
        // the layout marker travels WITH the publish (staged into the tmp
        // tree — table stamp and the folded epoch's own marker — before any
        // rename): no crash window can leave an intact keyed census whose
        // reads then claim it predates the layout
        AdmissionStore.stageMarker(s, tmp, k)
        // a writeEpoch that slipped past a stale lock lands here: abort
        // the publish rather than swap its epoch away
        AdmissionStore.guardEpochDrift(s, live, snapshot, tmp)
        // crash-safe publish: live -> aside, tmp -> live, drop aside — the
        // shared AdmissionStore dance; at no point is the census both
        // absent and unrecoverable
        AdmissionStore.publishSwap(s, live, tmp)
        AdmissionStore.rebaseBytes(s, live) // re-base the width carry
      }
    }
  }

  /** Full offline maintenance: fold epochs (the aside-protocol compact
    * above), then re-bucket the census when its width signal fired (the
    * AdmissionStore lifecycle). Epoch structure survives the re-bucket,
    * so the same-epoch retry exclusion keeps working. */
  def maintain(s: SparkSession, storePath: String,
      targetBucketBytes: Long = AdmissionStore.TargetBucketBytes)
      : Seq[AdmissionStore.LayoutReport] = {
    compact(s, storePath)
    AdmissionStore.maintain(s, s"$storePath/census", col("h"),
      targetBucketBytes).toSeq
  }

  /** Wire as a streaming sink over a (doc_id, text) stream. */
  def stream(docs: DataFrame, storePath: String, keptPath: String,
             checkpoint: String, spanTokens: Int = 20,
             expectedStoreBytes: Long = 0L): DataStreamWriter[Row] =
    docs.writeStream
      .outputMode("update")
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: DataFrame, id: Long) =>
        admit(batch, id, storePath, keptPath, spanTokens,
          expectedStoreBytes = expectedStoreBytes)
        ()
      }
}
