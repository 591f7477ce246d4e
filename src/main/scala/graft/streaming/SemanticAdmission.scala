package graft.streaming

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.DataStreamWriter
import graft.functions.expressions.VectorExpressions.cosineSim
import graft.operators.{IndexMaintenance, VectorQueries}

/** Streaming SEMANTIC-dedup admission — the streaming form of q119's
  * SemDeDup (Abbas et al. 2023) and the fourth member of the admission
  * family (NearDup lexical, Embedding SRP, Quote): a vector is admitted
  * iff it does not semantically duplicate (within-cell cosine ≥ tau) any
  * previously admitted vector or a surviving vector of its own batch.
  *
  * The blocking index is the corpus's PERSISTED IVF geometry (the q46
  * trained-centroid artifact — `cent` is passed in, never retrained
  * here): each batch assigns to its nearest cell against the broadcast
  * centroids, and the pairwise stage is cell-equi — per batch the cost
  * is Σ_cell |batch∩cell|·|store∩cell| + |batch∩cell|², never batch ×
  * store. Unlike the SRP gate's hash buckets, a cell cannot silently
  * fill with copies: copies ARE within-cell near-dups and get dropped,
  * and cell population is bounded by the trainer's corpus-sized nlist
  * (`VectorQueries.IvfTargetCellSize`).
  *
  * Keep rule: WITHIN a batch the true SemDeDup rule applies — the MORE
  * prototypical member (higher cosine to its own centroid, ties the
  * larger id) of a duplicate pair drops, preserving diversity. Versus
  * the store the BATCH member drops unconditionally: the stored copy is
  * already published to `keptPath` and consumed downstream — an
  * admission gate cannot unpublish — so the diversity-preferring choice
  * only applies where both members are still pending (the documented
  * deviation from the batch operator's oust-the-prototype behavior,
  * which `IndexMaintenance.refreshSemDedup` keeps for offline state).
  *
  * Geometry staleness is ENFORCED, not assumed: the store pins the
  * centroid fingerprint it was scored under
  * ([[IndexMaintenance.centroidFingerprint]]); binding a retrained
  * geometry ([[Geometry.pin]], once per stream) fails loudly instead of
  * mixing csims from two geometries — the same contract the
  * maintenance family carries.
  *
  * Epoch idempotence: admitted vectors append as deterministic
  * `epoch=<batchId>` partitions (overwrite mode), a vector never
  * duplicates its own stored copy (id filter), and the kept set is
  * deterministic — a retried foreachBatch epoch replays to the same
  * state.
  *
  * Maintenance ([[AdmissionStore.Store]]) folds and re-buckets the
  * members table only: the geometry pin survives untouched.
  */
object SemanticAdmission extends AdmissionStore.Store {

  // The store's one table: admitted members by cell (the cell-equi
  // join's key)
  private val Members = AdmissionStore.Table("members", col("cell"))
  protected val tables = Seq(Members)

  /** The trained geometry a stream judges against, bound to a store once
    * ([[Geometry.pin]]) instead of re-checked per batch: `cent` is the
    * broadcast centroid frame, already verified against the pin of the
    * store at `storePath`. Only [[Geometry.pin]] makes one. */
  final class Geometry private (val cent: DataFrame, val storePath: String)

  object Geometry {
    /** Pin `cent` to the store at `storePath`: the first pin records the
      * centroid fingerprint ([[IndexMaintenance.centroidFingerprint]]);
      * every later pin must match it — a retrained index invalidates
      * every stored csim and cell id at once, so a mismatch fails loudly
      * HERE, before any batch runs (the same axis as refreshSemDedup's
      * rebuild report). */
    def pin(cent: DataFrame, storePath: String): Geometry = {
      val s = cent.sparkSession
      val path = s"$storePath/geometry"
      val fp = IndexMaintenance.centroidFingerprint(cent)
      val hpath = new org.apache.hadoop.fs.Path(path)
      if (graft.Publish.fsOf(hpath, s).exists(hpath)) {
        val stored = graft.Tables.readParquet(s, path).select("fp").head().getString(0)
        if (stored != fp) throw new IllegalStateException(
          s"semantic-admission store was scored under centroid geometry " +
            s"$stored but the gate was given $fp — the index was " +
            "retrained; rebuild the admission store")
      } else {
        import s.implicits._
        Seq(fp).toDF("fp").write.mode("overwrite").parquet(path)
      }
      new Geometry(cent, storePath)
    }
  }

  /** One epoch against `geom`, which must be pinned to this store. */
  def admit(batch: DataFrame, batchId: Long, geom: Geometry,
            storePath: String, keptPath: String,
            tau: Double = 0.95, expectedStoreBytes: Long = 0L)
      : Seq[AdmissionStore.WidthSignal] = {
    require(geom.storePath == storePath, s"semantic-admission geometry " +
      s"is pinned to ${geom.storePath}, not to $storePath")
    val s = batch.sparkSession

    // vs the admitted store: cell-equi bipartite join; the batch member
    // loses (see keep-rule doc above); own stored copy exempt (retry).
    // The members read prunes to the batch's own cells' key-hash
    // partitions (AdmissionStore layout), the touched set observed on
    // the checkpoint below — per-batch store IO is O(touched
    // partitions), not O(store). The store keeps (cell, csim) alongside
    // so no future batch ever re-scores admitted vectors against the
    // centroids: its rows are the scored frame's, so that is the read
    // schema.
    val mRaw = VectorQueries.semRoster(VectorQueries.assignCells(
      batch.select(col("vec_id"), col("embedding")), geom.cent), geom.cent)
    val (mObs, membersRead) = AdmissionStore.observeTouched(mRaw,
      Members.key, Members.at(storePath), mRaw.schema)
    val m = mObs.localCheckpoint()
    val dupVsStore = membersRead match {
      case None => m.select(col("vec_id")).limit(0)
      case Some(read) => m.alias("a")
        .join(read.read(s).alias("b"),
          col("a.cell") === col("b.cell") &&
            col("a.vec_id") =!= col("b.vec_id"))
        .filter(cosineSim(col("a.embedding"), col("b.embedding")) >= tau)
        .select(col("a.vec_id")).distinct()
    }

    // within the batch: the SemDeDup keep rule — higher csim (more
    // prototypical) drops, ties drop the larger id (q119's exact rule)
    val dupInBatch = VectorQueries.semDrops(m, m,
      col("a.vec_id") < col("b.vec_id"), tau)

    val kept = m
      .join(dupVsStore.unionByName(dupInBatch).distinct(),
        Seq("vec_id"), "left_anti")
      .localCheckpoint()
    // an empty epoch publishes nothing to the store
    // (AdmissionStore.writeEpoch)
    AdmissionGate.keep(kept.select(col("vec_id"), col("embedding")),
      keptPath, batchId)
    AdmissionStore.writeEpoch(kept, Members.key,
      Members.at(storePath), batchId, expectedStoreBytes).toSeq
  }

  /** Wire as a streaming sink over a (vec_id, embedding) stream against
    * a frozen trained geometry. The geometry is pinned here, at stream
    * start ([[Geometry.pin]]): a store scored under other centroids
    * fails before the first batch, and no batch re-reads the pin. */
  def stream(vecs: DataFrame, cent: DataFrame, storePath: String,
             keptPath: String, checkpoint: String,
             tau: Double = 0.95,
             expectedStoreBytes: Long = 0L): DataStreamWriter[Row] = {
    val geom = Geometry.pin(cent, storePath)
    AdmissionGate.wire(vecs, checkpoint) { (batch, id) =>
      admit(batch, id, geom, storePath, keptPath, tau, expectedStoreBytes)
    }
  }
}
