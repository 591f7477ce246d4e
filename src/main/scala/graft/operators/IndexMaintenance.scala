package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.functions.expressions.VectorExpressions.cosineSim

/** Incremental maintenance of the IVF index artifacts — the 100 TB
  * behavior the corpus-fingerprinted artifact store models statically:
  * when a stream appends a segment to the embedded corpus, the index
  * must refresh for O(delta), not O(corpus), unless the data actually
  * drifted.
  *
  * Design (the standard production IVF lifecycle, e.g. the FAISS /
  * Milvus segment model):
  *
  *   - The persisted index carries per-cell SUFFICIENT STATISTICS
  *     (cell, n, sumvec) — O(nlist × dim), tiny — written once at build
  *     time by [[cellStats]]. They make the later drift decision an
  *     O(delta + nlist) computation instead of a full corpus pass.
  *   - [[refreshIvf]] assigns ONLY the delta against the frozen
  *     centroids (one broadcast-nlist pass over the delta), merges the
  *     delta's stats into the base stats, and measures centroid drift:
  *     1 − cos(frozen centroid, post-append cell mean) per cell. The
  *     post-append mean comes from the merged stats — no corpus scan.
  *   - Below the drift threshold the refresh is INCREMENTAL: the
  *     inverted file gains the delta's rows, the centroids stay frozen
  *     (so existing cell assignments — and any externally persisted
  *     per-cell files — remain valid), and search quality is preserved
  *     because the geometry that placed the cells hasn't moved.
  *   - Above the threshold the corpus has genuinely shifted and the
  *     refresh RETRAINS: Lloyd iterations warm-started from the current
  *     centroids (not label-seeded — labels belong to the bootstrap
  *     build) over base+delta, then a full re-assignment. The report
  *     says which path ran, so a pipeline can alert on drift.
  *
  * Cost shape at 100 TB: incremental = O(|delta| × nlist) assignment +
  * O(nlist × dim) merge/drift math; retrain = O(|corpus| × nlist ×
  * iters). SCALING §5 prices both paths, measured.
  */
object IndexMaintenance {

  /** What a refresh did: `mode` is "incremental", "retrain", or
    * "retrain_resized" (drift tripped AND the grown corpus sizes more
    * cells — the retrain re-seeded at `nlistNow`); `maxDrift` the
    * largest per-cell 1−cos(centroid, new mean), judged RELATIVE to the
    * index's build-time `baselineDrift` — Lloyd never fully converges,
    * so even a freshly built index has nonzero drift between its
    * centroids and its final cell means (~0.03 here); the detector must
    * flag what the APPEND changed, not that residual. `nlist` is the
    * index's frozen cell count and `nlistNow` what the post-append
    * corpus SIZES (ceil(N / IvfTargetCellSize), the trainCells
    * contract): nlistNow > nlist on an incremental refresh is the
    * occupancy rebuild signal — candidates stay correct, but cells run
    * deeper than the design point and q119-style Σ|cell|² work grows —
    * the exact analogue of the SRP width signal and the PQ distortion
    * ratio, acted on by the caller (a drift-tripped retrain acts on it
    * automatically). */
  final case class RefreshReport(mode: String, newVectors: Long,
      maxDrift: Double, baselineDrift: Double, driftThreshold: Double,
      nlist: Long, nlistNow: Long)

  /** Refreshed index artifacts: the inverted file, the centroids, the
    * per-cell stats to persist for the NEXT refresh, and the build-time
    * residual drift the next refresh judges against. */
  final case class IvfIndex(assigned: DataFrame, centroids: DataFrame,
      stats: DataFrame, baselineDrift: Double)

  /** Per-cell sufficient statistics of an inverted file: (cell, n,
    * sumvec). One corpus pass at build time; O(nlist × dim) rows out.
    */
  def cellStats(assigned: DataFrame): DataFrame =
    sumStats(assigned.withColumn("n", lit(1L)), "embedding")

  /** Merge two stats tables (same dim): counts add, sum vectors add
    * elementwise. O(nlist × dim) — never touches vectors. */
  def mergeStats(a: DataFrame, b: DataFrame): DataFrame =
    sumStats(a.unionByName(b), "sumvec")

  /** The one sum reassembly behind both: rows (cell, n, `vec`) →
    * (cell, n, sumvec), with n and the per-dim sums added per cell and
    * the sums re-assembled in dim order. */
  private def sumStats(rows: DataFrame, vec: String): DataFrame = rows
    .select(col("cell"), col("n"), posexplode(col(vec)).as(Seq("dim", "x")))
    .groupBy(col("cell"), col("dim"))
    .agg(sum(col("x").cast("double")).as("sx"), sum(col("n")).as("n"))
    .groupBy(col("cell"))
    .agg(array_sort(collect_list(struct(col("dim"), col("sx")))).as("pairs"),
      max(col("n")).as("n"))
    .select(col("cell"), col("n"),
      expr("transform(pairs, p -> p.sx)").as("sumvec"))

  /** Largest per-cell 1 − cos(frozen centroid, stats mean). A cell in
    * the stats but not the centroid table (impossible for IVF-assigned
    * data) or vice versa (a cell no vector maps to) simply doesn't
    * contribute. Pure O(nlist) driver-visible math.
    */
  def maxDrift(stats: DataFrame, cent: DataFrame): Double = {
    val rows = stats.join(cent, "cell")
      // float-cast the mean: cosineSim is the float-array kernel, and a
      // float mean is exactly what a float centroid table would store
      .select((lit(1.0) - cosineSim(
        expr("transform(sumvec, s -> cast(s / n as float))"),
        col("centroid"))).as("drift"))
      .agg(max(col("drift"))).head()
    if (rows.isNullAt(0)) 0.0 else rows.getDouble(0)
  }

  /** Refresh the IVF index for an appended `delta` (vec_id, embedding).
    * See the object doc for the incremental/retrain decision. The
    * returned frames are localCheckpoint'ed where they'd otherwise
    * re-execute per consumer (assigned feeds search AND the next
    * refresh's base).
    */
  def refreshIvf(base: IvfIndex, delta: DataFrame,
      driftThreshold: Double = 0.05, lloydIters: Int = 2)
      : (IvfIndex, RefreshReport) = {
    val newVectors = delta.count()
    val assignedDelta = VectorQueries
      .assignCells(delta.select(col("vec_id"), col("embedding")), base.centroids)
      .localCheckpoint()
    val mergedStats = mergeStats(base.stats, cellStats(assignedDelta))
      .localCheckpoint()
    val drift = maxDrift(mergedStats, base.centroids)
    // post-append corpus count from the carried stats — no corpus pass;
    // what the corpus SIZES vs what the index froze (see RefreshReport)
    val nTotal = {
      val r = mergedStats.agg(sum(col("n"))).head()
      if (r.isNullAt(0)) 0L else r.getLong(0)
    }
    val nlist = base.centroids.count()
    val nlistNow = VectorQueries.ivfNlist(nTotal).toLong
    if (drift - base.baselineDrift <= driftThreshold) {
      val assigned = base.assigned.unionByName(assignedDelta)
      (IvfIndex(assigned, base.centroids, mergedStats, base.baselineDrift),
        RefreshReport("incremental", newVectors, drift, base.baselineDrift,
          driftThreshold, nlist, nlistNow))
    } else {
      val full = base.assigned.select(col("vec_id"), col("embedding"))
        .unionByName(assignedDelta.select(col("vec_id"), col("embedding")))
        .localCheckpoint()
      // nlist is a CORPUS-SIZED contract (ceil(N / IvfTargetCellSize),
      // the trainCells sizing): if the grown corpus still sizes the
      // frozen cell count, the retrain warm-starts Lloyd from the
      // current centroids (the best available seed — sample seeds
      // belong to the bootstrap build); if it sizes MORE cells, a
      // warm start would freeze the stale nlist forever and q119's
      // Σ|cell|² would creep back toward quadratic, so the retrain
      // RE-SEEDS at the new width (the full trainer) and reports it.
      val resized = nlistNow > nlist
      val newCent = if (resized) VectorQueries.trainCells(full) else {
        // warm-start Lloyd over the merged corpus: two-level assignment
        // (the build's bounded N·√nlist law), empty cells retaining
        // their previous centroid so the frozen nlist stays invariant.
        // Checkpoint PER iteration (the trainCells lesson): left lazy,
        // iteration 2's assignment, fingerprint, super derivation and
        // retention fallback would each re-execute iteration 1's
        // corpus-sized subtree
        var cent = base.centroids
        for (_ <- 0 until lloydIters)
          cent = VectorQueries.retainEmpty(
            VectorQueries.cellMeans(VectorQueries.assignCells(full, cent)), cent)
            .localCheckpoint()
        cent
      }
      val assigned = VectorQueries.assignCells(full, newCent).localCheckpoint()
      val stats = cellStats(assigned).localCheckpoint()
      (IvfIndex(assigned, newCent, stats, maxDrift(stats, newCent)),
        RefreshReport(if (resized) "retrain_resized" else "retrain",
          newVectors, drift, base.baselineDrift, driftThreshold,
          nlist, nlistNow))
    }
  }

  /** Mean per-subvector quantization error (squared L2 to the assigned
    * code centroid) of a PQ-encoded set — the fit metric for code
    * refresh: if an appended segment's distortion far exceeds the
    * corpus's, the frozen codebook no longer describes the data. One
    * broadcast-nlist pass over the input; returns 0.0 for an empty set
    * (an empty delta fits any codebook).
    */
  def pqDistortion(subvecs: DataFrame, cb: DataFrame): Double = {
    val r = subvecs.join(org.apache.spark.sql.functions.broadcast(cb), "sub")
      .withColumn("d2", graft.functions.VectorFunctions
        .sqDist(col("subvec"), col("centroid")))
      .groupBy(col("vec_id"), col("sub"))
      .agg(min(col("d2")).as("d2"))
      .agg(avg(col("d2"))).head()
    if (r.isNullAt(0)) 0.0 else r.getDouble(0)
  }

  /** PQ index artifacts: the frozen codebook, the code table, and the
    * base corpus's own quantization distortion — computed ONCE at build
    * time (the codebook is frozen, so its fit to the corpus it was
    * trained on never changes) and persisted alongside the codebook,
    * exactly as [[IvfIndex.baselineDrift]] persists the build-time
    * residual. Every refresh's misfit test then compares the DELTA's
    * distortion against this stored constant — O(|delta|), no
    * base-corpus pass ever again. */
  final case class PqIndex(codes: DataFrame, codebook: DataFrame,
      baseDistortion: Double)

  /** Bootstrap PQ build: train the codebook, encode the corpus, and pin
    * the base distortion the refresh path judges against. */
  def buildPq(subvecs: DataFrame): PqIndex = {
    val cb = VectorQueries.pqCodebook(subvecs)
    PqIndex(VectorQueries.pqAssign(subvecs, cb).localCheckpoint(), cb,
      pqDistortion(subvecs, cb))
  }

  /** Refresh the PQ code table for appended subvectors against the
    * FROZEN codebook: O(|delta| × K) assignment — existing codes stay
    * valid verbatim (ADC tables are per-query, built from the same
    * frozen codebook). Returns the refreshed index plus the delta's
    * distortion; the caller retrains the codebook when
    * `deltaDistortion / index.baseDistortion` says the appended data no
    * longer fits — the IVF drift rule's quantization twin. The base
    * side of that ratio is the BUILD-TIME constant carried on the
    * index, so a refresh never re-reads the base corpus.
    */
  def refreshPqCodes(index: PqIndex, deltaSubvecs: DataFrame)
      : (PqIndex, Double) = {
    val newCodes = VectorQueries.pqAssign(deltaSubvecs, index.codebook)
      .localCheckpoint()
    (index.copy(codes = index.codes.unionByName(newCodes)),
      pqDistortion(deltaSubvecs, index.codebook))
  }

  /** Bootstrap build from a label-bearing corpus (the q46 trainer) plus
    * the stats table and baseline drift the refresh path needs. */
  def buildIvf(e: DataFrame): IvfIndex = {
    val cent = VectorQueries.trainCells(e)
    val assigned = VectorQueries.assignCells(
      e.select(col("vec_id"), col("embedding")), cent).localCheckpoint()
    val stats = cellStats(assigned).localCheckpoint()
    IvfIndex(assigned, cent, stats, maxDrift(stats, cent))
  }

  /** The SRP band-table index (q34/q37's corpus side) with its FROZEN
    * geometry: `bands` = the persisted (vec_id, embedding, t, b) bucket
    * files, `bits` = the bucket width the index was hashed with, sized
    * from corpus cardinality at BUILD time
    * ([[VectorQueries.srpBitsFor]]), `vectors` = the exact corpus count
    * the next refresh sizes against. Unlike IVF/PQ there is nothing
    * trained here — the hyperplanes are seed-derived — so an append is
    * purely ROW-LOCAL under the frozen width; the one thing that CAN
    * go stale is the width itself (per-bucket occupancy grows linearly
    * with the corpus), which is a deterministic arithmetic signal, not
    * a measured one.
    */
  final case class SrpIndex(bands: DataFrame, bits: Int, vectors: Long)

  /** What an SRP refresh did: `mode` is "incremental" (the grown corpus
    * still sizes the frozen width) or "rebuild" (occupancy crossed the
    * width boundary — re-hash the corpus at `widthNow` to restore the
    * ~32-vectors-per-bucket design point; candidates stay CORRECT either
    * way, the signal is about probe cost). */
  final case class SrpRefreshReport(mode: String, newVectors: Long,
      frozenWidth: Int, widthNow: Int)

  /** Bootstrap SRP build: size the width from the corpus, hash every
    * vector into the L band tables. */
  def buildSrp(e: DataFrame): SrpIndex = {
    val n = e.count()
    val bits = VectorQueries.srpBitsFor(n)
    SrpIndex(VectorQueries.srpBandRows(e, bits).localCheckpoint(), bits, n)
  }

  /** Refresh for appended vectors with fresh ids: the delta is hashed
    * ALONE under the FROZEN width (one definition with the builder —
    * [[VectorQueries.srpBandRows]] — so the two can never drift) and the
    * band tables gain its rows; base rows are never re-hashed. A width
    * change recommendation is the report's rebuild signal — the SRP
    * analogue of IVF's drift detector and PQ's misfit ratio, here exact
    * arithmetic on the carried count. */
  def refreshSrp(base: SrpIndex, delta: DataFrame)
      : (SrpIndex, SrpRefreshReport) = {
    val nD = delta.count()
    val bands = base.bands.unionByName(
      VectorQueries.srpBandRows(delta, base.bits).localCheckpoint())
    val n = base.vectors + nD
    val widthNow = VectorQueries.srpBitsFor(n)
    val mode = if (widthNow == base.bits) "incremental" else "rebuild"
    (SrpIndex(bands, base.bits, n),
      SrpRefreshReport(mode, nD, base.bits, widthNow))
  }

  /** Semantic-dedup state over an IVF index (q119's operator form —
    * SemDeDup, Abbas et al. 2023): `members` is the roster (vec_id,
    * cell, embedding, csim) with csim = cosine to the OWN frozen
    * centroid (the prototypicality key the keep rule orders by), and
    * `dropped` the ids pruned so far. Both are valid exactly as long as
    * the index's centroid GEOMETRY is: after an incremental
    * [[refreshIvf]] (frozen centroids) the state refreshes additively;
    * after a retrain (cells and csims both move) it must rebuild. The
    * geometry this state was scored against is PINNED by `centroidFp`
    * ([[centroidFingerprint]]), so the contract is enforced in
    * [[refreshSemDedup]] — a retrained index triggers a reported
    * rebuild, never a silent mixed-geometry merge — matching the
    * drift/misfit/width signals the other families carry.
    */
  final case class SemDedupState(members: DataFrame, dropped: DataFrame,
      tau: Double, centroidFp: String)

  /** What a semantic-dedup refresh did: `mode` is "incremental" (frozen
    * geometry — delta scored against the accumulated roster) or
    * "rebuild" (the index's centroids no longer match the fingerprint
    * the state was scored under — full Σ|cell|² pass over the index). */
  final case class SemDedupRefreshReport(mode: String, newVectors: Long,
      stateFp: String, indexFp: String)

  /** Deterministic fingerprint of a centroid table's GEOMETRY: md5 over
    * the sorted per-row (cell, centroid-floats) digests — order- and
    * partitioning-independent, computed as one tiny aggregate (nlist
    * rows), never collected to the driver. Two identically-trained
    * tables agree bit-for-bit (float centroids are exact); any retrain
    * that moves a single float changes it.
    */
  def centroidFingerprint(cent: DataFrame): String = {
    val r = cent
      .select(md5(concat_ws(":", col("cell"),
        expr("array_join(transform(centroid, x -> cast(x as string)), ',')")))
        .as("h"))
      .agg(md5(concat_ws(",", array_sort(collect_list(col("h"))))).as("fp"))
      .head()
    if (r.isNullAt(0)) "empty" else r.getString(0)
  }

  /** Bootstrap semantic-dedup pass over a built index: per-cell
    * pairwise (Σ|cell|², the q119 cost shape), drop set persisted. */
  def buildSemDedup(index: IvfIndex, tau: Double = 0.35): SemDedupState = {
    val m = VectorQueries.semRoster(index.assigned, index.centroids).localCheckpoint()
    SemDedupState(m, VectorQueries.semDrops(m, m,
      col("a.vec_id") < col("b.vec_id"), tau).localCheckpoint(), tau,
      centroidFingerprint(index.centroids))
  }

  /** Refresh for appended vectors with fresh ids under FROZEN
    * centroids: base×base pairs (and base csims) are untouched by an
    * append, and the drop set is a plain UNION over pairs, so the
    * refresh only scores delta × (base ∪ delta) within cells —
    * O(|delta| × cell) instead of Σ|cell|² — and is bit-identical to a
    * rebuild on the grown roster. An append CAN drop an old vector (a
    * new, less prototypical near-dup ousts its more prototypical base
    * twin — the keep rule prefers diversity); the spec plants exactly
    * that. A centroid retrain is DETECTED, not trusted to the caller:
    * the index's fingerprint is checked against the one the state was
    * scored under, and on mismatch the state REBUILDS from the (already
    * delta-bearing, post-retrain) index — a stale-csim merge across two
    * geometries is structurally impossible. The report says which path
    * ran, the family's pattern.
    */
  def refreshSemDedup(state: SemDedupState, index: IvfIndex,
      delta: DataFrame): (SemDedupState, SemDedupRefreshReport) = {
    val indexFp = centroidFingerprint(index.centroids)
    if (indexFp != state.centroidFp) {
      // refreshIvf already folded the delta into the retrained index's
      // roster, so the rebuild covers base ∪ delta under ONE geometry
      (buildSemDedup(index, state.tau),
        SemDedupRefreshReport("rebuild", delta.count(), state.centroidFp,
          indexFp))
    } else {
      val dm = VectorQueries.semRoster(
        VectorQueries.assignCells(delta.select(col("vec_id"), col("embedding")),
          index.centroids), index.centroids).localCheckpoint()
      val all = state.members.unionByName(dm)
      val newDrops = VectorQueries.semDrops(dm, all,
        col("a.vec_id") =!= col("b.vec_id"), state.tau)
      (SemDedupState(all,
        state.dropped.unionByName(newDrops).distinct().localCheckpoint(),
        state.tau, state.centroidFp),
        SemDedupRefreshReport("incremental", dm.count(), state.centroidFp,
          indexFp))
    }
  }
}
