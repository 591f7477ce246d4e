package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Incremental maintenance of the near-dup pair graph — the dedup twin
  * of [[IndexMaintenance]]: when a stream appends a document segment,
  * the persisted pair graph and component labels must refresh for
  * O(delta), not O(corpus).
  *
  * The persisted graph carries four tables: the shingled docs and their
  * LSH band table (the "index side" — what NearDupAdmission's store
  * also keeps), plus the verified pair set and the component labels
  * (the "result side" — what q29/q38/q52/q55/q61/q72 consume). A
  * refresh:
  *
  *   1. shingles and bands ONLY the delta (row-local, deterministic
  *      per-doc minhash — banding is independent of the rest of the
  *      corpus, so old band rows stay valid verbatim);
  *   2. finds candidates by joining the DELTA's bands against the
  *      stored+delta band table (bucket-keyed — the cost is the delta's
  *      bucket collisions, never a corpus self-join; base×base pairs
  *      are already in the graph and are not re-derived);
  *   3. exact-verifies jaccard ≥ threshold against the combined shingle
  *      table and unions the new pairs in;
  *   4. re-converges component labels from a WARM start: the persisted
  *      labels plus self-labeled fresh endpoints. Min-label fixpoint is
  *      order-independent, so the result is bit-identical to a
  *      from-scratch rebuild (component = min doc_id of the component)
  *      — the equivalence [[graft.DedupMaintenanceSpec]] proves
  *      pair-for-pair and label-for-label. Each propagation round costs
  *      O(edges) (the TRUE-pair table — tiny relative to the corpus),
  *      and the warm start converges in the rounds a new merge needs to
  *      travel, not the graph diameter.
  *
  * Assumes append-only deltas with fresh doc ids (the streaming-ingest
  * contract NearDupAdmission enforces upstream).
  */
object DedupMaintenance {

  /** The persisted dedup artifacts. `docs` = (doc_id, shingles),
    * `bands` = (bucket, doc_id), `pairs` = (d1, d2, jac),
    * `labels` = (doc_id, component). */
  final case class DedupGraph(docs: DataFrame, bands: DataFrame,
      pairs: DataFrame, labels: DataFrame)

  private val Threshold = 0.5

  private def shingled(docs: DataFrame): DataFrame = docs
    .select(col("doc_id"), TextQueries.neardupShingles)
    .filter(size(col("shingles")) > 0)
    .localCheckpoint()

  /** From-scratch build over (doc_id, text) — the same banding/verify
    * chain as the corpus-fingerprinted store (lshNeardupPairs). */
  def build(docs: DataFrame): DedupGraph =
    buildFromShingled(shingled(docs))

  /** The build chain from an already-shingled (doc_id, shingles) table —
    * shared by [[build]] and the [[maintain]] policy's rebuild arm
    * (shingling is row-local and deterministic per doc, so a rebuild
    * legitimately reuses the persisted shingle table instead of
    * re-tokenizing the base corpus). */
  private def buildFromShingled(sh: DataFrame): DedupGraph = {
    // the full band table persists either way — it is LINEAR-sized and
    // the refresh path's join index; what the saturation cap changes is
    // the PAIR derivation (the quadratic candidate join), which under
    // spark.graft.dedup.maxBucket > 0 routes through the exact-collapse
    // + capped-candidate chain ([[TextQueries.lshPairsCappedFromShingled]]
    // — the declared-lossy template pre-pass; 0 keeps the bit-equal-to-
    // exact-join contract unchanged)
    val banded = TextQueries.bandedOf(sh).localCheckpoint()
    val cap = TextQueries.dedupMaxBucket(sh.sparkSession)
    val pairs = (if (cap > 0)
        TextQueries.lshPairsCappedFromShingled(sh, cap, Threshold)
      else TextQueries.lshPairsFromDocs(sh, banded, Threshold))
      .localCheckpoint()
    val init = pairs.select(col("d1").as("doc_id"))
      .unionByName(pairs.select(col("d2").as("doc_id")))
      .distinct().withColumn("component", col("doc_id"))
    DedupGraph(sh, banded, pairs, TextQueries.propagateLabels(pairs, init))
  }

  /** Refresh for an appended `delta` (doc_id, text) with fresh ids. */
  def refresh(graph: DedupGraph, delta: DataFrame): DedupGraph =
    refreshShingled(graph, shingled(delta))

  private def refreshShingled(graph: DedupGraph, shD: DataFrame): DedupGraph = {
    val bandedD = TextQueries.bandedOf(shD).localCheckpoint()
    val allBands = graph.bands.unionByName(bandedD)
    // candidates touching the delta: delta bands vs stored+delta bands.
    // d1 < d2 dedups the delta×delta double-match; base×base pairs never
    // re-derive because the left side is delta-only.
    //
    // Saturation cap on the REFRESH arm: under the declared-lossy mode
    // (spark.graft.dedup.maxBucket > 0) hot buckets are dropped from
    // BOTH join sides, with hotness judged on the combined store+delta
    // population — for delta×delta pairs too, since the delta's bands
    // sit on the store side. (The streaming gate differs: its in-batch
    // pairs are capped by the batch's own bucket sizes, only its
    // batch×store pairs by the combined population.) Persisted pairs are
    // NEVER dropped (the union below is monotone); what the cap loses is
    // delta-touching candidates whose every shared bucket is hot at
    // arrival time. A refresh judges hotness when the delta arrives and
    // does not exact-collapse, so under cap > 0 refresh and rebuild are
    // BOTH declared-lossy but may drop different template pairs — the
    // refresh==rebuild bit-equality contract is pinned at cap = 0 (the
    // default), and DedupCapSpec pins each arm's own drop semantics.
    val decap = TextQueries.dropHot(allBands, "bucket",
      TextQueries.dedupMaxBucket(shD.sparkSession)) _
    val cand = decap(bandedD).as("a")
      .join(decap(allBands).as("b"),
        col("a.bucket") === col("b.bucket") &&
          col("a.doc_id") =!= col("b.doc_id"))
      .select(least(col("a.doc_id"), col("b.doc_id")).as("d1"),
        greatest(col("a.doc_id"), col("b.doc_id")).as("d2"))
      .distinct()
    val allDocs = graph.docs.unionByName(shD)
    val newPairs = TextQueries.verifyPairs(cand, allDocs, Threshold)
    val pairs = graph.pairs.unionByName(newPairs).localCheckpoint()
    // warm-start label convergence: persisted labels + fresh endpoints
    val endpoints = pairs.select(col("d1").as("doc_id"))
      .unionByName(pairs.select(col("d2").as("doc_id"))).distinct()
    val init = endpoints
      .join(graph.labels, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("component"), col("doc_id")).as("component"))
    DedupGraph(allDocs.localCheckpoint(), allBands.localCheckpoint(),
      pairs, TextQueries.propagateLabels(pairs, init))
  }

  /** What a maintenance pass did and why. */
  final case class DedupReport(mode: String, deltaDocs: Long,
      baseDocs: Long, fraction: Double, rebuildFraction: Double)

  /** The measured refresh-vs-rebuild crossover (SCALING §5b): at a 2%
    * delta the incremental refresh wins 3× (2.64 vs 7.89 s at organic
    * sf1 — the gap is the base-side shingle/band/verify work and widens
    * linearly with corpus/delta), while at a 20% delta it LOSES ~10-20%
    * (6.7 vs 7.6 s sf1; 2.0 vs 1.8 s sf0.1) — the warm-start
    * propagation loop and union/join overheads dominate when the delta
    * is corpus-scale. The default boundary sits at 10%, between the two
    * measured points.
    */
  val RebuildFraction = 0.10

  /** The r15 ADAPTIVE policy (what SCALING §5b carried as a caveat, now
    * code): refresh segment-sized appends, rebuild bulk loads. Both
    * arms produce bit-identical artifacts (DedupMaintenanceSpec's
    * refresh==rebuild equivalence — min-label fixpoint is
    * order-independent and banding is per-doc deterministic), so the
    * choice is purely a cost policy; the report says which arm ran and
    * the fraction that decided it. The rebuild arm reuses the persisted
    * base shingle table — it re-derives bands/pairs/labels, never
    * re-tokenizes the corpus.
    */
  def maintain(graph: DedupGraph, delta: DataFrame,
      rebuildFraction: Double = RebuildFraction)
      : (DedupGraph, DedupReport) = {
    val shD = shingled(delta)
    val nDelta = shD.count()
    val nBase = graph.docs.count()
    val frac = if (nBase == 0) 1.0 else nDelta.toDouble / nBase
    if (frac >= rebuildFraction) {
      val g = buildFromShingled(graph.docs.unionByName(shD).localCheckpoint())
      (g, DedupReport("rebuild", nDelta, nBase, frac, rebuildFraction))
    } else {
      (refreshShingled(graph, shD),
        DedupReport("refresh", nDelta, nBase, frac, rebuildFraction))
    }
  }
}
