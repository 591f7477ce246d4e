package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.Tables
import graft.functions.VectorFunctions._
import graft.functions.expressions.VectorExpressions.{cosineSim, srpBucketExpr}

/** Similarity search over the `embeddings` table + multimodal plumbing.
  *
  * Scale design: queries broadcast (they are the small side by
  * construction); the corpus is scanned once, similarity is pure Column
  * math inside whole-stage codegen, and top-k is a per-query-key window —
  * a 1000-executor cluster does corpus-partition-parallel scoring with one
  * shuffle of (n_queries × corpus_partition_topk) candidate rows. The SRP
  * variant replaces the full scan with a bucket-equi-join (LSH), the
  * standard ANN scale path when the corpus no longer fits a scan budget.
  */
object VectorQueries {

  type Q = (SparkSession, String) => DataFrame

  private val K = 5
  private[graft] val NQueries = 20

  val defs: Map[String, Q] = Map(

    // Per-label embedding norms: Column-math aggregate over the vectors.
    "q32_embedding_norms" -> ((s, dir) => {
      Tables.embeddings(s, dir)
        .select(col("label"), l2Norm(col("embedding")).as("nrm"))
        .groupBy(col("label"))
        .agg(count(lit(1)).as("n"),
          round(avg("nrm"), 4).as("avg_norm"),
          round(max("nrm"), 4).as("max_norm"))
        .orderBy("label")
    }),

    // Brute-force exact cosine top-k: the correctness baseline every ANN
    // variant is judged against. Query side (vec_id < 20) broadcasts.
    "q33_ann_bruteforce" -> ((s, dir) => {
      val e = Tables.embeddings(s, dir)
      val q = e.filter(col("vec_id") < NQueries)
        .select(col("vec_id").as("q_id"), col("embedding").as("q_vec"))
      val w = Window.partitionBy("q_id").orderBy(col("cos").desc, col("vec_id"))
      e.join(broadcast(q), col("vec_id") =!= col("q_id"))
        .withColumn("cos", cosineSim(col("q_vec"), col("embedding")))
        .withColumn("rk", row_number().over(w))
        .filter(col("rk") <= K)
        .select(col("q_id"), col("rk"), col("vec_id").as("neighbor_id"))
        .orderBy("q_id", "rk")
    }),

    // LSH-bucketed ANN (sign-random-projection, single table): corpus and
    // queries bucketed by sign bits; candidates = same bucket; exact cosine
    // + top-k within candidates. Band width is CORPUS-ADAPTIVE
    // (srpAnnBits ≈ log₂(n)−5, buckets ~32-64 deep at any scale) — a fixed
    // width either over-partitions a small corpus (r6 shipped 10 planes =
    // 1024 buckets over 2000 vectors: ~2 rows a bucket, measured recall@5
    // ≈ 0 at sf0.1) or under-partitions a large one back to a full scan.
    // This is the single-table candidate-generation BASELINE whose recall
    // q37's OR-construction exists to recover. Oracle-checked
    // hash-for-hash (the srpAnnCte splitmix replay recomputes the adaptive
    // width from count(*)); QueriesSpec measures recall vs q33.
    "q34_ann_srp" -> ((s, dir) => {
      val e = Tables.embeddings(s, dir)
        .withColumn("bucket", srpBucketExpr(col("embedding"), srpAnnBits(s, dir)))
      val q = e.filter(col("vec_id") < NQueries)
        .select(col("vec_id").as("q_id"), col("embedding").as("q_vec"),
          col("bucket"))
      val w = Window.partitionBy("q_id").orderBy(col("cos").desc, col("vec_id"))
      e.join(broadcast(q), Seq("bucket"))
        .filter(col("vec_id") =!= col("q_id"))
        .withColumn("cos", cosineSim(col("q_vec"), col("embedding")))
        .withColumn("rk", row_number().over(w))
        .filter(col("rk") <= K)
        .select(col("q_id"), col("rk"), col("vec_id").as("neighbor_id"))
        .orderBy("q_id", "rk")
    }),

    // Multi-table multiprobe SRP-LSH ANN — the production LSH shape: L=8
    // independent hash tables (OR-construction, plane seeds 16·t apart,
    // table 0 ≡ q34's band so q37's candidates provably cover q34's) and
    // each query probes its bucket plus every hamming-1 neighbor in every
    // table. Recall compounds across tables (1−(1−r₁)^L); candidate cost
    // is L·(1+bits)·n/2^bits pairs — with the adaptive width that
    // fraction FALLS as the corpus grows (55% of a 2k corpus, <1% at
    // 1e6), which is the 100 TB story: the corpus side is hashed once per
    // table into a PERSISTED index artifact (srpBandsShared), only the
    // tiny query side multiplies, and the join stays a bucket-keyed
    // equi-join. Overlapping tables/probes are scored then deduped on
    // (q_id, vec_id) — scoring first keeps the exchange slim (see inline).
    "q37_ann_srp_multiprobe" -> ((s, dir) => {
      val bits = srpAnnBits(s, dir)
      val banded = srpBandsShared(s, dir)
      val q = banded.filter(col("vec_id") < NQueries)
        .withColumn("probe", explode(array(
          lit(0L) +: (0 until bits).map(i => lit(1L << i)): _*)))
        .select(col("vec_id").as("q_id"), col("embedding").as("q_vec"),
          col("t"), col("b").bitwiseXOR(col("probe")).as("b"))
      val w = Window.partitionBy("q_id").orderBy(col("cos").desc, col("vec_id"))
      banded.join(broadcast(q), Seq("t", "b"))
        .filter(col("vec_id") =!= col("q_id"))
        // score BEFORE deduping the overlapping tables/probes: the cosine
        // is deterministic per pair, so the exchange carries ~24-byte
        // (q_id, vec_id, cos) rows — duplicates included — instead of
        // dragging two 64-float vectors per candidate through it; the
        // re-scored overlaps are codegen arithmetic, far cheaper than the
        // shuffle bytes they replace.
        .withColumn("cos", cosineSim(col("q_vec"), col("embedding")))
        .select(col("q_id"), col("vec_id"), col("cos"))
        // one exchange, not two: hash(q_id) satisfies both the (q_id,
        // vec_id) dedup clustering and the window's q_id partitioning, so
        // the aggregate and the rank run back-to-back on the same shuffle
        // (the dedup agg runs POST-exchange — duplicate candidate rows do
        // ride the shuffle, but at 24 bytes each that costs less than a
        // second exchange would).
        .repartition(col("q_id"))
        .groupBy(col("q_id"), col("vec_id"))
        .agg(first(col("cos")).as("cos"))
        .withColumn("rk", row_number().over(w))
        .filter(col("rk") <= K)
        .select(col("q_id"), col("rk"), col("vec_id").as("neighbor_id"))
        .orderBy("q_id", "rk")
    }),

    // Centroid per label (an IVF coarse-quantizer training step): mean
    // vector via element-wise array aggregation — posexplode + groupBy
    // keeps it shuffle-bounded by (labels × dims).
    "q35_label_centroids" -> ((s, dir) => {
      Tables.embeddings(s, dir)
        .select(col("label"), posexplode(col("embedding")).as(Seq("dim", "x")))
        .groupBy(col("label"), col("dim"))
        .agg(round(avg(col("x").cast("double")), 6).as("centroid_val"))
        .filter(col("dim") < 4) // report first 4 dims; full vector in ANN use
        .orderBy("label", "dim")
    }),

    // Embedding-cosine near-dup pairs, exact: every pair with cosine ≥
    // 0.35 (the synthetic corpus has no >0.6 pairs; the threshold is a
    // parameter of the operator, not a semantic). This is the
    // correctness baseline — O(n²) pairwise, fine at verification scale.
    // The 100 TB path is q45: LSH-blocked candidates + the same exact
    // verify, which q45's spec proves recall against this query.
    "q44_cosine_neardup" -> ((s, dir) => {
      val e = Tables.embeddings(s, dir)
      val a = e.select(col("vec_id").as("d1"), col("embedding").as("v1"))
      val b = e.select(col("vec_id").as("d2"), col("embedding").as("v2"))
      // threshold INSIDE the join condition: the nested-loop join then
      // drops non-matching pairs before materializing output rows (~n²
      // row copies saved; the cosine recompute in the projection touches
      // only the few surviving pairs)
      a.join(b, col("d1") < col("d2") &&
          cosineSim(col("v1"), col("v2")) >= 0.35)
        .select(col("d1"), col("d2"),
          round(cosineSim(col("v1"), col("v2")), 4).as("cos"))
        .orderBy("d1", "d2")
    }),

    // Embedding split-leakage: near-similar vectors (cosine ≥ 0.35, the
    // corpus's "related pair" band) crossing the q53-style deterministic
    // split — the embedding-side eval-contamination gate, the multimodal
    // sibling of q55. Exact pairwise form so the DuckDB oracle verifies it
    // end-to-end; at 100 TB the candidate pairs come from the q45 SRP
    // blocking instead, exactly as q38/q52 consume the text LSH path.
    "q56_embedding_leakage" -> ((s, dir) => {
      val e = Tables.embeddings(s, dir)
        .withColumn("split",
          graft.functions.TextFunctions.splitAssign(col("vec_id")))
      val a = e.select(col("vec_id").as("d1"), col("embedding").as("v1"),
        col("split").as("s1"))
      val b = e.select(col("vec_id").as("d2"), col("embedding").as("v2"),
        col("split").as("s2"))
      a.join(b, col("d1") < col("d2") && col("s1") =!= col("s2") &&
          cosineSim(col("v1"), col("v2")) >= 0.35)
        .withColumn("leak_pair",
          concat_ws("|", array_sort(array(col("s1"), col("s2")))))
        .groupBy(col("leak_pair"))
        .agg(count(lit(1)).as("n_pairs"),
          sum(col("d1") + col("d2")).as("id_checksum"))
        .orderBy("leak_pair")
    }),

    // Embedding-cosine near-dup at scale: the full dedup pipeline shape —
    // corpus (with planted perturbed duplicates, deterministic hash noise)
    // → 3 independent corpus-adaptive SRP hash tables (OR-amplification;
    // width from srpBandBits so the self-join's buckets stay ~8 deep at
    // any scale) → bucket self-join candidates → exact-cosine verify
    // ≥ 0.95 → greedy keep lowest id → per-label kept summary. Shuffle
    // key is (table, bucket): Σ bucket² bounds the candidate join, the
    // pair list is tiny vs the corpus so the final anti-join broadcasts —
    // same shape as q38 for text. Three tables (q62's geometry, not the
    // former two) because at cos ≥ 0.95 that makes the banding measurably
    // LOSSLESS (miss prob ≈ (1−0.99⁸)³ ≈ 5e-4 per pair): QueriesSpec
    // proves pair-for-pair parity with the exact O(n²) join on both
    // verify SFs, not just recall ≥ 0.9. Oracle-checked hash-for-hash:
    // the perturbation AND the banded pipeline replay in DuckDB
    // (perturbCorpusCte + srpBandingCtes), valid at every SF.
    "q45_cosine_neardup_keep" -> ((s, dir) => {
      val corpus = neardupCorpus(s, dir)
      val dupIds = neardupPairsLsh(s, dir, corpus)
        .select(col("d2").as("vec_id")).distinct()
      corpus.join(broadcast(dupIds), Seq("vec_id"), "left_anti")
        .groupBy(col("label"))
        .agg(count(lit(1)).as("n_kept"), sum("vec_id").as("id_checksum"))
        .orderBy("label")
    }),

    // Embedding split-leakage at scale — the q56 contamination gate's
    // 100 TB sibling: candidate pairs come from SRP banding (the q45
    // blocking) instead of the O(n²) cross join, then the same exact
    // cosine verify + cross-split filter + q56 output shape. The gate
    // runs at the NEAR-DUP threshold (cosine ≥ 0.95) — the band a
    // training pipeline actually polices for eval contamination —
    // because there the banding is measurably lossless: at cos ≈ 0.999
    // per-plane collision ≈ 0.99, so a pair misses all three 8-bit
    // tables with prob ≈ (1 − 0.99⁸)³ ≈ 5e-4, and QueriesSpec proves
    // pair-for-pair parity against the exact join on both verify SFs.
    // q56's looser 0.35 "related" band is deliberately NOT restated this
    // way: measured on this corpus those pairs are diffuse cross-label
    // noise (per-plane collision ≈ 0.61), where any banding whose recall
    // approaches 1 costs more than the exact join — LSH has no
    // sub-quadratic operating point at that angle. q56 stays the exact,
    // oracle-checked form of the wide band; this query is the scale form
    // of the band that scales. The corpus has no natural near-dups
    // (max pairwise cosine ≈ 0.5 at verify SFs), so cross-split
    // contamination is PLANTED with the q45 pattern: every 5th vector
    // re-ids to +1_000_000 — an independent md5 split draw — and gets
    // eps=0.02 deterministic hash noise.
    "q62_embedding_leakage_lsh" -> ((s, dir) => {
      embeddingLeakPairsLsh(s, dir)
        .withColumn("leak_pair",
          concat_ws("|", array_sort(array(col("s1"), col("s2")))))
        .groupBy(col("leak_pair"))
        .agg(count(lit(1)).as("n_pairs"),
          sum(col("d1") + col("d2")).as("id_checksum"))
        .orderBy("leak_pair")
    }),

    // IVF ANN: k-means coarse centroids (Lloyd iterations, deterministically
    // Forgy-seeded from nlist md5-ordered corpus vectors, nlist sized
    // from the corpus count — see trainCells), every corpus vector
    // assigned to its nearest cell, queries probe the 3 nearest cells,
    // exact cosine re-rank within the probed cells. At 100 TB the
    // inverted file is the partitioning: the corpus shuffles once on
    // cell_id (≈ IvfTargetCellSize rows per cell by construction),
    // queries broadcast, each executor scans only probed cells (scan
    // cost drops by nlist/nprobe vs q33), and centroid training runs on
    // a sample. Oracle-checked hash-for-hash (the full IVF build
    // replayed in SQL: corpus-sized nlist, md5-sample seeds, 2 Lloyd
    // rounds, probes, rerank — float-cast
    // centroids absorb cross-engine aggregation-order noise); QueriesSpec
    // pins recall vs q33 on sf0.001.
    "q46_ann_ivf" -> ((s, dir) => {
      val e = Tables.embeddings(s, dir)
      val cent = trainCellsShared(s, dir, e)
      // the inverted file: a persisted index artifact (assignCellsShared)
      val assigned = assignCellsShared(s, dir, e, cent)
      ivfSearch(assigned, cent, e, nprobe = 3, k = K)
    }),

    // Cluster-balanced downsample — semantic diversity sampling, the
    // embedding-space curation step modern pretraining pipelines run after
    // dedup (cluster the corpus, flatten the cluster-size distribution so
    // over-represented regions downsample and rare ones keep everything).
    // Composition of two existing index/selection primitives: the corpus's
    // IVF cell assignment (persisted index artifact, q46's inverted file)
    // and q65's deterministic salted-md5 hash keep. Per-cell target =
    // ceil(N / ncells); keep iff hash16(vec_id)/2^16 < target/n_cell. At
    // 100 TB: the census and rate tables are nlist-sized (broadcast), the
    // keep decision is a map-side hash compare on the cell-partitioned
    // inverted file — no corpus shuffle beyond the index build it reuses.
    // Oracle-checked hash-for-hash: the q46 Lloyd chain + q65 hex-bucket
    // replay composed in one SQL program (16-bit bucket / 2^16 and the
    // integer-valued-double rate division are both IEEE-exact on both
    // engines).
    "q91_cluster_balanced_sample" -> ((s, dir) => {
      val e = Tables.embeddings(s, dir)
      val cent = trainCellsShared(s, dir, e)
      val assigned = assignCellsShared(s, dir, e, cent)
        .select(col("vec_id"), col("cell"))
      val w = TextQueries.wholeCensus("n_total") // nlist-sized, bounded
      val rates = assigned.groupBy(col("cell"))
        .agg(count(lit(1)).as("n_total"))
        .withColumn("target",
          ceil(sum(col("n_total")).over(w).cast("double") /
            count(lit(1)).over(w)))
        .withColumn("sample_rate",
          round(least(lit(1.0),
            col("target").cast("double") / col("n_total")), 4))
        .select(col("cell"), col("n_total"), col("sample_rate"))
      val bucket = conv(substring(
        md5(concat(lit("cbsample:"), col("vec_id").cast("string"))), 1, 4),
        16, 10).cast("long")
      assigned.join(broadcast(rates), "cell")
        .withColumn("keep", bucket / lit(65536.0) < col("sample_rate"))
        .groupBy(col("cell"))
        .agg(max(col("n_total")).as("n_total"),
          min(col("sample_rate")).as("sample_rate"),
          sum(when(col("keep"), 1).otherwise(0)).cast("long").as("n_kept"),
          coalesce(sum(when(col("keep"), col("vec_id"))), lit(0L))
            .as("id_checksum"))
        .orderBy("cell")
    }),

    // Contrastive triplet mining — the training-data op for embedding
    // models: per anchor (the bounded per-batch anchor set, the ANN
    // query-set convention), the POSITIVE is its exact top-1 neighbor and
    // the NEGATIVE is the hardest vector BELOW the relatedness band
    // (max cosine among cos < 0.2 — the semi-hard negative every triplet
    // loss wants; a random negative is too easy, an in-band one is a
    // false negative). Shape: one broadcast-anchor scan + ONE partial
    // max_by aggregation per role — no corpus window, no second scan; at
    // 100 TB cost is anchors × corpus exactly like q33, and the
    // aggregation state is two structs per anchor. The sub-band argmax
    // uses a −2.0 sentinel ordering key (below any real cosine) instead
    // of null-skip semantics, so the pick is total-ordered and
    // engine-exact; tie-breaks on smaller vec_id via negated id. Oracle
    // replays both argmaxes as rank-1 windows over the same in-order
    // cosine — hash-checked; margins round at 4.
    "q93_triplet_mining" -> ((s, dir) => {
      val e = Tables.embeddings(s, dir)
      val anchors = e.filter(col("vec_id") < NQueries)
        .select(col("vec_id").as("q_id"), col("embedding").as("q_vec"))
      e.crossJoin(broadcast(anchors))
        .filter(col("vec_id") =!= col("q_id"))
        .withColumn("cos", cosineSim(col("q_vec"), col("embedding")))
        .groupBy(col("q_id"))
        .agg(
          max_by(struct(col("vec_id").as("id"), col("cos").as("c")),
            struct(col("cos"), negate(col("vec_id")))).as("pos"),
          max_by(struct(col("vec_id").as("id"), col("cos").as("c")),
            struct(when(col("cos") < 0.2, col("cos")).otherwise(lit(-2.0)),
              negate(col("vec_id")))).as("neg"))
        // an anchor whose ENTIRE corpus sits in-band has no usable
        // negative: the sentinel then surfaces an in-band pick, which this
        // filter drops — the same anchors the oracle's sub-band window
        // produces no row for, keeping both engines structurally aligned
        .filter(col("neg.c") < 0.2)
        .select(col("q_id"),
          col("pos.id").as("pos_id"), round(col("pos.c"), 4).as("pos_cos"),
          col("neg.id").as("neg_id"), round(col("neg.c"), 4).as("neg_cos"),
          round(col("pos.c") - col("neg.c"), 4).as("margin"))
        .orderBy("q_id")
    }),

    // IVF-PQ ANN — the composition of q46 (prune: scan only probed
    // cells) and q57 (compress: score one-byte codes, not floats), the
    // standard 100 TB ANN index shape: train coarse cells (q46 pattern),
    // PQ-encode every vector (q57 pattern), key the code table by cell,
    // and ADC-score each query ONLY against codes in its nprobe probed
    // cells — q57's one corpus-linear stage (its ADC join touches every
    // code per query batch) drops to ~nprobe/nlist of the corpus, which
    // QueriesSpec pins with a row-count assertion. nprobe=4 (vs the q46
    // exact-IVF's 3): the diffuse synthetic cells cost the PQ composition
    // a probe to hold recall at the exact-IVF's own cell-pruning bound
    // (measured 0.62 = q46's at sf0.1, for ~0.4 of the corpus scanned —
    // the nprobe/nlist dial). At 100 TB the
    // inverted file is the partitioning (shuffle once on cell_id), codes
    // are 16× smaller than raw floats, centroids + codebooks + per-query
    // ADC tables all broadcast, and the exact re-rank touches only
    // rerank=PqRerank (150) rows per query — corpus-size-independent. Oracle-checked hash-for-hash (the q46
    // cell chain + q57 PQ chain composed in one SQL program): made
    // possible by the float re-rounds on the codebook means and the ADC
    // sum, which absorb aggregation-order noise that would otherwise sit
    // on the crk≤50 rank boundary. Recall vs q33 pinned
    // in QueriesSpec alongside q57's.
    "q63_ann_ivfpq" -> ((s, dir) => {
      val e = Tables.embeddings(s, dir)
      // Build the two index halves CONCURRENTLY: coarse-cell training and
      // the PQ codebook chain are independent until the ADC join, and each
      // ends in an eager localCheckpoint — run serially they are ~10
      // back-to-back jobs of mostly-idle executors (r5's 11.9 s was stage
      // latency, not work). Spark job submission is thread-safe; this is
      // the same overlap a production index build gets from async stages.
      import scala.concurrent.{Await, Future}
      import scala.concurrent.duration._
      import scala.concurrent.ExecutionContext.Implicits.global
      val centF = Future { trainCellsShared(s, dir, e) }
      val subvecs = pqSubvecsShared(s, dir, e)
      val cb = pqCodebookShared(s, dir, subvecs)
      val cent = Await.result(centF, 10.minutes)
      val cellOf = assignCellsShared(s, dir, e, cent)
        .select(col("vec_id"), col("cell"))
      val codes = pqCodesShared(s, dir, subvecs, cb)
      val probes = probeCells(e, cent, nprobe = 4)
        .select(col("q_id"), col("cell"))
      val tables = pqAdcTables(subvecs, cb)
      val approx = codes.join(cellOf, "vec_id")
        .join(broadcast(probes), Seq("cell"))
        .filter(col("vec_id") =!= col("q_id"))
        .join(broadcast(tables), Seq("q_id", "sub", "code"))
        .groupBy(col("q_id"), col("vec_id"))
        // float re-round of the 8-term ADC sum: partial-agg merge order is
        // nondeterministic, and ~1e-16 double noise on a rank key is the
        // difference between an exact oracle and a flaky one — the float
        // quantum (6e-8) absorbs it, at zero recall cost on a ~1e-2
        // approximation
        .agg(sum(col("pdot")).cast("float").as("approx"))
      val wA = Window.partitionBy("q_id").orderBy(col("approx").desc, col("vec_id"))
      val cand = approx
        .withColumn("crk", row_number().over(wA))
        .filter(col("crk") <= PqRerank)
        .select(col("q_id"), col("vec_id"))
      exactRerank(cand, e)
    }),

    // PQ-ADC ANN (product quantization, the vector-compression sketch):
    // L2-normalize → split 64 dims into m=8 subspaces → per-subspace
    // codebook of k=16 centroids (deterministic md5-sampled seeds + one
    // Lloyd iteration, the q46 training pattern per subspace) → corpus
    // stored as 8 one-byte codes per vector (16× smaller than raw floats —
    // at 100 TB the scan cost and memory footprint shrink by that factor)
    // → queries score candidates with an asymmetric-distance table (per-
    // query dot of each subspace centroid, broadcast: queries × 8 × 16
    // rows) summed over codes → exact cosine re-rank of the top candidates.
    // Oracle-checked hash-for-hash (normalize → subvectors → md5 seeds →
    // float-cast Lloyd round → codes → ADC → float-rounded sums → exact
    // rerank, all replayed in SQL); recall-vs-brute-force pinned in
    // QueriesSpec.
    "q57_ann_pq" -> ((s, dir) => {
      val e = Tables.embeddings(s, dir)
      val subvecs = pqSubvecsShared(s, dir, e)
      val cb1 = pqCodebookShared(s, dir, subvecs)
      val codes = pqCodesShared(s, dir, subvecs, cb1)
      val tables = pqAdcTables(subvecs, cb1)
      // ADC scoring: sum the 8 table lookups per (query, vector). This
      // stage is corpus-linear per query batch — 16× cheaper than brute
      // force but still touching every code; q63 composes the q46 cells
      // in front of it so only probed cells are scored.
      val approx = codes.join(broadcast(tables), Seq("sub", "code"))
        .filter(col("vec_id") =!= col("q_id"))
        .groupBy(col("q_id"), col("vec_id"))
        // float re-round of the 8-term ADC sum: partial-agg merge order is
        // nondeterministic, and ~1e-16 double noise on a rank key is the
        // difference between an exact oracle and a flaky one — the float
        // quantum (6e-8) absorbs it, at zero recall cost on a ~1e-2
        // approximation
        .agg(sum(col("pdot")).cast("float").as("approx"))
      val wA = Window.partitionBy("q_id").orderBy(col("approx").desc, col("vec_id"))
      val cand = approx
        .withColumn("crk", row_number().over(wA))
        .filter(col("crk") <= PqRerank)
        .select(col("q_id"), col("vec_id"))
      exactRerank(cand, e)
    }),

    // Multimodal plumbing (SURVEY brief): binary payload column + typed
    // metadata + a clearly-stubbed deterministic "decode" producing feature
    // columns. The Spark-side shape (binary col, schema, mapPartitions
    // batch processing, partition control) is real; only the codec is fake
    // because no image/audio libs exist in this container.
    "q36_multimodal_features" -> ((s, dir) => {
      import s.implicits._
      val docs = Tables.documents(s, dir)
        .select(col("doc_id"), encode(col("text"), "UTF-8").as("payload"),
          struct(col("lang"), col("source"), col("n_chars")).as("meta"))
      val feats = docs
        .select(col("doc_id"), col("payload"), col("meta.lang"))
        .as[(Long, Array[Byte], String)]
        .mapPartitions { it =>
          // STUB decode: a real pipeline would batch-decode images/audio
          // here (mapInPandas/JNI); we derive deterministic fake
          // "dimensions" from the bytes so the plumbing is testable. Typed
          // metadata rides alongside the binary payload through the
          // per-partition batch, as a real codec stage needs.
          it.map { case (id, bytes, lang) =>
            val n = if (bytes == null) 0 else bytes.length
            val w = 64 + (n % 64)
            val h = 64 + ((n / 64) % 64)
            (id, n, w, h, lang)
          }
        }
        .toDF("doc_id", "n_bytes", "fake_width", "fake_height", "lang")
      feats.orderBy("doc_id")
    }),

    // Multimodal resize + frame-sample plumbing (SURVEY brief): the
    // payload is treated as a fake video — one "frame" per 100 bytes,
    // every 5th frame sampled (sequence → explode generator), and the
    // q36 fake dimensions resized to fit a 32-px box with integer-exact
    // aspect math. The real codec is stubbed (no media libs in this
    // container); the Spark-side shape — generator fan-out bounded by
    // payload size, integer dim math in codegen, binary column untouched
    // until the decode stage — is the actual pipeline shape at scale.
    "q50_multimodal_frames" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
        .select(col("doc_id"), encode(col("text"), "UTF-8").as("payload"))
        .withColumn("n_bytes", length(col("payload")).cast("int"))
        // integer `div`/`%` only: `/` is double division in both engines
        // but double→int CAST truncates in Spark and rounds in DuckDB
        .withColumn("w", (lit(64) + col("n_bytes") % 64).cast("int"))
        .withColumn("h", (lit(64) + expr("n_bytes div 64") % 64).cast("int"))
        .withColumn("n_frames", (expr("n_bytes div 100") + 1).cast("int"))
      docs
        .select(col("doc_id"), col("w"), col("h"),
          explode(sequence(lit(0), col("n_frames") - 1, lit(5))).as("frame_idx"))
        .select(col("doc_id"), col("frame_idx").cast("int").as("frame_idx"),
          // integer resize: longest side → 32, other side scaled exactly
          expr("(w * 32) div greatest(w, h)").cast("int").as("rw"),
          expr("(h * 32) div greatest(w, h)").cast("int").as("rh"))
        .orderBy("doc_id", "frame_idx")
    }),

    // Cluster topic labeling — the corpus-exploration report a curation
    // team reads after clustering: each semantic cluster (the q46 IVF
    // cells, reused as the persisted corpus clustering) labeled by its
    // most characteristic tokens via class-based TF-IDF (the BERTopic
    // c-TF-IDF shape): score = tf_in_cell · ln(n_cells / cells_with_token).
    // Docs join their embeddings on doc_id = vec_id (the corpus rows that
    // HAVE an embedding — at sf0.1 that is 2000 of 5000 docs, the sampled
    // embedding coverage a real corpus has). Scale shape: the cell
    // assignment is the persisted inverted file (nlist-sized centroid
    // broadcast, no new shuffle); token counts are a (cell, token) partial
    // agg; the cell-df census and n_cells scalar are vocab-/nlist-sized;
    // the ranking window runs over the (cell, token) score table, never
    // over occurrences. Every score input is an integer, so the oracle
    // (the q46 Lloyd chain + this token math replayed) is hash-exact.
    "q95_cluster_topics" -> ((s, dir) => {
      val e = Tables.embeddings(s, dir)
      val cent = trainCellsShared(s, dir, e)
      val assigned = assignCellsShared(s, dir, e, cent)
        .select(col("vec_id"), col("cell"))
      // token arrays from the persisted tokenized corpus (lexdocs) —
      // no regex re-tokenize; the artifact is built with the same
      // tokens() the from-text form inlined here
      val docs = graft.operators.TextQueries.lexDocsShared(s, dir)
        .select(col("doc_id"), col("t"))
        .join(assigned, col("doc_id") === col("vec_id"))
        .select(col("cell"), col("doc_id"), col("t"))
      val sizes = docs.groupBy(col("cell")).agg(count(lit(1)).as("n_docs"))
      val tf = docs.select(col("cell"), explode(col("t")).as("token"))
        .groupBy(col("cell"), col("token")).agg(count(lit(1)).as("tf"))
        .localCheckpoint() // feeds the cell-df census AND the score join
      val cdf = tf.groupBy(col("token")).agg(count(lit(1)).as("cdf"))
      val ncells = assigned.agg(
        count_distinct(col("cell")).as("ncells"))
      val w = Window.partitionBy(col("cell"))
        .orderBy(col("score").desc, col("token"))
      tf.join(cdf, "token")
        .crossJoin(broadcast(ncells))
        .withColumn("score", col("tf").cast("double") *
          log(col("ncells").cast("double") / col("cdf")))
        .withColumn("rk", row_number().over(w))
        .filter(col("rk") <= 3)
        .join(broadcast(sizes), "cell")
        .select(col("cell"), col("n_docs"), col("rk"), col("token"),
          round(col("score"), 4).as("ctfidf"))
        .orderBy("cell", "rk")
    }),

    // kNN label eval — the embedding-quality gate a pipeline runs before
    // trusting a vector space for dedup/sampling: leave-one-out k-nearest
    // classification of the standard bounded query sample (the q33 anchor
    // convention) with majority vote over the exact top-5 neighbors'
    // labels (ties → smaller label). Deliberately built on the EXACT
    // scorer, not an ANN variant: an eval must not inherit the recall of
    // the index it is judging. Cost is anchors × corpus, the q33 envelope
    // — at 100 TB the anchor sample stays bounded and broadcast, the
    // corpus is scanned once, and the vote aggregates ≤ anchors·k rows.
    // Oracle: the q33 chain + a votes-desc/label-asc rank-1 window.
    "q96_knn_label_eval" -> ((s, dir) => {
      val e = Tables.embeddings(s, dir)
      val q = e.filter(col("vec_id") < NQueries)
        .select(col("vec_id").as("q_id"), col("embedding").as("q_vec"),
          col("label").as("true_label"))
      val w = Window.partitionBy("q_id").orderBy(col("cos").desc, col("vec_id"))
      val nn = e.join(broadcast(q), col("vec_id") =!= col("q_id"))
        .withColumn("cos", cosineSim(col("q_vec"), col("embedding")))
        .withColumn("rk", row_number().over(w))
        .filter(col("rk") <= K)
        .select(col("q_id"), col("true_label"), col("label"))
      val wv = Window.partitionBy("q_id")
        .orderBy(col("votes").desc, col("label"))
      nn.groupBy(col("q_id"), col("true_label"), col("label"))
        .agg(count(lit(1)).as("votes"))
        .withColumn("vrk", row_number().over(wv))
        .filter(col("vrk") === 1)
        .select(col("q_id"), col("true_label"),
          col("label").as("pred_label"), col("votes"),
          when(col("label") === col("true_label"), 1).otherwise(0)
            .as("correct"))
        .orderBy("q_id")
    }),

    // Hybrid retrieval with reciprocal-rank fusion — the standard RAG /
    // curation retrieval stack: a lexical ranker (doc-as-query Okapi BM25,
    // the q94 scorer) and a dense ranker (exact cosine, the q33 scorer)
    // each produce a top-20 per anchor, fused as RRF(d) = Σ 1/(60+rank)
    // over the lists containing d (Cormack et al.'s k=60), top-5 kept.
    // Query-term selection: each anchor queries with its 8 highest-idf
    // tokens (ties break token-ascending) — the term-pruning a real
    // doc-as-query engine does, which also bounds the lexical join to
    // RARE-term posting lists instead of the whole corpus. Scale shape:
    // anchors are bounded (20) and broadcast on both paths; the df census
    // and doc lengths are vocab-/corpus-sized partial aggs; the tf
    // shuffle carries only the selected terms' posting lists; every
    // window partitions by q_id over candidate rows, never the corpus;
    // ranks are ints, so the fused score is engine-exact and the float
    // cast on the BM25 sum absorbs partial-agg merge-order noise (the
    // q63 pattern). Oracle-checked hash-for-hash end-to-end.
    "q99_hybrid_rrf" -> ((s, dir) => {
      val dense = denseRanks(s, dir, RrfDepth)
      val lexical = lexicalRanks(s, dir, RrfDepth)
      // RRF fusion over the two bounded rank lists
      val wf = Window.partitionBy("q_id").orderBy(col("rrf").desc, col("doc_id"))
      dense.join(lexical, Seq("q_id", "doc_id"), "full_outer")
        .withColumn("rrf",
          coalesce(lit(1.0) / (lit(60) + col("r_dense")), lit(0.0)) +
            coalesce(lit(1.0) / (lit(60) + col("r_lex")), lit(0.0)))
        .withColumn("rk", row_number().over(wf))
        .filter(col("rk") <= K)
        .select(col("q_id"), col("rk"), col("doc_id"),
          round(col("rrf"), 6).as("rrf"))
        .orderBy("q_id", "rk")
    }),

    // Lexical hard-negative mining — the DPR/ANCE training-data recipe
    // for embedding models: for each anchor, the strongest BM25 matches
    // that are NOT semantic positives make the best contrastive
    // negatives (lexically confusable, semantically distinct). Candidates
    // = the q99 lexical ranker's top-20 (anchor-bounded, broadcast
    // query-term join); verification = exact cosine against the anchor,
    // keeping candidates below the corpus's own near-dup threshold
    // (q44's 0.35 — "not a positive" and "not a near-dup" are the same
    // statement here); per anchor the 3 best-ranked survivors ship as
    // (anchor, negative) training pairs. Mining is restricted to the
    // embedded pool (candidates without a vector can't be verified — the
    // inner embeddings join states that). Scale shape: both stages are
    // anchor-bounded — the BM25 posting join and the per-candidate
    // cosine verify each touch rows ∝ anchors, never corpus² — and the
    // ranking windows partition by anchor over ≤ 20 candidate rows.
    // Determinism: r_lex is an integer rank (engine-exact, q99), the
    // 0.35 cut has a measured >= 0.0106 margin at every SF (spec-pinned),
    // and cosine appears only round-4 in the output.
    "q103_hard_negatives" -> ((s, dir) => {
      val lex = lexicalRanks(s, dir, RrfDepth)
      val e = Tables.embeddings(s, dir)
      val q = e.filter(col("vec_id") < NQueries)
        .select(col("vec_id").as("q_id"), col("embedding").as("q_vec"))
      val wh = Window.partitionBy("q_id").orderBy(col("r_lex"))
      lex
        .join(e.select(col("vec_id").as("doc_id"), col("embedding")), "doc_id")
        .join(broadcast(q), "q_id")
        .withColumn("cos",
          graft.functions.VectorFunctions.cosine(col("q_vec"), col("embedding")))
        .filter(col("cos") < 0.35)
        .withColumn("hn_rank", row_number().over(wh))
        .filter(col("hn_rank") <= 3)
        .select(col("q_id"), col("hn_rank"), col("doc_id"), col("r_lex"),
          round(col("cos"), 4).as("cos"))
        .orderBy("q_id", "hn_rank")
    }),

    // Prototype-distance outlier pruning — the embedding-space cleaning
    // gate (DataComp/CLIP-filtering style): a labeled example whose
    // vector disagrees with its own label's prototype (mean vector) is a
    // likely mislabel or off-distribution sample; report per label how
    // many sit below cosine 0 to the prototype. Scale shape: prototypes
    // are a labels×dims partial agg (posexplode → per-(label,dim) mean →
    // re-assemble — the q46 centroid pattern) producing a bounded table
    // that BROADCASTS; the corpus is scanned exactly once for the
    // verify, cosine is double Column math in codegen, and the report is
    // a per-label partial agg. No window over the corpus, no pairwise
    // join. Determinism: the 0 cut has a measured >= 1e-5 |cos| margin
    // at every SF against ~1e-13 mean-order noise (spec-pinned), and
    // cosine appears only round-4 in aggregate outputs.
    "q105_label_outliers" -> ((s, dir) => {
      val e = Tables.embeddings(s, dir)
      val cent = meanVectors(e, Seq("label"), "embedding", "proto", toFloat = false)
      e.join(broadcast(cent), "label")
        .withColumn("cos",
          graft.functions.VectorFunctions.cosine(col("embedding"), col("proto")))
        .groupBy(col("label"))
        .agg(count(lit(1)).as("n"),
          sum(when(col("cos") < 0, 1L).otherwise(0L)).as("n_outliers"),
          round(avg(col("cos")), 4).as("avg_cos"),
          round(min(col("cos")), 4).as("min_cos"))
        .orderBy("label")
    }),

    // Semantic dedup (SemDeDup, Abbas et al. 2023): prune near-duplicate
    // MEANING, not near-duplicate text — embedding-space near-dups found
    // inside the coarse k-means cells of the corpus's trained IVF index
    // (trainCellsShared/assignCellsShared — the q46 artifacts, reused
    // as-is), so the pairwise comparison is per-cell, never corpus². A
    // within-cell pair with cosine >= 0.35 (the q44 near-dup band on
    // this corpus) is a semantic duplicate; the member KEPT is the one
    // farther from its centroid (lower csim — SemDeDup keeps the least
    // prototypical member of a duplicate group to preserve diversity),
    // ties dropping the larger vec_id. Scale shape: the inverted file is
    // the persisted index artifact (corpus shuffled onto its cells once,
    // at BUILD time); the self-join is cell-equi (no corpus² — Σ|cell|²,
    // and the trainer SIZES nlist from the corpus count
    // (ceil(N / IvfTargetCellSize), oracle-replayed), so cell population
    // stays ~constant as N grows: Σ|cell|² ≈ N·IvfTargetCellSize, linear
    // in the corpus, and each cell's quadratic — the paper's "cells hold
    // a bounded vector count" contract — stays executor-local in code,
    // not prose); centroids broadcast; the
    // drop set is duplicate-pair-sized and left-joins back in one pass.
    // `scored` derives twice (the pair branch and the output branch) —
    // deliberate: it is a broadcast join + column math over the ALREADY
    // checkpointed inverted file, and re-deriving it is cheaper at scale
    // than materializing a second corpus-sized copy per query.
    // Oracle replays the Lloyd chain + per-cell pairs + the keep rule.
    "q119_semdedup" -> ((s, dir) => {
      val e = Tables.embeddings(s, dir)
      val cent = trainCellsShared(s, dir, e)
      val assigned = assignCellsShared(s, dir, e, cent)
      val scored = semRoster(assigned, cent)
      val drops = semDrops(scored, scored,
        col("a.vec_id") < col("b.vec_id"), 0.35)
      scored.join(drops.withColumn("dropped", lit(true)), Seq("vec_id"), "left")
        .select(col("vec_id"), col("cell"),
          coalesce(col("dropped"), lit(false)).as("dropped"),
          round(col("csim"), 4).as("csim"))
        .orderBy("vec_id")
    })
  )

  // ---- the two retrieval rankers q99 fuses (also driven standalone by
  // ---- Dev retrievalquality for the measured quality table) -------------

  private[graft] val RrfDepth = 20

  /** Dense ranks: the q33 exact cosine scorer at fusion depth —
    * (q_id, doc_id, r_dense), anchors broadcast, one corpus scan. */
  private[graft] def denseRanks(s: SparkSession, dir: String,
      depth: Int): DataFrame = {
    val e = Tables.embeddings(s, dir)
    val q = e.filter(col("vec_id") < NQueries)
      .select(col("vec_id").as("q_id"), col("embedding").as("q_vec"))
    val wd = Window.partitionBy("q_id").orderBy(col("cos").desc, col("vec_id"))
    e.join(broadcast(q), col("vec_id") =!= col("q_id"))
      .withColumn("cos", cosineSim(col("q_vec"), col("embedding")))
      .withColumn("r_dense", row_number().over(wd))
      .filter(col("r_dense") <= depth)
      .select(col("q_id"), col("vec_id").as("doc_id"), col("r_dense"))
  }

  /** The anchors' BM25 term-selection table (q_id, token, idf) as a
    * PERSISTED corpus artifact, built with the lex family: the anchor
    * set (doc_id < NQueries) and its 8-term idf selection are
    * corpus-snapshot facts, not per-query work. r18 derived this table
    * inline and paid an anchor-doc scan + df join + ranking window per
    * RUN (the driver measured that as q99's 10% sf0.1 regression); the
    * first r19 form localCheckpointed it, which still re-derived it per
    * run. Built once per snapshot, it is ≤ NQueries·8 rows — driver-row
    * cached like the trained centroid tables. The (idf desc, token)
    * ranking order is total, so the selection is deterministic and the
    * persisted table is bit-identical to the inline derivation
    * (ArtifactsSpec pins that). */
  private[graft] def anchorTermsShared(s: SparkSession, dir: String): DataFrame =
    graft.Artifacts.table(s, "lexanchors",
        Tables.parquetFingerprint(s, dir, "documents"))(anchorTermsBuild(s, dir))

  /** The inline derivation behind [[anchorTermsShared]] — ONE definition
    * for the builder and the ArtifactsSpec equivalence pin. */
  private[graft] def anchorTermsBuild(s: SparkSession, dir: String): DataFrame = {
    val nDocs = Tables.rowCount(s, dir, "documents")
    val docs = TextQueries.lexDocsShared(s, dir)
    val dfT = TextQueries.lexDfShared(s, dir)
    val wq = Window.partitionBy("q_id").orderBy(col("idf").desc, col("token"))
    docs.filter(col("doc_id") < NQueries)
      .select(col("doc_id").as("q_id"),
        explode(array_distinct(col("t"))).as("token"))
      .join(dfT, "token")
      .withColumn("idf", log(
        (lit(nDocs.toDouble) - col("df") + lit(0.5)) / (col("df") + lit(0.5))
          + lit(1.0)))
      .withColumn("trk", row_number().over(wq))
      .filter(col("trk") <= 8)
      .select(col("q_id"), col("token"), col("idf"))
  }

  /** Corpus-level lexical scalars (avgdl — BM25's average doc length) as
    * a 1-row persisted artifact, built with the lex family: every BM25
    * consumer (q94, q99, q103) previously paid a full tokenized-corpus
    * scan per RUN just to average size(t). The value is the identical
    * Spark avg over the identical lexdocs rows, written once per
    * snapshot; a double roundtrips parquet bit-exactly, so scores are
    * unchanged (ArtifactsSpec pins builder ≡ inline). */
  private[graft] def lexStatsShared(s: SparkSession, dir: String): DataFrame =
    graft.Artifacts.table(s, "lexstats",
        Tables.parquetFingerprint(s, dir, "documents"))(
      TextQueries.lexDocsShared(s, dir)
        .select(size(col("t")).as("dl")).agg(avg(col("dl")).as("avgdl")))

  /** Lexical ranks: doc-as-query Okapi BM25 with per-anchor 8-term idf
    * selection — (q_id, doc_id, r_lex). The selected-term table and
    * avgdl are persisted lex-family artifacts (anchorTermsShared /
    * lexStatsShared), so the only corpus-sized work left is the tf
    * stream itself; the term table is anchor-bounded and broadcast, and
    * its distinct tokens semi-join the token stream BEFORE the tf
    * shuffle (guide §3.2, the q94 shape), so the exchange carries only
    * the selected terms' posting lists. Exactness is unchanged — the
    * pre-filter keeps a superset-or-equal of the rows the inner qterms
    * join below selects, tf is computed on the unfiltered per-doc
    * arrays, and scores are the identical IEEE expressions over
    * identical (tf, dl, idf, avgdl) inputs. `dl` rides the explode as a
    * per-doc constant grouping key (no corpus-sized lens join). */
  private[graft] def lexicalRanks(s: SparkSession, dir: String,
      depth: Int): DataFrame = {
    val docs = TextQueries.lexDocsShared(s, dir)
    val qterms = anchorTermsShared(s, dir)
    val avgdl = lexStatsShared(s, dir)
    val selTokens = qterms.select(col("token")).distinct()
    val wl = Window.partitionBy("q_id").orderBy(col("score").desc, col("doc_id"))
    docs.select(col("doc_id"), size(col("t")).as("dl"),
        explode(col("t")).as("token"))
      .join(broadcast(selTokens), Seq("token"), "left_semi")
      .groupBy(col("doc_id"), col("dl"), col("token"))
      .agg(count(lit(1)).as("tf"))
      .join(broadcast(qterms), "token")
      .filter(col("doc_id") =!= col("q_id"))
      .crossJoin(broadcast(avgdl))
      .withColumn("contrib", col("idf") *
        ((col("tf").cast("double") * lit(2.2)) /
          (col("tf").cast("double") + lit(1.2) *
            (lit(0.25) + lit(0.75) * (col("dl").cast("double") / col("avgdl"))))))
      .groupBy(col("q_id"), col("doc_id"))
      .agg(sum(col("contrib")).cast("float").as("score"))
      .withColumn("r_lex", row_number().over(wl))
      .filter(col("r_lex") <= depth)
      .select(col("q_id"), col("doc_id"), col("r_lex"))
  }

  // ---- IVF coarse-quantizer stages (q46, q63) ----------------------------

  /** Mean of the array column `vec` per `keys`: posexplode → per-(keys,
    * dim) mean → re-assemble in dim order. One definition of the
    * reassembly idiom for every mean-vector consumer (IVF centroids keyed
    * by cell and the PQ codebook's Lloyd step keyed by (sub, code), both
    * cast to float; q105 prototypes keyed by label kept double).
    */
  private[graft] def meanVectors(df: DataFrame, keys: Seq[String], vec: String,
      out: String, toFloat: Boolean): DataFrame = df
    .select(keys.map(col) :+ posexplode(col(vec)).as(Seq("dim", "x")): _*)
    .groupBy(keys.map(col) :+ col("dim"): _*)
    .agg(avg(col("x").cast("double")).as("c"))
    .groupBy(keys.map(col): _*)
    .agg(array_sort(collect_list(struct(col("dim"), col("c")))).as("pairs"))
    .select(keys.map(col) :+
      (if (toFloat) expr("transform(pairs, p -> cast(p.c as float))")
       else expr("transform(pairs, p -> p.c)")).as(out): _*)

  /** Mean vector per existing cell assignment, float-cast. */
  private[graft] def cellMeans(assigned: DataFrame): DataFrame =
    meanVectors(assigned, Seq("cell"), "embedding", "centroid", toFloat = true)

  /** EXACT nearest-centroid assignment as an aggregation, not a window:
    * the round-1 row_number() form shuffled AND sorted corpus×nlist rows;
    * min_by gets map-side partial aggregation, so only one (cell,
    * embedding) buffer per vec_id crosses the shuffle — at 100 TB that
    * is shuffling the corpus once instead of nlist× plus a sort.
    * Ordering key struct(-csim, cell) == (csim DESC, cell ASC), the same
    * deterministic tie-break the window used. Cost = rows × nlist, so
    * this form is reserved for the BOUNDED inputs (the training sample
    * inside [[trainCells]], the nlist-row centroid table inside
    * [[superQuantizer]]); corpus-sized assignment goes through the
    * two-level [[assignCells]].
    */
  private[graft] def assignCellsExact(e: DataFrame, cent: DataFrame): DataFrame =
    e.crossJoin(broadcast(cent))
      .withColumn("csim", cosineSim(col("embedding"), col("centroid")))
      .groupBy(col("vec_id"))
      .agg(min_by(struct(col("cell"), col("embedding")),
        struct(negate(col("csim")), col("cell"))).as("best"))
      .select(col("vec_id"), col("best.cell").as("cell"),
        col("best.embedding").as("embedding"))

  /** Lloyd step with empty-cell RETENTION: recomputed float-cast means
    * where a cell captured sample vectors, the previous centroid where
    * it didn't. Sample-bounded training makes empty cells possible
    * (a seed can lose every sample vector to a closer seed), and
    * dropping them would shrink nlist below the corpus-sized contract
    * ([[ivfNlist]]) — retention keeps the centroid count an invariant.
    * The oracle replays the same LEFT JOIN + COALESCE.
    */
  private[graft] def retainEmpty(means: DataFrame, prev: DataFrame): DataFrame =
    prev.select(col("cell"), col("centroid").as("prevc"))
      .join(means.withColumnRenamed("centroid", "newc"), Seq("cell"), "left")
      .select(col("cell"), coalesce(col("newc"), col("prevc")).as("centroid"))

  /** The two-level coarse quantizer derived from a trained centroid
    * table — a pure deterministic FUNCTION of `cent`, so every consumer
    * (the build's corpus assignment, streaming admission, maintenance
    * deltas) derives the identical geometry from the one pinned
    * artifact instead of persisting a second table. nsuper =
    * ceil(sqrt(nlist)) super-centroids are k-means-trained ON THE
    * CENTROIDS (seeded from cells 0..nsuper−1, two Lloyd rounds with
    * retention — cost nlist·nsuper = nlist^1.5, centroid-sized, never
    * corpus-sized). Returns (supers (super, scentroid), cellmap (cell,
    * super, centroid)) — `cellmap` is every cell routed to its final
    * nearest super, the routing table [[assignCells]] restricts its
    * second hop to.
    *
    * EXECUTION, not semantics (r16): below [[SuperDriverMaxCells]] the
    * derivation runs ON THE DRIVER ([[superQuantizerLocal]] — the same
    * argmax/mean/retention math over the collected centroid table,
    * parity-spec'd against this distributed form), because at small
    * nlist the ~10 tiny Spark jobs here cost more wall-clock than the
    * nlist^1.5 arithmetic (measured ~1.9 s fixed at every test scale,
    * the bulk of the r15-b cold ivf-build regression). Past the floor
    * the distributed form below runs unchanged — at deployment
    * nlist ≈ 10⁵ the driver would be doing 2G flops and holding the
    * centroid table, exactly what executors are for.
    */
  private[graft] def superQuantizer(cent: DataFrame)
      : (DataFrame, DataFrame, Long) = {
    // nlist rides the return value: every caller needs it (broadcast
    // sizing, √nlist derivations) and counting here is the one count
    // job per derivation — the uncached training path must not pay a
    // second one just to re-learn what this dispatch already measured
    val nlist = cent.count()
    val (sup, cm) =
      if (nlist <= SuperDriverMaxCells) superQuantizerLocal(cent)
      else superQuantizerDistributed(cent,
        math.ceil(math.sqrt(nlist.toDouble)).toInt)
    (sup, cm, nlist)
  }

  /** Driver-path ceiling: 4096 cells × 64 floats ≈ 1 MB collected and
    * ~2.6×10⁵ kernel cosines per Lloyd step — trivial driver work; the
    * first deployment sizing past it (nlist ≈ 10⁵) is where the
    * distributed form earns its jobs. */
  private[graft] val SuperDriverMaxCells = 4096L

  /** The [[superQuantizer]] math on the driver: identical cosine kernel
    * (in-order double dot/norm — [[graft.functions.expressions.VectorKernels.cosineFloat]]'s
    * exact loop), identical argmax tie-break (sim DESC, id ASC),
    * per-dim double mean cast to FLOAT with members in cell-ASC order,
    * and empty-super retention. The one representational difference is
    * mean SUMMATION ORDER (Spark's partial aggregates merge in shuffle
    * order) — absorbed by the float cast exactly as the DuckDB-oracle
    * contract already absorbs it (double avg ~1e-14 relative vs a 6e-8
    * float ulp); the parity spec compares routing exactly and
    * scentroids to an ulp. */
  private[graft] def superQuantizerLocal(cent: DataFrame): (DataFrame, DataFrame) = {
    val s = cent.sparkSession
    val cells: Array[(Int, Array[Float])] = cent
      .select(col("cell"), col("centroid")).collect()
      .map(r => (r.getInt(0), r.getSeq[Float](1).toArray))
      .sortBy(_._1)
    require(cells.nonEmpty, "superQuantizer on an empty centroid table")
    val dims = cells.head._2.length
    def cos(a: Array[Float], b: Array[Float]): Double = {
      val n = math.min(a.length, b.length)
      var dot = 0.0; var aa = 0.0; var bb = 0.0; var i = 0
      while (i < n) {
        val x = a(i).toDouble; val y = b(i).toDouble
        dot += x * y; aa += x * x; bb += y * y; i += 1
      }
      val na = math.sqrt(aa); val nb = math.sqrt(bb)
      if (na == 0.0 || nb == 0.0) 0.0 else dot / (na * nb)
    }
    // sim DESC, id ASC: ascending-id scan with a strict improvement test
    def nearest(v: Array[Float], cands: Array[(Int, Array[Float])]): Int = {
      var bi = cands(0)._1; var bs = cos(v, cands(0)._2); var i = 1
      while (i < cands.length) {
        val sc = cos(v, cands(i)._2)
        if (sc > bs) { bs = sc; bi = cands(i)._1 }
        i += 1
      }
      bi
    }
    val nsuper = math.ceil(math.sqrt(cells.length.toDouble)).toInt
    def step(prev: Array[(Int, Array[Float])]): Array[(Int, Array[Float])] = {
      val members = cells.groupBy { case (_, v) => nearest(v, prev) }
      prev.map { case (sid, prevC) =>
        members.get(sid) match {
          case None => (sid, prevC) // retention: empty supers keep theirs
          case Some(ms) =>
            val out = new Array[Float](dims)
            var d = 0
            while (d < dims) {
              var sum = 0.0; var i = 0
              while (i < ms.length) { sum += ms(i)._2(d).toDouble; i += 1 }
              out(d) = (sum / ms.length).toFloat
              d += 1
            }
            (sid, out)
        }
      }
    }
    var sup = cells.filter(_._1 < nsuper)
    for (_ <- 0 until 2) sup = step(sup)
    val routed = cells.map { case (cid, v) => (cid, nearest(v, sup), v) }
    import s.implicits._
    val supDf = sup.toSeq.toDF("super", "scentroid")
    val mapDf = routed.toSeq.toDF("cell", "super", "centroid")
    (supDf, mapDf)
  }

  private[graft] def superQuantizerDistributed(cent: DataFrame,
      nsuper0: Int = -1): (DataFrame, DataFrame) = {
    // nsuper passed in by the dispatch (which already counted the
    // table); -1 = standalone call, count here
    val nsuper = if (nsuper0 > 0) nsuper0
      else math.ceil(math.sqrt(cent.count().toDouble)).toInt
    val asVecs = cent.select(col("cell").as("vec_id"),
      col("centroid").as("embedding"))
    def superStep(sup: DataFrame): DataFrame = {
      val assigned = assignCellsExact(asVecs,
        sup.select(col("super").as("cell"), col("scentroid").as("centroid")))
      retainEmpty(cellMeans(assigned), sup
          .select(col("super").as("cell"), col("scentroid").as("centroid")))
        .select(col("cell").as("super"), col("centroid").as("scentroid"))
    }
    var sup = cent.filter(col("cell") < nsuper)
      .select(col("cell").as("super"), col("centroid").as("scentroid"))
    for (_ <- 0 until 2) sup = superStep(sup)
    val supF = sup.localCheckpoint()
    val cellmap = assignCellsExact(asVecs,
        supF.select(col("super").as("cell"), col("scentroid").as("centroid")))
      .select(col("vec_id").as("cell"), col("cell").as("super"),
        col("embedding").as("centroid"))
      .localCheckpoint()
    (supF, cellmap)
  }

  // The super quantizer is cheap (centroid-sized) but per-call it is
  // still work; streaming admission derives it every micro-batch
  // against the SAME pinned geometry, so cache per (SESSION, centroid
  // fingerprint) — keyed by the owning SparkSession, not the context:
  // the cached frames are resolved against a session's state, and a
  // second session sharing the context must re-derive rather than
  // receive another session's frames (ADVICE r15). BOUNDED as a
  // true LRU: on overflow the LEAST-RECENTLY-USED entry alone is
  // dropped from the map — its checkpoint blocks are NOT eagerly
  // unpersisted, because an in-flight query from another live stream
  // may still hold the evicted frames in its plan, and localCheckpoint
  // truncates lineage, so an unpersisted live frame fails
  // irrecoverably, not just slowly (the r16 ADVICE medium: cache
  // PRESSURE must never break a running query). Reclamation is the
  // ContextCleaner's: once the last plan referencing the evicted
  // frames is GC'd, the checkpoint RDD is unreachable and its blocks
  // are removed — the same deferred path a session's clearCache relies
  // on. Eager unpersist remains only for the derivation-race LOSER,
  // whose frames were never published and have no other referent.
  // Bounded either way: the map pins at most [[SuperCacheMax]]
  // geometries; evicted-but-unreclaimed blocks are transient, sized by
  // live queries, not by churn.
  private val SuperCacheMax = 16
  private val superCache =
    new java.util.LinkedHashMap[String, (DataFrame, DataFrame, Long)](
      32, 0.75f, /*accessOrder=*/ true)
  // cached value carries nlist too: the hop-2 broadcast decision needs
  // the routing-table row count on EVERY assignCells call, and a
  // per-call cellmap.count() would be a Spark job per micro-batch on
  // the distributed path just to pick a join hint
  private def superQuantizerCached(cent: DataFrame)
      : (DataFrame, DataFrame, Long) = {
    val key = System.identityHashCode(cent.sparkSession) + ":" +
      IndexMaintenance.centroidFingerprint(cent)
    superCache.synchronized(Option(superCache.get(key))) match {
      case Some(v) => v
      case None =>
        // derived OUTSIDE the lock — the distributed path runs Spark
        // jobs and must not block other streams' cache hits
        val fresh = superQuantizer(cent)
        superCache.synchronized {
          Option(superCache.get(key)) match {
            case Some(winner) => // lost a derivation race: drop ours
              graft.ArtifactStore.releaseCheckpoints(fresh._1, fresh._2); winner
            case None =>
              superCache.put(key, fresh)
              if (superCache.size > SuperCacheMax) {
                val it = superCache.entrySet().iterator()
                it.next() // access-ordered: the LRU entry — dropped,
                it.remove() // not unpersisted (see the cache doc above)
              }
              fresh
          }
        }
    }
  }

  /** TWO-LEVEL nearest-cell assignment — the corpus-sized path: each
    * vector first picks its nearest live super-centroid (nsuper = √nlist
    * candidates), then the nearest cell among that super's members
    * (~√nlist candidates) — cost ~2·rows·√nlist instead of the exact
    * form's rows·nlist, which with corpus-sized nlist was the build's
    * quadratic law (the r14 `weak`). The hop is the standard IMI/
    * two-level-IVF trade: a vector whose true nearest cell lives under a
    * different super lands in a near-tie neighbor cell instead —
    * acceptable for an ANN inverted file by construction, deterministic
    * (exact argmax at both hops, csim-DESC/id-ASC ties), and replayed
    * verbatim by the oracle, so it is part of the checked contract.
    * Supers with no member cells are excluded from hop 1 (a vector
    * routed there would have no hop-2 candidates).
    *
    * Broadcast sizing at 100 TB: hop 1 broadcasts nsuper = √nlist rows
    * (always tiny); hop 2 broadcasts the nlist-row routed centroid
    * table — ~25 MB at the deployment sizing (nlist ≈ 10⁵ under the
    * raised IvfTargetCellSize), comfortably broadcastable. Past
    * [[IvfBroadcastCellsConf]] (default 2·10⁵ rows — where the
    * broadcast would cross the tens-of-MB line at 64-dim centroids)
    * the hint is DROPPED and the hop-2 join plans from stats — at
    * nlist ≈ 10⁶ the routing table is ~250 MB and Spark shuffles on
    * `super` (the output volume N·√nlist is identical either way; only
    * the routing table's distribution changes). A real conf, not prose:
    * both plan shapes are pinned in ArtifactsSpec.
    */
  private[graft] val IvfBroadcastCellsConf = "spark.graft.ivf.maxBroadcastCells"
  private[graft] val IvfBroadcastCellsDefault = 200000L

  /** The SemDeDup roster of an IVF assignment (vec_id, cell, embedding):
    * each vector with `csim`, its cosine to its own centroid — how
    * prototypical it is. ONE definition for q119, the maintained state
    * ([[IndexMaintenance.buildSemDedup]]) and the streaming gate
    * ([[graft.streaming.SemanticAdmission]]). */
  private[graft] def semRoster(assigned: DataFrame, cent: DataFrame): DataFrame =
    assigned.join(broadcast(cent), "cell")
      .select(col("vec_id"), col("cell"), col("embedding"),
        cosineSim(col("embedding"), col("centroid")).as("csim"))

  /** The SemDeDup keep rule: the dropped side of every within-cell pair
    * of rosters `a` × `b` with cosine ≥ `tau` — the MORE prototypical
    * member (higher csim) drops, ties drop the larger id. Symmetric in
    * its pair, so the caller picks the pair universe with `idCond`
    * (a < b for a build; delta × all for a refresh, where delta × delta
    * pairs appear twice and collapse in the distinct). */
  private[graft] def semDrops(a: DataFrame, b: DataFrame, idCond: Column,
      tau: Double): DataFrame =
    a.alias("a").join(b.alias("b"),
        col("a.cell") === col("b.cell") && idCond)
      .filter(cosineSim(col("a.embedding"), col("b.embedding")) >= tau)
      .select(when(col("a.csim") > col("b.csim") ||
          (col("a.csim") === col("b.csim") &&
            col("a.vec_id") > col("b.vec_id")), col("a.vec_id"))
        .otherwise(col("b.vec_id")).as("vec_id"))
      .distinct()

  private[graft] def assignCells(e: DataFrame, cent: DataFrame,
      probes: Int = 1, cacheGeometry: Boolean = true): DataFrame = {
    require(probes >= 1, s"hop-1 probes must be >= 1, got $probes")
    // cacheGeometry=false is the TRAINING path: each Lloyd iteration's
    // centroids are throwaway (two per build), and caching them would
    // churn the 16-slot LRU out from under live streams' pinned
    // geometries (the r17 review) — derive directly and let the
    // iteration's checkpoint release them with the plan instead
    val (supers, cellmap, nlist) =
      if (cacheGeometry) superQuantizerCached(cent)
      else superQuantizer(cent)
    // the live-super filter's right side is ≤ nsuper = √nlist rows —
    // always broadcastable (the checkpointed frames carry no stats, so
    // without the hint Spark would sort-merge two tiny tables)
    val liveSupers = supers.join(
      broadcast(cellmap.select(col("super")).distinct()),
      Seq("super"), "left_semi")
    val hop1Cand = e.crossJoin(broadcast(liveSupers))
      .withColumn("ssim", cosineSim(col("embedding"), col("scentroid")))
    // probes = 1 (the corpus path) stays the map-side min_by aggregation
    // — one buffer per vec_id crosses the shuffle, never a corpus-sized
    // window sort. probes > 1 is the TRAINING path ([[IvfTrainProbes]]):
    // its input is the bounded Lloyd sample, so the top-probes window
    // (sample × nsuper rows, partitioned by vec_id) is sample-sized by
    // construction; each surviving (vec, super) row fans into hop 2.
    val hop1 =
      if (probes == 1)
        hop1Cand.groupBy(col("vec_id"))
          .agg(min_by(struct(col("super"), col("embedding")),
            struct(negate(col("ssim")), col("super"))).as("best"))
          .select(col("vec_id"), col("best.super").as("super"),
            col("best.embedding").as("embedding"))
      else
        hop1Cand.withColumn("rk", row_number().over(
            org.apache.spark.sql.expressions.Window.partitionBy(col("vec_id"))
              .orderBy(col("ssim").desc, col("super"))))
          .filter(col("rk") <= probes)
          .select(col("vec_id"), col("super"), col("embedding"))
    val maxBroadcast = e.sparkSession.conf
      .get(IvfBroadcastCellsConf, IvfBroadcastCellsDefault.toString).toLong
    // nlist rides the super cache — no per-call count job just to pick
    // the join hint
    val routed =
      if (nlist <= maxBroadcast) broadcast(cellmap) else cellmap
    hop1.join(routed, "super")
      .withColumn("csim", cosineSim(col("embedding"), col("centroid")))
      .groupBy(col("vec_id"))
      .agg(min_by(struct(col("cell"), col("embedding")),
        struct(negate(col("csim")), col("cell"))).as("best"))
      .select(col("vec_id"), col("best.cell").as("cell"),
        col("best.embedding").as("embedding"))
  }

  /** Target inverted-file cell size: nlist = ceil(N / this), so cell
    * population — and therefore q119's Σ|cell|² within-cell pair cost —
    * stays ~constant as the corpus grows (SemDeDup's own deployment
    * shape: cells hold a bounded vector count and each cell's quadratic
    * stays executor-local). 50 is the test-scale knob (nlist = 10 at the
    * 500-vector spec corpus, 40 at sf0.1, 400 at the 10× replica sweep);
    * a 100 TB deployment raises it to ~10⁵. The oracle replays the same
    * integer ceil-division, so the sizing is part of the checked
    * contract, not prose.
    */
  private[graft] val IvfTargetCellSize = 50L

  /** nlist for an N-vector corpus: ceil-division, at least 1. */
  private[graft] def ivfNlist(n: Long): Int =
    math.max(1L, (n + IvfTargetCellSize - 1L) / IvfTargetCellSize).toInt

  /** Training-sample budget per centroid: Lloyd trains on the first
    * min(N, this × nlist) corpus vectors in md5 order — the FAISS
    * convention (k-means trains on a bounded multiple of k, not the
    * corpus; faiss Clustering defaults cap at 256·k and warn below
    * 39·k), so the per-iteration assign cost is sample·nlist =
    * 16·nlist², independent of how far N outruns the index. The oracle
    * replays the same LEAST(N, 16·nlist) prefix, so the sample
    * definition is part of the checked contract. 16 is below faiss's
    * 39·k quality-warning line — the measured price at the spec corpus
    * is a Lloyd residual of 0.20 vs ~0.19 under full-corpus training
    * (IndexMaintenanceSpec pins the bound), with the q46/q57/q63 recall
    * floors unmoved; the buy is the 10×-replica build ratio dropping to
    * ~1.3× (SCALING §2d-r15).
    */
  private[graft] val IvfTrainPerCell = 16L

  /** Coarse-centroid training: CORPUS-SIZED nlist (= ceil(N / target
    * cell size)) seeded Forgy-style from the first nlist corpus vectors
    * in deterministic md5 order, then 2 Lloyd iterations over a BOUNDED
    * training sample (the first min(N, [[IvfTrainPerCell]]·nlist)
    * vectors of the same order — sample ⊇ seeds by construction), with
    * empty cells retaining their previous centroid. Seeding from actual
    * vectors (not group means) keeps seeds spread across the data
    * distribution, so cells stay populated and roughly balanced as
    * nlist grows. The sample and the seeds are TakeOrderedAndProject
    * gathers (per-partition top-K heaps, no full sort); seed ranks come
    * from zipWithIndex over the single-partition ordered result — the
    * r14 partition-less row_number window over a growing nlist is gone.
    * localCheckpoint (not cache): the trained centroids feed BOTH the
    * corpus assignment and the query probes — materialize once, and the
    * blocks are released with the RDD instead of pinning the session's
    * catalog cache for its lifetime.
    *
    * Build law, priced end-to-end (r17): train = 2 iterations ×
    * (super derivation nlist^1.5 + two-level sample assignment
    * 16·nlist·2√nlist) = O(nlist^1.5) — the r16 exact-sample form's
    * 32·nlist² was still quadratic in N under nlist = N/50 sizing and
    * measurably dominated the build one organic decade up (49.6 of
    * 70 s at sf10, SCALING §6c-r17); super-quantizer over the final
    * centroids = nlist^1.5 ([[superQuantizer]]); corpus assignment =
    * 2·N·√nlist ([[assignCells]]). Every stage is now ≤ N^1.5. The r14
    * shape — N·nlist = N²/cellSize per iteration plus a full-corpus
    * exact assignment — was quadratic in the corpus.
    */
  private[graft] def trainCells(e: DataFrame): DataFrame = {
    val s = e.sparkSession
    val n = e.count()
    val nlist = ivfNlist(n)
    // Long math end-to-end: 16·nlist alone can pass Int.MaxValue if a
    // deployment scales N without raising IvfTargetCellSize, and a
    // wrapped negative limit() would throw far from the cause
    val sampleN64 = math.min(n, IvfTrainPerCell * nlist.toLong)
    require(sampleN64 <= Int.MaxValue.toLong,
      s"IVF training sample $sampleN64 exceeds a single TakeOrdered's " +
        s"Int range — raise IvfTargetCellSize (nlist=$nlist) so the " +
        "sample budget stays index-sized")
    val sampleN = sampleN64.toInt
    val seedKey = md5(concat(lit("ivf:"), col("vec_id").cast("string")))
    // ONE corpus-wide md5-ordered TakeOrdered serves both the sample and
    // the seeds (seeds == the sample's first nlist rows by construction;
    // sampleN >= nlist always since nlist <= N): checkpoint the ordered
    // single-partition result, rank it once, and derive both from it
    val sampleOrdered = e
      .select(seedKey.as("sk"), col("vec_id"), col("embedding"))
      .orderBy(col("sk"), col("vec_id")).limit(sampleN)
      .select(col("vec_id"), col("embedding"))
      .localCheckpoint()
    // the seed-rank derivation below REQUIRES the limit's physical plan
    // to be TakeOrdered's single merged partition; a conf-lowered
    // topKSortFallbackThreshold would otherwise silently scramble seed
    // ranks away from the oracle's row_number definition — fail loudly
    require(sampleOrdered.rdd.getNumPartitions == 1,
      "IVF seed ranking expects the ordered sample as ONE TakeOrdered " +
        "partition; the planner produced " +
        s"${sampleOrdered.rdd.getNumPartitions} (is " +
        "spark.sql.execution.topKSortFallbackThreshold lowered?)")
    // the limit's physical result is a SINGLE partition (TakeOrdered's
    // merged output) — re-spread it by key or every training crossJoin
    // (sample × nlist) runs on one task; hash repartition keeps row
    // placement deterministic
    val sample = sampleOrdered.repartition(col("vec_id")).localCheckpoint()
    // rank-from-TakeOrdered: the checkpointed limit output is a
    // single-partition ordered RDD, so zipWithIndex IS the seed rank
    val seedRdd = sampleOrdered.select(col("embedding")).rdd
      .zipWithIndex().filter(_._2 < nlist).map { case (r, i) =>
        org.apache.spark.sql.Row(i.toInt, r.get(0)) }
    var cent: DataFrame = s.createDataFrame(seedRdd,
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("cell",
          org.apache.spark.sql.types.IntegerType, nullable = false),
        org.apache.spark.sql.types.StructField("centroid",
          e.schema("embedding").dataType))))
      .localCheckpoint()
    // checkpoint each iteration: the retention join references the
    // previous centroids TWICE (assignment broadcast + fallback side) —
    // left lazy, iteration 2 re-executes iteration 1's whole subtree
    // per reference (measured 11.9 → 8.9 s at the 10× replica).
    // Each Lloyd step routes the sample through the SAME two-level
    // assignment the corpus uses (r17): the exact form's sample·nlist =
    // 16·nlist² was quadratic in N under the fixed-cell-size sizing —
    // measured emerging at the organic sf10 decade (train 49.6 s of the
    // 70 s build, SCALING §6c-r17) — while the two-level form is
    // 16·nlist·2√nlist ∝ N^1.5, ONE assignment law at every stage
    // (no conditional fork; the oracle replays the hop inside each
    // training iteration exactly as it replays the corpus assignment).
    for (_ <- 0 until 2)
      cent = retainEmpty(
        cellMeans(assignCells(sample, cent, probes = IvfTrainProbes,
          cacheGeometry = false)), cent)
        .localCheckpoint()
    cent
  }

  /** Hop-1 probes for the TRAINING Lloyd's two-level assignment: the
    * corpus assignment stays top-1 (each vector lands in ONE inverted-
    * file cell — a hop miss there just picks a near-tie neighbor cell,
    * the accepted IMI trade), but during training a hop miss compounds
    * across iterations into genuinely worse centroids. Measured at
    * sf0.1 (`Dev annquality`, q46 nprobe=3 / q63 recall@5, 100-query
    * sample, ±~0.02 binomial noise per point): exact-assignment
    * training 0.33/0.38, two-level top-1 0.20/0.30, two-level top-2
    * 0.29/0.35, top-3 0.27/0.29 — top-2 recovers the exact form's
    * index quality to within ~1-2σ of the sample noise at
    * 2·sample·2√nlist ∝ N^1.5 cost, where the exact form's 16·nlist²
    * ∝ N² made training the build's dominant term one organic decade
    * up (49.6 of 70 s at sf10, → 12.3 s two-level; at N = 10⁹ the
    * exact form is 6·10¹⁵ distance rows — not runnable at all). A
    * deployment that wants the last recall epsilon raises this at
    * linear cost. Part of the oracle-checked contract: the oracle
    * replays hop-1 rank ≤ probes inside each training iteration. */
  private[graft] val IvfTrainProbes = 2

  // ---- trained-index artifact store (q46, q57, q63) ----------------------
  //
  // IVF centroids and PQ codebooks are CORPUS-level artifacts: at 100 TB an
  // index is trained once and persisted next to the data — nobody retrains
  // it inside every query (r6 verdict's one perf flag). Keyed by the
  // embeddings table's per-part-file fingerprint, so a rewritten corpus
  // retrains and distinct SFs (spec at sf0.001, bench at sf0.1) never
  // collide. Training is deterministic given the corpus, so whichever of
  // q46/q57/q63 runs first trains and the rest reuse bit-identical tables —
  // results are unchanged, only the redundant recompute is gone. The
  // artifacts are tiny by construction (nlist×64 floats, 8×16×8 doubles):
  // they live as driver rows (Artifacts.table) and re-enter plans as
  // broadcast local relations, exactly how a persisted index side-table
  // would. The corpus-side index tables (the inverted file, the code
  // table, the SRP bands) ARE the index's data files: they stay
  // partitioned, as published parquet scans (Artifacts.frame).
  private def embeddingsFp(s: SparkSession, dir: String): String =
    Tables.parquetFingerprint(s, dir, "embeddings")

  private[graft] def trainCellsShared(s: SparkSession, dir: String,
      e: DataFrame): DataFrame =
    graft.Artifacts.table(s, "ivf", embeddingsFp(s, dir))(trainCells(e))

  private[graft] def pqCodebookShared(s: SparkSession, dir: String,
      subvecs: => DataFrame): DataFrame =
    graft.Artifacts.table(s, "pq", embeddingsFp(s, dir))(pqCodebook(subvecs))

  /** Drop the derived super-quantizer routing cache — part of
    * [[graft.Artifacts.dropSessionCaches]]: a warm entry would let a
    * "cold" ivf build repetition skip the derivation, and the bench's
    * build gate would under-measure it (blocks are left for GC — callers
    * may still hold the frames).
    */
  private[graft] def dropSuperCache(): Unit =
    superCache.synchronized(superCache.clear())

  /** The PQ-encoded corpus, (vec_id, sub, subvec): shared by the code
    * assignment, the codebook trainer, and the per-query ADC tables. */
  private[graft] def pqSubvecsShared(s: SparkSession, dir: String,
      e: => DataFrame): DataFrame =
    graft.Artifacts.frame(s, "pqsubvecs", embeddingsFp(s, dir))(
      pqSubvecsPlan(pqNormalize(e)))

  /** The code table, (vec_id, sub, code) — 8 one-byte codes per vector,
    * the compressed corpus every ADC scan reads. */
  private[graft] def pqCodesShared(s: SparkSession, dir: String,
      subvecs: DataFrame, cb: DataFrame): DataFrame =
    graft.Artifacts.frame(s, "pqcodes", embeddingsFp(s, dir))(
      pqAssign(subvecs, cb))

  /** The IVF inverted file, (vec_id, cell, embedding): corpus shuffled
    * once onto its cells at index-build time. */
  private[graft] def assignCellsShared(s: SparkSession, dir: String,
      e: DataFrame, cent: DataFrame): DataFrame =
    graft.Artifacts.frame(s, "ivfassign", embeddingsFp(s, dir))(
      assignCells(e, cent))

  /** q37's L=8 SRP hash tables, (vec_id, embedding, t, b): the
    * OR-construction's corpus side, hashed once per table at index-BUILD
    * time and persisted — at 100 TB these ARE the LSH index's bucket
    * files; rebuilding them inside every query (the r7 shape) multiplied
    * steady-state cost ~4× for zero recall gain. Table 0 ≡ q34's band
    * (seeds 16·t apart), preserving q37 ⊇ q34 candidate coverage. */
  private[graft] def srpBandsShared(s: SparkSession, dir: String): DataFrame =
    graft.Artifacts.frame(s, "srpbands", embeddingsFp(s, dir))(
      srpBandRows(Tables.embeddings(s, dir), srpAnnBits(s, dir)))

  /** The L=[[SrpAnnTables]] SRP band rows (vec_id, embedding, t, b) of an
    * embedding frame under a FROZEN bit width — ONE banding definition
    * shared by the persisted band-table builder above and the
    * incremental maintenance ([[IndexMaintenance.refreshSrp]]): an
    * appended segment must hash with the width the index was BUILT with,
    * or the same vector family lands in two different bucket spaces.
    */
  private[graft] def srpBandRows(e: DataFrame, bits: Int): DataFrame =
    e.select(col("vec_id"), col("embedding"),
        srpBandKeys(col("embedding"), bits, SrpAnnTables).as("tb"))
      .select(col("vec_id"), col("embedding"),
        col("tb.t").as("t"), col("tb.b").as("b"))

  /** The OR-amplified SRP band key of `emb`, one row per table: the
    * exploded struct (t, b), b the `bits`-plane bucket of table t, whose
    * plane seeds sit 16·t apart. ONE band-key definition for q34/q37's
    * persisted tables, q45, q62 and the embedding admission gate, which
    * hashes this struct (field names, types and order) into its store's
    * pb layout. */
  private[graft] def srpBandKeys(emb: Column, bits: Int, tables: Int): Column =
    explode(srpBandKeyArray(emb, bits, tables))

  /** [[srpBandKeys]] unexploded: one array of the `tables` keys. */
  private[graft] def srpBandKeyArray(emb: Column, bits: Int, tables: Int): Column =
    array((0 until tables).map(t => struct(lit(t).as("t"),
      srpBucketExpr(emb, bits, 16 * t).as("b"))): _*)

  /** IVF probe-and-rerank search over an inverted file: broadcast the
    * query probe list onto the cell-partitioned corpus, exact-cosine
    * rerank inside the probed cells, top-k per query. ONE definition
    * shared by q46 and the incremental-maintenance recall specs, so a
    * refreshed index is searched exactly the way the built index is.
    */
  private[graft] def ivfSearch(assigned: DataFrame, cent: DataFrame,
      e: DataFrame, nprobe: Int, k: Int): DataFrame = {
    val probes = probeCells(e, cent, nprobe)
    val w = Window.partitionBy("q_id").orderBy(col("cos").desc, col("vec_id"))
    assigned.join(broadcast(probes), Seq("cell"))
      .filter(col("vec_id") =!= col("q_id"))
      .withColumn("cos", cosineSim(col("q_vec"), col("embedding")))
      .withColumn("rk", row_number().over(w))
      .filter(col("rk") <= k)
      .select(col("q_id"), col("rk"), col("vec_id").as("neighbor_id"))
      .orderBy("q_id", "rk")
  }

  /** Query-side probe list: each query's `nprobe` nearest cells (the
    * synthetic corpus clusters only weakly — diffuse cells need a probe
    * or two more than a well-separated corpus would). The window here is
    * fine at scale: it ranks queries×nlist rows, and the query set is
    * small by definition — it's the corpus side that must not be
    * windowed.
    */
  private[graft] def probeCells(e: DataFrame, cent: DataFrame, nprobe: Int): DataFrame = {
    val wAssign = Window.partitionBy("vec_id")
      .orderBy(col("csim").desc, col("cell"))
    e.filter(col("vec_id") < NQueries)
      .crossJoin(broadcast(cent))
      .withColumn("csim", cosineSim(col("embedding"), col("centroid")))
      .withColumn("crk", row_number().over(wAssign))
      .filter(col("crk") <= nprobe)
      .select(col("vec_id").as("q_id"), col("embedding").as("q_vec"), col("cell"))
  }

  // ---- product-quantization stages (q57, q63) ----------------------------

  private val PqM = 8      // subspaces
  private val PqDsub = 8   // dims per subspace
  private val PqK = 16     // codes per subspace codebook
  private[graft] val PqRerank = 150

  /** L2-normalized double vectors (PQ trains on the unit sphere so ADC
    * dot sums approximate cosine). Pure transform, no checkpoint: its only
    * consumer is pqSubvecs, whose checkpoint materializes this exactly
    * once (r5 had a second checkpoint here — one serial job of pure idle
    * at local[32], and at cluster scale a second full write of the
    * normalized corpus).
    */
  private[graft] def pqNormalize(e: DataFrame): DataFrame = {
    val nrm = l2Norm(col("embedding"))
    e.select(col("vec_id"),
      transform(col("embedding"), x => x.cast("double") / nrm).as("nv"))
  }

  /** One row per (vec_id, subspace) with the dsub-dim subvector — the
    * LAZY plan; [[pqSubvecs]] is its checkpointed form for direct
    * multi-consumer callers, while the artifact store stages the plan
    * straight into its parquet write. */
  private[graft] def pqSubvecsPlan(normed: DataFrame): DataFrame = normed
    .select(col("vec_id"), col("nv"),
      explode(sequence(lit(0), lit(PqM - 1))).as("sub"))
    .withColumn("subvec",
      expr(s"transform(sequence(0, ${PqDsub - 1}), i -> nv[sub * $PqDsub + i])"))
    .select(col("vec_id"), col("sub"), col("subvec"))

  /** One row per (vec_id, subspace) with the dsub-dim subvector. */
  private[graft] def pqSubvecs(normed: DataFrame): DataFrame =
    pqSubvecsPlan(normed).localCheckpoint()

  /** The scored assignment join and its tie-break order — ONE definition
    * shared by [[pqAssign]] (the persisted codes table) and
    * [[pqAssignKeepSubvec]] (the trainer), so the two can never pick
    * different codes (the ADVICE-flagged drift hazard: a tie-break edit
    * in one but not the other would silently decouple the persisted
    * codes from the trainer's assignment). */
  private def pqAssignScored(subvecs: DataFrame, cb: DataFrame): DataFrame =
    subvecs.join(broadcast(cb), "sub")
      .withColumn("d2", sqDist(col("subvec"), col("centroid")))
  private def pqAssignOrder = struct(col("d2"), col("code"))

  /** Nearest-code assignment: partial min_by, no window (q46 lesson).
    * NOT derived from pqAssignKeepSubvec-then-drop: that would carry the
    * dsub-dim subvector through every min_by partial buffer of the
    * corpus×M codes build just to discard it. */
  private[graft] def pqAssign(subvecs: DataFrame, cb: DataFrame): DataFrame =
    pqAssignScored(subvecs, cb)
      .groupBy(col("vec_id"), col("sub"))
      .agg(min_by(col("code"), pqAssignOrder).as("code"))

  /** Trainer-side assignment that KEEPS the subvector: subvec is constant
    * within a (vec_id, sub) group, so it rides the same min_by buffer —
    * the former shape re-joined the corpus×M assignment back onto the
    * corpus×M subvec table just to recover a column every pre-aggregation
    * row already held (two exchanges + an SMJ of the two largest frames
    * in the build). The picked subvec is identical whichever row wins the
    * min_by, so the downstream mean is over exactly the same multiset. */
  private def pqAssignKeepSubvec(subvecs: DataFrame, cb: DataFrame)
      : DataFrame =
    pqAssignScored(subvecs, cb)
      .groupBy(col("vec_id"), col("sub"))
      .agg(min_by(struct(col("code"), col("subvec")), pqAssignOrder).as("cs"))
      .select(col("vec_id"), col("sub"),
        col("cs.code").as("code"), col("cs.subvec").as("subvec"))

  /** Per-subspace codebook of PqK centroids: deterministic md5-sampled
    * seeds (TakeOrderedAndProject — no full sort at scale) + one Lloyd
    * iteration. Seeds and their subvectors come from the checkpointed
    * `subvecs` (the md5 order depends only on vec_id, and the sliced
    * subvectors are the identical doubles), so the codebook no longer
    * re-derives the normalized corpus. cb0 is consumed exactly once — no
    * checkpoint; the reused result earns the eager materialization.
    */
  private[graft] def pqCodebook(subvecs: DataFrame): DataFrame = {
    // ranked within subspace 0, the seeds' own (single) partition: a
    // literal partition key would be optimised away and leave the window
    // unpartitioned, which Spark warns about on every pq build
    val seedOrder = Window.partitionBy(col("sub"))
      .orderBy(md5(concat(lit("pq:"), col("vec_id").cast("string"))), col("vec_id"))
    val seeds = subvecs.filter(col("sub") === 0)
      .select(col("sub"), col("vec_id"))
      .orderBy(md5(concat(lit("pq:"), col("vec_id").cast("string"))), col("vec_id"))
      .limit(PqK)
      .withColumn("code", row_number().over(seedOrder) - 1)
      .drop("sub")
    val cb0 = broadcast(seeds).join(subvecs, "vec_id")
      .select(col("sub"), col("code"), col("subvec").as("centroid"))
    // FLOAT-cast centroids (FAISS's float32 codebook shape): besides the
    // 4× table shrink, the re-round absorbs Spark's aggregation-order
    // noise in the mean (~1e-14 rel vs 6e-8 float ulp), which is what
    // makes the whole PQ chain — and therefore the q57/q63 oracles —
    // deterministic across engines (the q46 cellMeans argument)
    meanVectors(pqAssignKeepSubvec(subvecs, cb0), Seq("sub", "code"),
      "subvec", "centroid", toFloat = true)
      .localCheckpoint()
  }

  /** Per-query ADC tables: dot of each query subvector with each
    * centroid — queries × PqM × PqK rows, broadcastable by construction.
    */
  private[graft] def pqAdcTables(subvecs: DataFrame, cb: DataFrame): DataFrame =
    subvecs.filter(col("vec_id") < NQueries)
      .select(col("vec_id").as("q_id"), col("sub"), col("subvec").as("qsub"))
      .join(cb, "sub")
      .withColumn("pdot", dot(col("qsub"), col("centroid")))
      .select(col("q_id"), col("sub"), col("code"), col("pdot"))

  /** Exact cosine re-rank of a (q_id, vec_id) candidate list — the final
    * stage every compressed/blocked ANN variant shares. Touches only the
    * candidates.
    */
  private[graft] def exactRerank(cand: DataFrame, e: DataFrame): DataFrame = {
    val wE = Window.partitionBy("q_id").orderBy(col("cos").desc, col("vec_id"))
    cand
      .join(e.select(col("vec_id"), col("embedding")), "vec_id")
      .join(e.select(col("vec_id").as("q_id"), col("embedding").as("q_vec")), "q_id")
      .withColumn("cos", cosineSim(col("q_vec"), col("embedding")))
      .withColumn("rk", row_number().over(wE))
      .filter(col("rk") <= K)
      .select(col("q_id"), col("rk"), col("vec_id").as("neighbor_id"))
      .orderBy("q_id", "rk")
  }

  /** Corpus-adaptive SRP band width for the SELF-joining LSH queries
    * (q45/q62): a fixed width turns the bucket join quadratic once the
    * corpus outgrows its 2^bits bucket space, so the width tracks
    * ≈ log₂(n)−3 (clamped [8,16]) — buckets stay ~8 rows deep at any
    * scale, the way production LSH sizes its tables. Sized from the
    * parquet footer row count (a cached driver-side metadata read — a
    * df.count() would launch a scan job per query build); the planted
    * +20% doesn't move log₂. Per-query ANN banding (q34/q37) deliberately
    * does NOT use this: there the corpus side is probed by a fixed small
    * query set, so candidates stay linear in n per query and the band
    * width is a pure recall/cost dial.
    */
  private[graft] def srpBandBits(s: SparkSession, dir: String): Int =
    math.min(16, math.max(8,
      (math.log(Tables.rowCount(s, dir, "embeddings").toDouble) /
        math.log(2)).ceil.toInt - 3))

  /** ANN band width for a corpus of n vectors: ceil(log₂ n) − 5 clamped
    * to [4, 16] — buckets stay ~32-64 vectors deep at any corpus size
    * (deeper than srpBandBits' near-dup buckets: top-k candidate
    * generation at cos ≈ 0.3-0.4 needs candidate-rich buckets, where the
    * ≥0.95 near-dup verify only needs the dup to collide once). The
    * 16-bit cap matches the 16-seed stride between tables. The oracle
    * recomputes the same width from count(*) in SQL — both sides must use
    * THIS formula. Exposed per-count so the SRP maintenance can ask what
    * width a GROWN corpus would size — a width change is its rebuild
    * signal. */
  private[graft] def srpBitsFor(n: Long): Int =
    math.min(16, math.max(4,
      (math.log(n.toDouble) / math.log(2)).ceil.toInt - 5))

  private[graft] def srpAnnBits(s: SparkSession, dir: String): Int =
    srpBitsFor(Tables.rowCount(s, dir, "embeddings"))

  /** OR-construction width for q37: 8 independent tables, seeds 16·t
    * apart (table 0 = q34's band).
    */
  private[graft] val SrpAnnTables = 8

  /** OR-amplification of the near-dup SRP banding (q45, q62 and the
    * embedding admission gate): 3 tables, lossless at cosine ≥ 0.95. */
  private[graft] val SrpDedupTables = 3

  /** q62's corpus: embeddings + planted near-dup contamination (the q45
    * pattern — every 5th vector re-identified to +1_000_000, which draws
    * an independent md5 split, and perturbed with eps=0.02 hash noise),
    * each row tagged with its deterministic split.
    */
  private[graft] def leakCorpus(s: SparkSession, dir: String): DataFrame = {
    val base = Tables.embeddings(s, dir).select(col("vec_id"), col("embedding"))
    val planted = base.filter(col("vec_id") % 5 === 0)
      .select((col("vec_id") + 1000000L).as("vec_id"),
        perturbUdf(0.02)(col("embedding"), col("vec_id")).as("embedding"))
    base.unionByName(planted)
      .withColumn("split",
        graft.functions.TextFunctions.splitAssign(col("vec_id")))
  }

  /** q45's corpus: the embeddings table plus planted perturbed duplicates
    * (every 5th vector, re-id'd +1_000_000, deterministic hash noise) —
    * the corpus has no natural near-dups at cos ≥ 0.95, so the pipeline's
    * recall target is constructed and known.
    */
  private[graft] def neardupCorpus(s: SparkSession, dir: String): DataFrame = {
    val base = Tables.embeddings(s, dir)
      .select(col("vec_id"), col("embedding"), col("label"))
    val planted = base.filter(col("vec_id") % 5 === 0)
      .select((col("vec_id") + 1000000L).as("vec_id"),
        perturbUdf(0.02)(col("embedding"), col("vec_id")).as("embedding"),
        col("label"))
    base.unionByName(planted)
  }

  /** q45's verified near-dup pairs via SRP banding: three 8-bit tables
    * (rotations 0/16/32 — q62's lossless-at-0.95 geometry), bucket
    * self-join, exact-cosine verify. QueriesSpec compares this pair set
    * 1:1 against the exact O(n²) join.
    */
  private[graft] def neardupPairsLsh(s: SparkSession, dir: String,
      corpus: DataFrame): DataFrame =
    srpVerifiedPairs(corpus.select(col("vec_id"), col("embedding")),
      srpBandBits(s, dir))

  /** q62's pair stage, factored out so QueriesSpec can compare it
    * pair-for-pair against the exact-join recompute: SRP-banded
    * candidates (3 OR-amplified tables) → exact cosine ≥ 0.95 and
    * cross-split verify → dedup ([[srpVerifiedPairs]]). Shuffle key is
    * (table, bucket); Σ bucket² bounds the join — and because a FIXED
    * band width turns quadratic again once the corpus outgrows its
    * bucket space, the width adapts to corpus size (≈ log₂(n)−3 bits,
    * clamped to [8,16]): buckets stay ~8 rows deep at any scale, the way
    * production LSH sizes its tables. At the ≥0.95 verify threshold
    * per-plane collision ≈ 0.99, so per-pair miss is (1−0.99⁸)³ ≈ 5e-4
    * at 8 bits (measured lossless on the verify SFs, where the clamp
    * keeps 8 bits) and (1−0.99¹⁶)³ ≈ 3e-3 at the 16-bit cap — the
    * documented recall/cost dial of OR-amplified banding.
    */
  private[graft] def embeddingLeakPairsLsh(s: SparkSession, dir: String): DataFrame =
    srpVerifiedPairs(
      leakCorpus(s, dir).select(col("vec_id"), col("embedding"), col("split")),
      srpBandBits(s, dir), Some(col("a.split") =!= col("b.split")),
      Seq(col("a.split").as("s1"), col("b.split").as("s2")))

  /** The verified SRP pair stage q45 and q62 share: [[SrpDedupTables]]
    * band tables over `corpus` (vec_id, embedding, ...), a band self-join
    * that CARRIES the embedding, and the verify — cosine ≥ 0.95 and the
    * caller's pair predicate `pairCond` — BEFORE the cross-table repeats
    * dedup. Both are pure functions of the pair, so filtering first is
    * equivalent, and the dedup exchange then carries only the verified
    * survivors (a handful of 16-byte rows) instead of two 64-float
    * vectors per candidate — the shuffle-slimming of q37's candidate
    * pipeline, and why this is not the join-back core the gates share
    * ([[TextQueries.lshPairsFromDocs]]). Returns (d1 < d2, `carry`...).
    */
  private def srpVerifiedPairs(corpus: DataFrame, bits: Int,
      pairCond: Option[Column] = None, carry: Seq[Column] = Nil): DataFrame = {
    val banded = corpus.select(col("*"),
      srpBandKeys(col("embedding"), bits, SrpDedupTables).as("tb"))
    val verify = cosineSim(col("a.embedding"), col("b.embedding")) >= 0.95
    banded.as("a").join(banded.as("b"),
        col("a.tb") === col("b.tb") && col("a.vec_id") < col("b.vec_id"))
      .filter(pairCond.fold(verify)(_ && verify))
      .select(col("a.vec_id").as("d1") +: col("b.vec_id").as("d2") +: carry: _*)
      .dropDuplicates("d1", "d2")
  }

  /** The splitmix64-style hash chain (stages s0 → x3) over whatever
    * `pj(p, j)` seed CTE precedes it: shared by the SRP-bucket replay
    * (planes 0..9) and the perturbation replay (p = seed-derived per
    * planted vector). Expects a prior CTE named `pj`; ends with `x3(p, j,
    * h)`, h unsigned-in-HUGEINT.
    */
  private val splitmixStages: String =
    """s0 AS (
      |  SELECT p, j,
      |    (p * 11400714819323198485::HUGEINT + j * 13787848793156543929::HUGEINT)
      |      % 18446744073709551616::HUGEINT AS h
      |  FROM pj),
      |x1 AS (
      |  SELECT p, j,
      |    (CASE WHEN x < 0 THEN x::HUGEINT + 18446744073709551616::HUGEINT ELSE x::HUGEINT END) AS h
      |  FROM (SELECT p, j, xor(
      |      CAST(CASE WHEN h < 9223372036854775808::HUGEINT THEN h
      |                ELSE h - 18446744073709551616::HUGEINT END AS BIGINT),
      |      CAST(h // 1073741824 AS BIGINT)) AS x
      |    FROM s0) t),
      |m1 AS (
      |  SELECT p, j,
      |    ( ((h // 4294967296) * (13787848793156543929::HUGEINT % 4294967296)) % 4294967296 * 4294967296
      |      + (h % 4294967296) * 13787848793156543929::HUGEINT
      |    ) % 18446744073709551616::HUGEINT AS h
      |  FROM x1),
      |x2 AS (
      |  SELECT p, j,
      |    (CASE WHEN x < 0 THEN x::HUGEINT + 18446744073709551616::HUGEINT ELSE x::HUGEINT END) AS h
      |  FROM (SELECT p, j, xor(
      |      CAST(CASE WHEN h < 9223372036854775808::HUGEINT THEN h
      |                ELSE h - 18446744073709551616::HUGEINT END AS BIGINT),
      |      CAST(h // 134217728 AS BIGINT)) AS x
      |    FROM m1) t),
      |m2 AS (
      |  SELECT p, j,
      |    ( ((h // 4294967296) * (10723151780598845931::HUGEINT % 4294967296)) % 4294967296 * 4294967296
      |      + (h % 4294967296) * 10723151780598845931::HUGEINT
      |    ) % 18446744073709551616::HUGEINT AS h
      |  FROM x2),
      |x3 AS (
      |  SELECT p, j,
      |    (CASE WHEN x < 0 THEN x::HUGEINT + 18446744073709551616::HUGEINT ELSE x::HUGEINT END) AS h
      |  FROM (SELECT p, j, xor(
      |      CAST(CASE WHEN h < 9223372036854775808::HUGEINT THEN h
      |                ELSE h - 18446744073709551616::HUGEINT END AS BIGINT),
      |      CAST(h // 2147483648 AS BIGINT)) AS x
      |    FROM m2) t)""".stripMargin

  /** SRP banding replay for the ANN oracles — the shared CTE prefix of
    * q34/q37 — parameterized by table count: the adaptive band width
    * (srpAnnBits) is recomputed IN SQL from count(*), table t's planes
    * are the global seed range [16t, 16t+bits), hashed by the splitmix64
    * chain ([[splitmixStages]], VectorFunctions.hyperplaneComponent in
    * HUGEINT mod-2^64 arithmetic: multiplications split at 2^32 so the
    * 128-bit intermediate never overflows, xors routed through the signed
    * BIGINT bit pattern — the q30 FNV technique), and each (vec, table)
    * row gets its sign-bit bucket from IN-ORDER list dot products. Every
    * operation is integer or IEEE double arithmetic (no transcendentals),
    * so buckets and cosines are bit-identical across engines, which is
    * what lets a hash-seeded LSH query be hash-checked at all. Ends with
    * `eb(vec_id, embedding, t, bucket)`.
    */
  private def srpAnnCte(tables: Int): String =
    s"""WITH params AS (
      |  SELECT least(16, greatest(4, CAST(ceil(log2(count(*))) AS INT) - 5)) AS bits
      |  FROM embeddings),
      |pj AS (
      |  SELECT t1.p, t2.j
      |  FROM generate_series(0, ${tables * 16 - 1}) t1(p), generate_series(0, 63) t2(j)
      |  WHERE (t1.p % 16) < (SELECT bits FROM params)),
      |$splitmixStages,
      |planes AS (
      |  SELECT p, list(CAST(h // 2048 AS DOUBLE) / 9007199254740992.0 - 0.5 ORDER BY j) AS pw
      |  FROM x3 GROUP BY p),
      |dots AS (
      |  SELECT e.vec_id, pl.p,
      |    list_aggregate(list_transform(generate_series(1, len(e.embedding)),
      |      k -> CAST(e.embedding[k] AS DOUBLE) * pl.pw[k]), 'sum') AS s
      |  FROM embeddings e, planes pl),
      |tb AS (
      |  SELECT vec_id, CAST(p // 16 AS INT) AS t,
      |    CAST(sum(CASE WHEN s > 0 THEN (1::BIGINT << (p % 16)) ELSE 0 END) AS BIGINT) AS bucket
      |  FROM dots GROUP BY vec_id, p // 16),
      |eb AS (
      |  SELECT e.vec_id, e.embedding, b.t, b.bucket
      |  FROM embeddings e JOIN tb b ON b.vec_id = e.vec_id)""".stripMargin

  /** Candidate scoring + top-k tail shared by the q34/q37 oracles:
    * candidates join on (table, bucket) and dedup to one row per
    * (q_id, vec_id) — mirroring the Spark side's dropDuplicates before
    * scoring — then exact cosine with the kernel's accumulation order
    * (separate in-order dot and norm sums, division last),
    * (cos DESC, vec_id) ranking.
    */
  private val srpTopkTail: String =
    """,
      |cand AS (
      |  SELECT DISTINCT qs.q_id, qs.q_vec, eb.vec_id, eb.embedding
      |  FROM qs JOIN eb ON eb.t = qs.t AND eb.bucket = qs.bucket
      |    AND eb.vec_id <> qs.q_id),
      |scored AS (
      |  SELECT cand.q_id, cand.vec_id,
      |    CASE WHEN sqrt(aa) = 0 OR sqrt(bb) = 0 THEN 0.0
      |         ELSE dot / (sqrt(aa) * sqrt(bb)) END AS cos
      |  FROM cand,
      |  LATERAL (SELECT
      |    list_aggregate(list_transform(generate_series(1, least(len(cand.q_vec), len(cand.embedding))),
      |      k -> CAST(cand.q_vec[k] AS DOUBLE) * CAST(cand.embedding[k] AS DOUBLE)), 'sum') AS dot,
      |    list_aggregate(list_transform(generate_series(1, least(len(cand.q_vec), len(cand.embedding))),
      |      k -> CAST(cand.q_vec[k] AS DOUBLE) * CAST(cand.q_vec[k] AS DOUBLE)), 'sum') AS aa,
      |    list_aggregate(list_transform(generate_series(1, least(len(cand.q_vec), len(cand.embedding))),
      |      k -> CAST(cand.embedding[k] AS DOUBLE) * CAST(cand.embedding[k] AS DOUBLE)), 'sum') AS bb) d),
      |ranked AS (
      |  SELECT q_id, vec_id,
      |    row_number() OVER (PARTITION BY q_id ORDER BY cos DESC, vec_id ASC) AS rk
      |  FROM scored)
      |SELECT q_id, CAST(rk AS INT) AS rk, vec_id AS neighbor_id
      |FROM ranked WHERE rk <= 5 ORDER BY q_id, rk""".stripMargin

  /** Shared prefix of the q45/q62 oracles: the planted-duplicate corpus
    * replayed exactly — VectorFunctions.perturb's hash noise recomputed
    * through the splitmix chain (seed p = vec_id % 100000 + 7919 per
    * planted vector, component j gets 0.02·h(p,j) added then rounds to
    * FLOAT, both IEEE round-to-nearest), re-id'd +1_000_000, unioned with
    * the originals, and each row's md5 split drawn as in splitAssign.
    * Ends with `corpus(vec_id, embedding DOUBLE[], label, split)`. The
    * `pj` seed set also carries planes 0..47 (disjoint from the perturb
    * seeds, which are ≥ 7919) so the SAME hash chain feeds the banding
    * replay in srpBandingCtes.
    */
  private val perturbCorpusCte: String =
    s"""WITH pj AS (
      |  SELECT DISTINCT (vec_id % 100000) + 7919 AS p, t2.j
      |  FROM embeddings, generate_series(0, 63) t2(j)
      |  WHERE vec_id % 5 = 0
      |  UNION ALL
      |  SELECT t1.p, t2.j
      |  FROM generate_series(0, 47) t1(p), generate_series(0, 63) t2(j)),
      |$splitmixStages,
      |comp AS (
      |  SELECT p, j, CAST(h // 2048 AS DOUBLE) / 9007199254740992.0 - 0.5 AS c
      |  FROM x3),
      |pert AS (
      |  SELECT e.vec_id + 1000000 AS vec_id,
      |    list(CAST(CAST(e.embedding[c.j + 1] AS DOUBLE) + 0.02 * c.c AS FLOAT)
      |      ORDER BY c.j) AS embedding,
      |    any_value(e.label) AS label
      |  FROM embeddings e JOIN comp c ON c.p = (e.vec_id % 100000) + 7919
      |  WHERE e.vec_id % 5 = 0
      |  GROUP BY e.vec_id),
      |corpus AS (
      |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS embedding, label,
      |    CASE WHEN substring(md5('split:' || CAST(vec_id AS VARCHAR)), 1, 1) IN ('c','d') THEN 'valid'
      |         WHEN substring(md5('split:' || CAST(vec_id AS VARCHAR)), 1, 1) IN ('e','f') THEN 'test'
      |         ELSE 'train' END AS split
      |  FROM (SELECT vec_id, embedding, label FROM embeddings
      |        UNION ALL SELECT vec_id, embedding, label FROM pert) u)""".stripMargin

  /** The q45/q62 SRP-banding pipeline replayed over `corpus`, appended to
    * perturbCorpusCte: corpus-adaptive band width (srpBandBits' formula on
    * the base table count), three hash tables at plane offsets 0/16/32
    * (bit-identical buckets via the splitmix planes in `x3`), bucket
    * self-join candidates, exact-cosine ≥ 0.95 verify with the kernel's
    * accumulation order. Replaying the BANDING (not the exact join) keeps
    * the oracle valid at every SF — at sizes where the adaptive width
    * makes banding lossy-by-design, the oracle is lossy in exactly the
    * same pairs. Ends with `vpairs(d1, d2, s1, s2)`.
    */
  private lazy val srpBandingCtes: String =
    s""",
      |bits AS (
      |  SELECT LEAST(16, GREATEST(8,
      |    CAST(ceil(ln(count(*)) / ln(2)) AS INT) - 3)) AS b
      |  FROM embeddings),
      |planes AS (
      |  SELECT p, list(CAST(h // 2048 AS DOUBLE) / 9007199254740992.0 - 0.5 ORDER BY j) AS pw
      |  FROM x3 WHERE p < 48 GROUP BY p),
      |sgn AS (
      |  SELECT c.vec_id, pl.p,
      |    list_aggregate(list_transform(generate_series(1, len(c.embedding)),
      |      k -> c.embedding[k] * pl.pw[k]), 'sum') > 0 AS pos
      |  FROM corpus c, planes pl),
      |bkt AS (
      |  SELECT vec_id, tb.t,
      |    CAST(sum(CASE WHEN pos THEN (1::BIGINT << (p - tb.off)) ELSE 0 END) AS BIGINT) AS bucket
      |  FROM sgn, bits, (VALUES (0, 0), (1, 16), (2, 32)) tb(t, off)
      |  WHERE p >= tb.off AND p < tb.off + bits.b
      |  GROUP BY vec_id, tb.t),
      |cand AS (
      |  SELECT DISTINCT a.vec_id AS d1, b.vec_id AS d2
      |  FROM bkt a JOIN bkt b ON a.t = b.t AND a.bucket = b.bucket AND a.vec_id < b.vec_id),
      |vp_s AS (
      |  SELECT c.d1, c.d2, ca.split AS s1, cb.split AS s2, $duckCos AS cos
      |  FROM cand c JOIN corpus ca ON ca.vec_id = c.d1
      |  JOIN corpus cb ON cb.vec_id = c.d2,
      |  ${cosLateral("ca.embedding", "cb.embedding")}),
      |vpairs AS (SELECT d1, d2, s1, s2 FROM vp_s WHERE cos >= 0.95)""".stripMargin

  // ---- q46 oracle machinery: the IVF build replayed in SQL --------------
  //
  // The whole IVF index is deterministic given the corpus (corpus-sized
  // nlist, md5-ordered Forgy seeds, 2 fixed Lloyd iterations,
  // csim-DESC/cell-ASC tie-breaks), so
  // it IS oracle-able: each stage re-expressed with the kernel's exact
  // accumulation order (in-order double dot/norm sums — the q34 idiom).
  // The one cross-engine hazard, aggregation-order noise in the centroid
  // avg (Spark partial sums merge in shuffle order), is absorbed by
  // cellMeans' CAST TO FLOAT: the double avg is accurate to ~1e-14
  // relative while a float ulp is 6e-8, so both engines round to the same
  // float except with ~1e-6 probability per component.
  private val duckCos: String =
    "CASE WHEN sqrt(x.aa) = 0 OR sqrt(x.bb) = 0 THEN 0.0 " +
      "ELSE x.dot / (sqrt(x.aa) * sqrt(x.bb)) END"

  private def cosLateral(a: String, b: String): String =
    s"""LATERAL (SELECT
       |    list_aggregate(list_transform(generate_series(1, least(len($a), len($b))),
       |      k -> CAST($a[k] AS DOUBLE) * CAST($b[k] AS DOUBLE)), 'sum') AS dot,
       |    list_aggregate(list_transform(generate_series(1, least(len($a), len($b))),
       |      k -> CAST($a[k] AS DOUBLE) * CAST($a[k] AS DOUBLE)), 'sum') AS aa,
       |    list_aggregate(list_transform(generate_series(1, least(len($a), len($b))),
       |      k -> CAST($b[k] AS DOUBLE) * CAST($b[k] AS DOUBLE)), 'sum') AS bb) x""".stripMargin

  /** Per-key float-cast mean replay (cellMeans/superMeans): per-(key,
    * dim) double avg → FLOAT → in-dim-order list. */
  private def ivfMeansOver(src: String, key: String, vec: String,
      out: String): String =
    s"""$out AS (
       |  SELECT $key, list(cf ORDER BY d) AS centroid FROM (
       |    SELECT $key, d, CAST(avg(CAST(v AS DOUBLE)) AS FLOAT) AS cf
       |    FROM (SELECT $key, unnest(generate_series(1, len($vec))) - 1 AS d,
       |            unnest($vec) AS v
       |          FROM $src) u
       |    GROUP BY $key, d) g
       |  GROUP BY $key)""".stripMargin

  /** One super-quantizer Lloyd step replay over centroid table `cells`
    * (cells play the vector role; ssim DESC, super ASC ties; retention
    * as in the training Lloyd). Parameterized by the cell source (r17):
    * the super derivation now runs once per TRAINING iteration too, on
    * that iteration's centroids, not only once on the final c2. */
  private def ivfSuperStep(cells: String, prev: String, asg: String,
      next: String): String =
    s"""$asg AS (
       |  SELECT cell, super, centroid FROM (
       |    SELECT c.cell, s.super, c.centroid,
       |      row_number() OVER (PARTITION BY c.cell
       |        ORDER BY $duckCos DESC, s.super ASC) AS rk
       |    FROM $cells c, $prev s, ${cosLateral("c.centroid", "s.scentroid")}) t
       |  WHERE rk = 1),
       |${ivfMeansOver(asg, "super", "centroid", asg + "_m")},
       |$next AS MATERIALIZED (
       |  SELECT p.super, COALESCE(m.centroid, p.scentroid) AS scentroid
       |  FROM $prev p LEFT JOIN ${asg}_m m ON m.super = p.super)""".stripMargin

  /** The full two-level assignment of `srcRel` (vec_id, embedding rows)
    * against centroid table `cent`, replayed under prefix `p`: super
    * seeds = cells 0..nsuper−1 of `cent`, two retention Lloyd steps
    * over the centroids, each cell routed to its nearest super, hop 1 =
    * nearest LIVE super per vector (ssim DESC / super ASC — a super
    * with no member cells is excluded, exactly assignCells' left_semi),
    * hop 2 = nearest cell among that super's members (csim DESC / cell
    * ASC). Final assignment lands in `${p}a` (vec_id, cell, embedding,
    * cos). ONE assignment replay for every stage that assigns vectors —
    * the training iterations (r17) and the corpus tail both call this,
    * so the oracle cannot drift between them. */
  private def ivfTwoLevel(cent: String, srcRel: String, p: String,
      probes: Int = 1): String =
    s"""${p}s0 AS MATERIALIZED (SELECT cell AS super, centroid AS scentroid
       |       FROM $cent, nl WHERE cell < nl.nsuper),
       |${ivfSuperStep(cent, s"${p}s0", s"${p}t1", s"${p}s1")},
       |${ivfSuperStep(cent, s"${p}s1", s"${p}t2", s"${p}s2")},
       |${p}smap AS MATERIALIZED (
       |  SELECT cell, super FROM (
       |    SELECT c.cell, s.super,
       |      row_number() OVER (PARTITION BY c.cell
       |        ORDER BY $duckCos DESC, s.super ASC) AS rk
       |    FROM $cent c, ${p}s2 s, ${cosLateral("c.centroid", "s.scentroid")}) t
       |  WHERE rk = 1),
       |${p}vsup AS MATERIALIZED (
       |  SELECT vec_id, super, embedding FROM (
       |    SELECT e.vec_id, s.super, e.embedding,
       |      row_number() OVER (PARTITION BY e.vec_id
       |        ORDER BY $duckCos DESC, s.super ASC) AS rk
       |    FROM $srcRel e,
       |      (SELECT t2.super, t2.scentroid FROM ${p}s2 t2
       |       WHERE t2.super IN (SELECT DISTINCT super FROM ${p}smap)) s,
       |      ${cosLateral("e.embedding", "s.scentroid")}) t
       |  WHERE rk <= $probes),
       |${p}a AS MATERIALIZED (
       |  SELECT vec_id, cell, embedding, cos FROM (
       |    SELECT v.vec_id, m.cell, v.embedding, $duckCos AS cos,
       |      row_number() OVER (PARTITION BY v.vec_id
       |        ORDER BY $duckCos DESC, m.cell ASC) AS rk
       |    FROM ${p}vsup v JOIN ${p}smap m ON m.super = v.super
       |    JOIN $cent c ON c.cell = m.cell,
       |    ${cosLateral("v.embedding", "c.centroid")}) t
       |  WHERE rk = 1)""".stripMargin

  /** One training-Lloyd step replay (r17, two-level): the bounded
    * sample routes through [[ivfTwoLevel]] against `prev` — the SAME
    * hop the corpus assignment replays — then float-cast means and
    * empty-cell retention (retainEmpty's LEFT JOIN + COALESCE). */
  private def ivfLloydStep(prev: String, asg: String, next: String): String =
    s"""${ivfTwoLevel(prev, "ivsamp", asg, probes = IvfTrainProbes)},
       |${ivfMeansOver(asg + "a", "cell", "embedding", asg + "_m")},
       |$next AS MATERIALIZED (
       |  SELECT p.cell, COALESCE(m.centroid, p.centroid) AS centroid
       |  FROM $prev p LEFT JOIN ${asg}_m m ON m.cell = p.cell)""".stripMargin

  // The chain's checkpoint CTEs are AS MATERIALIZED: DuckDB inlines
  // plain CTEs per reference, and the retention LEFT JOIN makes every
  // Lloyd step reference its predecessor TWICE — inlined, the replay
  // cost is 2^depth times the Lloyd work (measured: the sf1 oracles
  // exhausted an 80 GB spill budget). Materialized, each stage runs
  // once, like the Spark side's per-iteration localCheckpoint.
  /** The whole IVF build replayed in SQL, mirroring [[trainCells]] +
    * [[superQuantizer]] + the two-level [[assignCells]]:
    *   - sizing: nlist = ceil(N / IvfTargetCellSize) (integer
    *     floor-division form — bit-exact vs the Scala ceil-div at any
    *     N), nsuper = ceil(sqrt(nlist)), sample = first
    *     min(N, IvfTrainPerCell·nlist) vectors in (md5('ivf:'||vec_id),
    *     vec_id) order — the sizing and the sample definition are part
    *     of the oracle-checked contract;
    *   - c0 = first-nlist Forgy seeds, two retention Lloyd steps over
    *     the sample → c2 (the trained centroid table) — each step
    *     routing the sample through the SAME two-level hop the corpus
    *     uses (r17: super derivation from that iteration's centroids,
    *     live-super hop 1, within-super hop 2 — [[ivfTwoLevel]]), so
    *     training replays at O(nlist^1.5) like the Spark side;
    *   - the corpus tail = [[ivfTwoLevel]] over c2 → a3 (vec_id, cell,
    *     embedding, winning csim as `cos`);
    *   - a3_s = exact query-side probe scores (every centroid, query
    *     vectors only) — what probeCells computes.
    */
  private lazy val ivfChain: String =
    s"""nl AS MATERIALIZED (
       |  SELECT CAST((count(*) + ${IvfTargetCellSize - 1}) // $IvfTargetCellSize AS INT) AS nlist,
       |    CAST(ceil(sqrt(CAST((count(*) + ${IvfTargetCellSize - 1}) // $IvfTargetCellSize AS INT))) AS INT) AS nsuper,
       |    LEAST(count(*), $IvfTrainPerCell * CAST((count(*) + ${IvfTargetCellSize - 1}) // $IvfTargetCellSize AS INT)) AS nsamp
       |  FROM embeddings),
       |ivord AS MATERIALIZED (
       |  SELECT vec_id, embedding,
       |    row_number() OVER (ORDER BY md5('ivf:' || CAST(vec_id AS VARCHAR)), vec_id) AS rk
       |  FROM embeddings),
       |ivsamp AS MATERIALIZED (SELECT vec_id, embedding FROM ivord, nl WHERE rk <= nl.nsamp),
       |c0 AS MATERIALIZED (SELECT rk - 1 AS cell, embedding AS centroid
       |       FROM ivord, nl WHERE rk <= nl.nlist),
       |${ivfLloydStep("c0", "ivl1", "c1")},
       |${ivfLloydStep("c1", "ivl2", "c2")},
       |${ivfTwoLevel("c2", "embeddings", "fin")},
       |a3 AS (SELECT vec_id, cell, embedding, cos FROM fina),
       |a3_s AS MATERIALIZED (
       |  SELECT e.vec_id, c.cell, e.embedding, $duckCos AS cos
       |  FROM embeddings e, c2 c, ${cosLateral("e.embedding", "c.centroid")}
       |  WHERE e.vec_id < $NQueries)""".stripMargin

  // ---- q57/q63 oracle machinery: the PQ chain replayed in SQL -----------
  //
  // Deterministic end-to-end once the codebook re-rounds to float and the
  // ADC sum re-rounds to float (see pqCodebook/q57 comments): normalize →
  // 8 subvectors → md5-ordered seeds → one Lloyd round (float-cast means)
  // → code assignment → per-query ADC tables. All dots/distances use the
  // kernel's in-order double accumulation. CTE names are p-prefixed so
  // q63 can compose this chain with the q46 IVF chain in one WITH.
  private lazy val pqCtes: String =
    s"""pnrm AS (
      |  SELECT vec_id, embedding,
      |    sqrt(list_aggregate(list_transform(generate_series(1, len(embedding)),
      |      k -> CAST(embedding[k] AS DOUBLE) * CAST(embedding[k] AS DOUBLE)), 'sum')) AS nrm
      |  FROM embeddings),
      |pnv AS (
      |  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE) / nrm) AS v
      |  FROM pnrm),
      |psv AS (
      |  SELECT vec_id, t.sub, v[t.sub * 8 + 1 : t.sub * 8 + 8] AS subvec
      |  FROM pnv, generate_series(0, 7) t(sub)),
      |pseeds AS (
      |  SELECT vec_id,
      |    row_number() OVER (ORDER BY md5('pq:' || CAST(vec_id AS VARCHAR)), vec_id) - 1 AS code
      |  FROM (SELECT vec_id FROM embeddings
      |        ORDER BY md5('pq:' || CAST(vec_id AS VARCHAR)), vec_id LIMIT 16) s),
      |pcb0 AS (
      |  SELECT s.code, v.sub, v.subvec AS centroid
      |  FROM pseeds s JOIN psv v ON v.vec_id = s.vec_id),
      |pas0 AS (
      |  SELECT v.vec_id, v.sub, c.code,
      |    list_aggregate(list_transform(generate_series(1, 8),
      |      k -> (v.subvec[k] - CAST(c.centroid[k] AS DOUBLE))
      |         * (v.subvec[k] - CAST(c.centroid[k] AS DOUBLE))), 'sum') AS d2
      |  FROM psv v JOIN pcb0 c ON c.sub = v.sub),
      |pa0 AS (
      |  SELECT vec_id, sub, code FROM (
      |    SELECT vec_id, sub, code,
      |      row_number() OVER (PARTITION BY vec_id, sub ORDER BY d2 ASC, code ASC) AS rk
      |    FROM pas0) t
      |  WHERE rk = 1),
      |pcb1 AS (
      |  SELECT sub, code, list(cf ORDER BY d) AS centroid FROM (
      |    SELECT sub, code, d, CAST(avg(x) AS FLOAT) AS cf FROM (
      |      SELECT a.sub, a.code, unnest(generate_series(1, 8)) - 1 AS d,
      |        unnest(v.subvec) AS x
      |      FROM pa0 a JOIN psv v ON v.vec_id = a.vec_id AND v.sub = a.sub) u
      |    GROUP BY sub, code, d) g
      |  GROUP BY sub, code),
      |pas1 AS (
      |  SELECT v.vec_id, v.sub, c.code,
      |    list_aggregate(list_transform(generate_series(1, 8),
      |      k -> (v.subvec[k] - CAST(c.centroid[k] AS DOUBLE))
      |         * (v.subvec[k] - CAST(c.centroid[k] AS DOUBLE))), 'sum') AS d2
      |  FROM psv v JOIN pcb1 c ON c.sub = v.sub),
      |pcodes AS (
      |  SELECT vec_id, sub, code FROM (
      |    SELECT vec_id, sub, code,
      |      row_number() OVER (PARTITION BY vec_id, sub ORDER BY d2 ASC, code ASC) AS rk
      |    FROM pas1) t
      |  WHERE rk = 1),
      |padc AS (
      |  SELECT q.vec_id AS q_id, q.sub, c.code,
      |    list_aggregate(list_transform(generate_series(1, 8),
      |      k -> q.subvec[k] * CAST(c.centroid[k] AS DOUBLE)), 'sum') AS pdot
      |  FROM psv q JOIN pcb1 c ON c.sub = q.sub WHERE q.vec_id < 20)""".stripMargin

  /** Candidate top-PqRerank by float-rounded ADC sum → exact-cosine top-5 (the
    * exactRerank tail), shared by the q57/q63 oracles. Expects `apx(q_id,
    * vec_id, approx)`. */
  private lazy val pqRerankTail: String =
    s""",
      |cnd AS (
      |  SELECT q_id, vec_id FROM (
      |    SELECT q_id, vec_id,
      |      row_number() OVER (PARTITION BY q_id ORDER BY approx DESC, vec_id ASC) AS crk
      |    FROM apx) t
      |  WHERE crk <= $PqRerank),
      |rr AS (
      |  SELECT c.q_id, c.vec_id, $duckCos AS cos
      |  FROM cnd c JOIN embeddings q ON q.vec_id = c.q_id
      |  JOIN embeddings v ON v.vec_id = c.vec_id,
      |  ${cosLateral("q.embedding", "v.embedding")})
      |SELECT q_id, CAST(rk AS INT) AS rk, vec_id AS neighbor_id FROM (
      |  SELECT q_id, vec_id,
      |    row_number() OVER (PARTITION BY q_id ORDER BY cos DESC, vec_id ASC) AS rk
      |  FROM rr) t
      |WHERE rk <= 5 ORDER BY q_id, rk""".stripMargin

  val oracles: Map[String, String] = Map(
    // hash-seeded LSH made hash-checkable: see srpAnnCte (single table,
    // adaptive band width recomputed from count(*))
    "q34_ann_srp" -> (srpAnnCte(1) +
      """,
        |qs AS (SELECT vec_id AS q_id, embedding AS q_vec, t, bucket FROM eb WHERE vec_id < 20)""".stripMargin
      + srpTopkTail),

    // q34's band ×8 tables (seeds 16·t apart) + hamming-1 probing per
    // table: the query side expands to each table's own bucket plus every
    // one-bit-flipped neighbor (probe index 0 = no flip, i flips bit i−1,
    // only i ≤ bits survive); candidates dedup in the shared tail
    "q37_ann_srp_multiprobe" -> (srpAnnCte(8) +
      """,
        |qs0 AS (SELECT vec_id AS q_id, embedding AS q_vec, t, bucket FROM eb WHERE vec_id < 20),
        |qs AS (
        |  SELECT q_id, q_vec, t,
        |    CASE WHEN pr.i = 0 THEN bucket
        |         ELSE xor(bucket, CAST(1 AS BIGINT) << (pr.i - 1)) END AS bucket
        |  FROM qs0, generate_series(0, 16) pr(i), params
        |  WHERE pr.i <= params.bits)""".stripMargin
      + srpTopkTail),
    "q32_embedding_norms" ->
      """WITH n AS (
        |  SELECT label,
        |    sqrt(list_sum(list_transform(CAST(embedding AS DOUBLE[]), x -> x * x))) AS nrm
        |  FROM embeddings)
        |SELECT label, count(*) AS n, round(avg(nrm), 4) AS avg_norm,
        |  round(max(nrm), 4) AS max_norm
        |FROM n GROUP BY 1 ORDER BY 1""".stripMargin,

    "q33_ann_bruteforce" ->
      """SELECT q_id, CAST(rk AS INT) AS rk, neighbor_id FROM (
        |  SELECT q.vec_id AS q_id, e.vec_id AS neighbor_id,
        |    row_number() OVER (PARTITION BY q.vec_id ORDER BY
        |      list_cosine_similarity(CAST(q.embedding AS DOUBLE[]),
        |                             CAST(e.embedding AS DOUBLE[])) DESC,
        |      e.vec_id) AS rk
        |  FROM embeddings q JOIN embeddings e ON e.vec_id <> q.vec_id
        |  WHERE q.vec_id < 20) t
        |WHERE rk <= 5 ORDER BY q_id, rk""".stripMargin,

    "q44_cosine_neardup" ->
      """SELECT a.vec_id AS d1, b.vec_id AS d2,
        |  round(list_cosine_similarity(CAST(a.embedding AS DOUBLE[]),
        |                               CAST(b.embedding AS DOUBLE[])), 4) AS cos
        |FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
        |WHERE list_cosine_similarity(CAST(a.embedding AS DOUBLE[]),
        |                             CAST(b.embedding AS DOUBLE[])) >= 0.35
        |ORDER BY 1, 2""".stripMargin,

    // the PQ chain + corpus-linear ADC + rerank replayed end-to-end
    "q57_ann_pq" -> (
      s"""WITH $pqCtes,
         |apx AS (
         |  SELECT a.q_id, v.vec_id, CAST(sum(a.pdot) AS FLOAT) AS approx
         |  FROM pcodes v JOIN padc a ON a.sub = v.sub AND a.code = v.code
         |  WHERE v.vec_id <> a.q_id
         |  GROUP BY 1, 2)""".stripMargin + pqRerankTail),

    // the full IVF-PQ composition: q46's cell chain + q57's PQ chain in
    // one WITH, ADC restricted to each query's nprobe=4 probed cells
    "q63_ann_ivfpq" -> (
      s"""WITH $ivfChain,
         |probes4 AS (
         |  SELECT vec_id AS q_id, cell FROM (
         |    SELECT vec_id, cell,
         |      row_number() OVER (PARTITION BY vec_id ORDER BY cos DESC, cell ASC) AS rk
         |    FROM a3_s WHERE vec_id < 20) t
         |  WHERE rk <= 4),
         |$pqCtes,
         |apx AS (
         |  SELECT a.q_id, v.vec_id, CAST(sum(a.pdot) AS FLOAT) AS approx
         |  FROM pcodes v
         |  JOIN a3 cf ON cf.vec_id = v.vec_id
         |  JOIN probes4 p ON p.cell = cf.cell AND v.vec_id <> p.q_id
         |  JOIN padc a ON a.q_id = p.q_id AND a.sub = v.sub AND a.code = v.code
         |  GROUP BY 1, 2)""".stripMargin + pqRerankTail),

    // the IVF build + probe + rerank replayed end-to-end: corpus-sized
    // nlist + Forgy seeds, 2 Lloyd iterations, final assignment, nprobe=3 probes from
    // the same score table, exact-cosine top-5 within probed cells
    "q46_ann_ivf" -> (
      s"""WITH $ivfChain,
         |probes AS (
         |  SELECT vec_id AS q_id, cell FROM (
         |    SELECT vec_id, cell,
         |      row_number() OVER (PARTITION BY vec_id ORDER BY cos DESC, cell ASC) AS rk
         |    FROM a3_s WHERE vec_id < 20) t
         |  WHERE rk <= 3),
         |scored AS (
         |  SELECT p.q_id, a.vec_id, $duckCos AS cos
         |  FROM a3 a JOIN probes p ON a.cell = p.cell AND a.vec_id <> p.q_id
         |  JOIN embeddings q ON q.vec_id = p.q_id,
         |  ${cosLateral("q.embedding", "a.embedding")}),
         |ranked AS (
         |  SELECT q_id, vec_id,
         |    row_number() OVER (PARTITION BY q_id ORDER BY cos DESC, vec_id ASC) AS rk
         |  FROM scored)
         |SELECT q_id, CAST(rk AS INT) AS rk, vec_id AS neighbor_id
         |FROM ranked WHERE rk <= 5 ORDER BY q_id, rk""".stripMargin),

    // both argmaxes as rank-1 windows over the replayed in-order cosine;
    // the neg window ranks only the sub-band rows (the sentinel's SQL twin)
    "q93_triplet_mining" -> (
      s"""WITH a AS (SELECT vec_id AS q_id, embedding AS q_vec FROM embeddings
         |           WHERE vec_id < $NQueries),
         |sc AS (
         |  SELECT a.q_id, e.vec_id, $duckCos AS cos
         |  FROM embeddings e, a, ${cosLateral("a.q_vec", "e.embedding")}
         |  WHERE e.vec_id <> a.q_id),
         |pos AS (
         |  SELECT q_id, vec_id AS pos_id, cos AS pc FROM (
         |    SELECT q_id, vec_id, cos,
         |      row_number() OVER (PARTITION BY q_id ORDER BY cos DESC, vec_id ASC) AS rk
         |    FROM sc) t WHERE rk = 1),
         |neg AS (
         |  SELECT q_id, vec_id AS neg_id, cos AS nc FROM (
         |    SELECT q_id, vec_id, cos,
         |      row_number() OVER (PARTITION BY q_id ORDER BY cos DESC, vec_id ASC) AS rk
         |    FROM sc WHERE cos < 0.2) t WHERE rk = 1)
         |SELECT p.q_id, p.pos_id, round(p.pc, 4) AS pos_cos,
         |  n.neg_id, round(n.nc, 4) AS neg_cos,
         |  round(p.pc - n.nc, 4) AS margin
         |FROM pos p JOIN neg n USING (q_id) ORDER BY q_id""".stripMargin),

    // the q46 Lloyd-chain replay composed with q65's hex-bucket sampling
    // replay: census + flatten target over the final assignment a3
    "q91_cluster_balanced_sample" -> (
      s"""WITH $ivfChain,
         |census AS (SELECT cell, count(*) AS n_total FROM a3 GROUP BY cell),
         |r AS (
         |  SELECT cell, n_total,
         |    round(least(1.0,
         |      ceil(CAST((SELECT sum(n_total) FROM census) AS DOUBLE)
         |           / (SELECT count(*) FROM census)) / n_total), 4) AS sample_rate
         |  FROM census),
         |k AS (
         |  SELECT a.cell, a.vec_id, r.n_total, r.sample_rate,
         |    (((strpos('0123456789abcdef', substring(h,1,1))-1)*4096
         |     +(strpos('0123456789abcdef', substring(h,2,1))-1)*256
         |     +(strpos('0123456789abcdef', substring(h,3,1))-1)*16
         |     +(strpos('0123456789abcdef', substring(h,4,1))-1)) / 65536.0)
         |      < r.sample_rate AS keep
         |  FROM (SELECT cell, vec_id,
         |          substring(md5('cbsample:' || CAST(vec_id AS VARCHAR)), 1, 4) AS h
         |        FROM a3) a JOIN r USING (cell))
         |SELECT cell, CAST(max(n_total) AS BIGINT) AS n_total,
         |  min(sample_rate) AS sample_rate,
         |  CAST(sum(CASE WHEN keep THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
         |  CAST(coalesce(sum(CASE WHEN keep THEN vec_id END), 0) AS BIGINT) AS id_checksum
         |FROM k GROUP BY cell ORDER BY cell""".stripMargin),

    // hash-seeded planted-dup dedup made hash-checkable end-to-end:
    // perturbation replayed via perturbCorpusCte, then the FULL banded
    // pipeline (adaptive width, 3 tables, bucket join, cosine verify)
    // replayed bit-for-bit via srpBandingCtes — valid at every SF, not
    // just where banding is lossless
    "q45_cosine_neardup_keep" -> (perturbCorpusCte + srpBandingCtes +
      """,
        |dup AS (SELECT DISTINCT d2 AS vec_id FROM vpairs)
        |SELECT label, count(*) AS n_kept, CAST(sum(vec_id) AS BIGINT) AS id_checksum
        |FROM corpus WHERE vec_id NOT IN (SELECT vec_id FROM dup)
        |GROUP BY label ORDER BY label""".stripMargin),

    // same corpus + banding replay, plus the cross-split filter and q56's
    // output shape
    "q62_embedding_leakage_lsh" -> (perturbCorpusCte + srpBandingCtes +
      """
        |SELECT least(s1, s2) || '|' || greatest(s1, s2) AS leak_pair,
        |  count(*) AS n_pairs, CAST(sum(d1 + d2) AS BIGINT) AS id_checksum
        |FROM vpairs WHERE s1 <> s2 GROUP BY 1 ORDER BY 1""".stripMargin),

    "q56_embedding_leakage" ->
      """WITH sp AS (
        |  SELECT vec_id, embedding,
        |    CASE WHEN substring(md5('split:' || CAST(vec_id AS VARCHAR)), 1, 1) IN ('c','d') THEN 'valid'
        |         WHEN substring(md5('split:' || CAST(vec_id AS VARCHAR)), 1, 1) IN ('e','f') THEN 'test'
        |         ELSE 'train' END AS split
        |  FROM embeddings),
        |leaks AS (
        |  SELECT array_to_string(list_sort([a.split, b.split]), '|') AS leak_pair,
        |    a.vec_id AS d1, b.vec_id AS d2
        |  FROM sp a JOIN sp b ON a.vec_id < b.vec_id AND a.split <> b.split
        |  WHERE list_cosine_similarity(CAST(a.embedding AS DOUBLE[]),
        |                               CAST(b.embedding AS DOUBLE[])) >= 0.35)
        |SELECT leak_pair, count(*) AS n_pairs,
        |  CAST(sum(d1 + d2) AS BIGINT) AS id_checksum
        |FROM leaks GROUP BY 1 ORDER BY 1""".stripMargin,

    "q35_label_centroids" ->
      """SELECT label, CAST(dim - 1 AS INT) AS dim,
        |  round(avg(CAST(x AS DOUBLE)), 6) AS centroid_val
        |FROM (SELECT label, unnest(embedding) AS x,
        |        generate_subscripts(embedding, 1) AS dim
        |      FROM embeddings) t
        |WHERE dim <= 4
        |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,

    "q50_multimodal_frames" ->
      """WITH d AS (
        |  SELECT doc_id, CAST(octet_length(encode(text)) AS INT) AS n_bytes
        |  FROM documents),
        |dims AS (
        |  SELECT doc_id,
        |    CAST(64 + n_bytes % 64 AS INT) AS w,
        |    CAST(64 + (n_bytes // 64) % 64 AS INT) AS h,
        |    CAST(n_bytes // 100 + 1 AS INT) AS n_frames
        |  FROM d)
        |SELECT doc_id, CAST(f AS INT) AS frame_idx,
        |  CAST((w * 32) // greatest(w, h) AS INT) AS rw,
        |  CAST((h * 32) // greatest(w, h) AS INT) AS rh
        |FROM dims, LATERAL (SELECT unnest(generate_series(0, n_frames - 1, 5)) AS f) g
        |ORDER BY doc_id, frame_idx""".stripMargin,

    "q36_multimodal_features" ->
      """SELECT doc_id, CAST(octet_length(encode(text)) AS INT) AS n_bytes,
        |  CAST(64 + octet_length(encode(text)) % 64 AS INT) AS fake_width,
        |  CAST(64 + (octet_length(encode(text)) // 64) % 64 AS INT) AS fake_height,
        |  lang
        |FROM documents ORDER BY doc_id""".stripMargin,

    // the q46 Lloyd chain composed with class-based TF-IDF over the
    // documents that have an embedding (doc_id = vec_id)
    "q95_cluster_topics" -> (
      s"""WITH $ivfChain,
         |toks AS (
         |  SELECT d.doc_id, a.cell,
         |    list_filter(string_split_regex(trim(regexp_replace(lower(d.text), '[^a-z ]', ' ', 'g')), '\\s+'), x -> len(x) > 0) AS t
         |  FROM documents d JOIN a3 a ON a.vec_id = d.doc_id),
         |szs AS (SELECT cell, count(*) AS n_docs FROM toks GROUP BY 1),
         |tf AS (
         |  SELECT cell, token, count(*) AS tf
         |  FROM (SELECT cell, unnest(t) AS token FROM toks)
         |  GROUP BY 1, 2),
         |cdf AS (SELECT token, count(*) AS cdf FROM tf GROUP BY 1),
         |nc AS (SELECT count(DISTINCT cell) AS ncells
         |       FROM (SELECT cell FROM a3 JOIN documents d ON d.doc_id = a3.vec_id)),
         |sc AS (
         |  SELECT cell, token,
         |    CAST(tf AS DOUBLE) * ln(CAST(ncells AS DOUBLE) / cdf) AS score
         |  FROM tf JOIN cdf USING (token), nc)
         |SELECT cell, n_docs, CAST(rk AS INT) AS rk, token,
         |  round(score, 4) AS ctfidf
         |FROM (SELECT cell, token, score,
         |        row_number() OVER (PARTITION BY cell ORDER BY score DESC, token) AS rk
         |      FROM sc) r
         |JOIN szs USING (cell)
         |WHERE rk <= 3 ORDER BY cell, rk""".stripMargin),

    // the q33 exact chain + a votes-desc/label-asc rank-1 majority window
    "q96_knn_label_eval" ->
      """WITH nn AS (
        |  SELECT q_id, true_label, label FROM (
        |    SELECT q.vec_id AS q_id, q.label AS true_label, e.label AS label,
        |      row_number() OVER (PARTITION BY q.vec_id ORDER BY
        |        list_cosine_similarity(CAST(q.embedding AS DOUBLE[]),
        |                               CAST(e.embedding AS DOUBLE[])) DESC,
        |        e.vec_id) AS rk
        |    FROM embeddings q JOIN embeddings e ON e.vec_id <> q.vec_id
        |    WHERE q.vec_id < 20) t
        |  WHERE rk <= 5),
        |v AS (SELECT q_id, true_label, label, count(*) AS votes
        |      FROM nn GROUP BY 1, 2, 3)
        |SELECT q_id, true_label, label AS pred_label, votes,
        |  CASE WHEN label = true_label THEN 1 ELSE 0 END AS correct
        |FROM (SELECT q_id, true_label, label, votes,
        |        row_number() OVER (PARTITION BY q_id ORDER BY votes DESC, label) AS vrk
        |      FROM v) r
        |WHERE vrk = 1 ORDER BY q_id""".stripMargin,

    // both rankers replayed (q33 cosine chain + the q94 BM25 scorer with
    // per-anchor 8-term idf selection), fused with integer-rank RRF
    "q99_hybrid_rrf" ->
      """WITH toks AS (
        |  SELECT doc_id, list_filter(string_split_regex(trim(regexp_replace(lower(text), '[^a-z ]', ' ', 'g')), '\s+'), x -> len(x) > 0) AS t
        |  FROM documents),
        |n AS (SELECT count(*) AS nd FROM documents),
        |dft AS (
        |  SELECT token, count(*) AS df
        |  FROM (SELECT doc_id, unnest(list_distinct(t)) AS token FROM toks)
        |  GROUP BY 1),
        |qsel AS (
        |  SELECT q_id, token, idf FROM (
        |    SELECT q.q_id, q.token,
        |      ln((n.nd - d.df + 0.5) / (d.df + 0.5) + 1.0) AS idf,
        |      row_number() OVER (PARTITION BY q.q_id
        |        ORDER BY ln((n.nd - d.df + 0.5) / (d.df + 0.5) + 1.0) DESC, q.token) AS trk
        |    FROM (SELECT doc_id AS q_id, unnest(list_distinct(t)) AS token
        |          FROM toks WHERE doc_id < 20) q
        |    JOIN dft d USING(token) CROSS JOIN n) s
        |  WHERE trk <= 8),
        |lens AS (SELECT doc_id, len(t) AS dl FROM toks),
        |ad AS (SELECT avg(dl) AS avgdl FROM lens),
        |tf AS (
        |  SELECT doc_id, token, count(*) AS tf
        |  FROM (SELECT doc_id, unnest(t) AS token FROM toks) GROUP BY 1, 2),
        |lex0 AS (
        |  SELECT qs.q_id, tf.doc_id,
        |    CAST(sum(qs.idf * (tf.tf * 2.2) /
        |      (tf.tf + 1.2 * (0.25 + 0.75 * (lens.dl / ad.avgdl)))) AS FLOAT) AS score
        |  FROM tf JOIN qsel qs USING(token)
        |  JOIN lens ON tf.doc_id = lens.doc_id CROSS JOIN ad
        |  WHERE tf.doc_id <> qs.q_id GROUP BY 1, 2),
        |lex AS (
        |  SELECT q_id, doc_id, r_lex FROM (
        |    SELECT q_id, doc_id,
        |      row_number() OVER (PARTITION BY q_id ORDER BY score DESC, doc_id) AS r_lex
        |    FROM lex0) s
        |  WHERE r_lex <= 20),
        |den AS (
        |  SELECT q_id, doc_id, r_dense FROM (
        |    SELECT q.vec_id AS q_id, e.vec_id AS doc_id,
        |      row_number() OVER (PARTITION BY q.vec_id ORDER BY
        |        list_cosine_similarity(CAST(q.embedding AS DOUBLE[]),
        |                               CAST(e.embedding AS DOUBLE[])) DESC,
        |        e.vec_id) AS r_dense
        |    FROM embeddings q JOIN embeddings e ON e.vec_id <> q.vec_id
        |    WHERE q.vec_id < 20) s
        |  WHERE r_dense <= 20),
        |fused AS (
        |  SELECT coalesce(d.q_id, l.q_id) AS q_id,
        |    coalesce(d.doc_id, l.doc_id) AS doc_id,
        |    coalesce(1.0 / (60 + d.r_dense), 0) +
        |      coalesce(1.0 / (60 + l.r_lex), 0) AS rrf
        |  FROM den d FULL OUTER JOIN lex l
        |    ON d.q_id = l.q_id AND d.doc_id = l.doc_id)
        |SELECT q_id, CAST(rk AS INT) AS rk, doc_id, round(rrf, 6) AS rrf
        |FROM (SELECT q_id, doc_id, rrf,
        |        row_number() OVER (PARTITION BY q_id ORDER BY rrf DESC, doc_id) AS rk
        |      FROM fused) f
        |WHERE rk <= 5 ORDER BY q_id, rk""".stripMargin,

    // the q99 lexical chain + cosine verify + per-anchor rank replayed
    "q103_hard_negatives" ->
      """WITH toks AS (
        |  SELECT doc_id, list_filter(string_split_regex(trim(regexp_replace(lower(text), '[^a-z ]', ' ', 'g')), '\s+'), x -> len(x) > 0) AS t
        |  FROM documents),
        |n AS (SELECT count(*) AS nd FROM documents),
        |dft AS (
        |  SELECT token, count(*) AS df
        |  FROM (SELECT doc_id, unnest(list_distinct(t)) AS token FROM toks)
        |  GROUP BY 1),
        |qsel AS (
        |  SELECT q_id, token, idf FROM (
        |    SELECT q.q_id, q.token,
        |      ln((n.nd - d.df + 0.5) / (d.df + 0.5) + 1.0) AS idf,
        |      row_number() OVER (PARTITION BY q.q_id
        |        ORDER BY ln((n.nd - d.df + 0.5) / (d.df + 0.5) + 1.0) DESC, q.token) AS trk
        |    FROM (SELECT doc_id AS q_id, unnest(list_distinct(t)) AS token
        |          FROM toks WHERE doc_id < 20) q
        |    JOIN dft d USING(token) CROSS JOIN n) s
        |  WHERE trk <= 8),
        |lens AS (SELECT doc_id, len(t) AS dl FROM toks),
        |ad AS (SELECT avg(dl) AS avgdl FROM lens),
        |tf AS (
        |  SELECT doc_id, token, count(*) AS tf
        |  FROM (SELECT doc_id, unnest(t) AS token FROM toks) GROUP BY 1, 2),
        |lex0 AS (
        |  SELECT qs.q_id, tf.doc_id,
        |    CAST(sum(qs.idf * (tf.tf * 2.2) /
        |      (tf.tf + 1.2 * (0.25 + 0.75 * (lens.dl / ad.avgdl)))) AS FLOAT) AS score
        |  FROM tf JOIN qsel qs USING(token)
        |  JOIN lens ON tf.doc_id = lens.doc_id CROSS JOIN ad
        |  WHERE tf.doc_id <> qs.q_id GROUP BY 1, 2),
        |lex AS (
        |  SELECT q_id, doc_id, r_lex FROM (
        |    SELECT q_id, doc_id,
        |      row_number() OVER (PARTITION BY q_id ORDER BY score DESC, doc_id) AS r_lex
        |    FROM lex0) s
        |  WHERE r_lex <= 20),
        |vc AS (
        |  SELECT l.q_id, l.doc_id, l.r_lex,
        |    list_cosine_similarity(CAST(q.embedding AS DOUBLE[]),
        |                           CAST(e.embedding AS DOUBLE[])) AS c
        |  FROM lex l JOIN embeddings q ON q.vec_id = l.q_id
        |  JOIN embeddings e ON e.vec_id = l.doc_id
        |  WHERE list_cosine_similarity(CAST(q.embedding AS DOUBLE[]),
        |                               CAST(e.embedding AS DOUBLE[])) < 0.35)
        |SELECT q_id, CAST(hn_rank AS INT) AS hn_rank, doc_id,
        |  CAST(r_lex AS INT) AS r_lex, round(c, 4) AS cos
        |FROM (SELECT q_id, doc_id, r_lex, c,
        |        row_number() OVER (PARTITION BY q_id ORDER BY r_lex) AS hn_rank
        |      FROM vc) h
        |WHERE hn_rank <= 3 ORDER BY q_id, hn_rank""".stripMargin,

    // the per-label prototype means + cosine verify replayed
    "q105_label_outliers" ->
      """WITH e AS (
        |  SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
        |d AS (
        |  SELECT label, u.i AS dim, u.x
        |  FROM e, LATERAL (SELECT unnest(v) AS x,
        |                          unnest(generate_series(1, len(v))) AS i) u),
        |c AS (
        |  SELECT label, list(m ORDER BY dim) AS proto
        |  FROM (SELECT label, dim, avg(x) AS m FROM d GROUP BY 1, 2)
        |  GROUP BY 1),
        |s AS (
        |  SELECT e.label, list_cosine_similarity(e.v, c.proto) AS cos
        |  FROM e JOIN c USING(label))
        |SELECT label, count(*) AS n,
        |  CAST(sum(CASE WHEN cos < 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_outliers,
        |  round(avg(cos), 4) AS avg_cos,
        |  round(min(cos), 4) AS min_cos
        |FROM s GROUP BY 1 ORDER BY 1""".stripMargin,

    // the q46 Lloyd-chain replay + per-cell pairwise cosine + the
    // keep-least-prototypical rule; own-centroid csim carried on the
    // two-level assignment itself (a3.cos IS the winning csim)
    "q119_semdedup" -> (
      s"""WITH $ivfChain,
         |own AS (
         |  SELECT vec_id, cell, embedding, cos AS csim FROM a3),
         |prs AS (
         |  SELECT a.vec_id AS id_a, b.vec_id AS id_b,
         |    a.csim AS cs_a, b.csim AS cs_b,
         |    list_cosine_similarity(CAST(a.embedding AS DOUBLE[]),
         |                           CAST(b.embedding AS DOUBLE[])) AS cos
         |  FROM own a JOIN own b ON a.cell = b.cell AND a.vec_id < b.vec_id),
         |drops AS (
         |  SELECT DISTINCT CASE WHEN cs_a > cs_b OR (cs_a = cs_b AND id_a > id_b)
         |    THEN id_a ELSE id_b END AS vec_id
         |  FROM prs WHERE cos >= 0.35)
         |SELECT o.vec_id, o.cell, (d.vec_id IS NOT NULL) AS dropped,
         |  round(o.csim, 4) AS csim
         |FROM own o LEFT JOIN drops d USING(vec_id) ORDER BY o.vec_id""".stripMargin)
  )
}
