package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.{Window, WindowSpec}
import graft.Tables
import graft.functions.TextFunctions._

/** Text analysis + deduplication over the `documents` table — the
  * training-data-pipeline operator family (exact dedup, shingle-Jaccard,
  * MinHash+LSH, SimHash, fingerprinting, quality, lang-ID, token stats).
  *
  * Scale design: every dedup variant is expressed as explode → shuffle on a
  * compact key (shingle / band bucket / simhash band) → bounded self-join
  * within key groups. No pairwise O(n²) over the corpus; candidate
  * generation cost is Σ bucket² which LSH keeps near-linear. At 100 TB
  * you'd additionally drop ultra-frequent shingles (stopword-shingle skew)
  * — noted inline where it applies.
  */
object TextQueries {

  type Q = (SparkSession, String) => DataFrame

  /** (doc_id, shingle) distinct word-3-gram pairs. */
  private def shingled(s: SparkSession, dir: String): DataFrame = {
    Tables.documents(s, dir)
      .select(col("doc_id"), explode(wordNgramsUdf(3)(col("text"))).as("s"))
      .distinct()
  }

  /** (doc_id, shingles) → LSH band table (bucket, doc_id). The fused
    * native expression replaces the minhashUdf→lshBandsUdf chain with
    * one codegen call; bucket keys are string-identical — see
    * TextExpressions (incl. the honest perf note).
    */
  private[graft] def bandedOf(docs: DataFrame, numHashes: Int = 64,
      bands: Int = 32, rows: Int = 2): DataFrame =
    docs.select(col("doc_id"), minhashBands(numHashes, bands, rows).as("bucket"))

  /** A doc's exploded MinHash band keys over its `shingles` — the band-key
    * column of [[bandedOf]] and of the streaming near-dup gate. */
  private[graft] def minhashBands(numHashes: Int, bands: Int, rows: Int): Column =
    explode(graft.functions.expressions.TextExpressions
      .minhashBandKeysExpr(col("shingles"), numHashes, bands, rows))

  /** SimHash banding width for the production keep-decision (q124):
    * bits per band over the 64-bit signature, bands = 64/bits. A REAL
    * session conf (the hop-2-broadcast pattern — the r16 verdict's
    * "prose knob" item), not a doc comment: the candidate law is
    * bands·n²/2^bits per corpus (both directions measured at organic
    * scale — SCALING §6c-r18-simhash: bits=8 costs 40× the default's
    * candidates, lossy bits=32 cuts them ÷135-179). NOTE the frontier:
    * under this 64-bit signature the default 16 already maximizes
    * 2^bits among complete widths, so a deployment where n²/2¹⁶ bites
    * either widens the SIGNATURE (128-bit → 4×32-bit bands, lossless)
    * or declares the loss via [[SimhashLossyBandsConf]] (measured 35%
    * of true drops missed at sf10 — usually the wrong trade). Any
    * VALID width preserves the verified pair set bit-for-bit: with
    * bands > [[SimhashHammingMax]], at most hammingMax differing bits
    * spread over bands leaves ≥1 band exactly equal (pigeonhole), so
    * banding is candidate-COMPLETE for every pair the hamming verify
    * accepts and the extra/fewer candidates differ only in rejected
    * work — the keep decision (and the q30 twin contract) is invariant
    * (QueriesSpec's band-width invariance test pins both directions:
    * 8 accepted and answer-invariant, 32 rejected). Widths that would
    * break completeness (64/bits ≤ hammingMax) are rejected loudly by
    * default — under a 64-bit signature and hammingMax = 3, 16
    * bits/band IS the completeness frontier, so the n²/2¹⁶ candidate
    * term cannot be cut further without either a wider signature
    * (128-bit simhash → 4×32 bands, the lossless path a deployment
    * would take) or giving up the guarantee. [[SimhashLossyBandsConf]]
    * is the explicit declared-lossy escape hatch for the latter (r17
    * verdict task 4; the dedup-cap design language): with it set,
    * over-wide bands are ACCEPTED and a hamming ≤ hammingMax pair is
    * missed exactly when every band straddles a differing bit (with 2
    * bands, both dirty) — candidate volume collapses to
    * bands·n²/2^bits with the miss set measured, never silent
    * (SCALING §6c-r18 records the sf10 trade). */
  private[graft] val SimhashBandBitsConf = "spark.graft.simhash.bandBits"
  private[graft] val SimhashBandBitsDefault = 16
  private[graft] val SimhashHammingMax = 3
  private[graft] val SimhashLossyBandsConf = "spark.graft.simhash.lossyBands"

  /** The band-key array for a 64-bit simhash at `bandBits` bits per
    * band — `bands` keys "b:chunk", each chunk a disjoint bit slice. */
  private[graft] def simhashBandKeys(sim: Column, bandBits: Int,
      allowLossy: Boolean = false): Column = {
    require(bandBits > 0 && 64 % bandBits == 0,
      s"simhash bandBits must divide 64, got $bandBits")
    val bands = 64 / bandBits
    require(allowLossy || bands > SimhashHammingMax,
      s"simhash banding at $bandBits bits/band yields $bands bands — " +
        s"candidate completeness for hamming <= $SimhashHammingMax needs " +
        s"more than $SimhashHammingMax bands (pigeonhole); lower bandBits, " +
        s"or set $SimhashLossyBandsConf=true to DECLARE the loss (pairs " +
        "whose differing bits dirty every band are missed)")
    val mask = (1L << bandBits) - 1L // bandBits ≤ 16 < 64: no overflow
    array((0 until bands).map(b =>
      concat_ws(":", lit(b),
        shiftright(sim, b * bandBits).bitwiseAND(lit(mask))
          .cast("string"))): _*)
  }

  /** A window over a whole census table (one row per source, language or
    * cell), keyed by `n ≥ 1` on a count column `n` that every census row
    * carries: one partition holding every row, under a real key — a
    * literal key is optimised away and leaves the window unpartitioned
    * (a single-partition exchange with Spark's "No Partition Defined"
    * warning). */
  private[graft] def wholeCensus(n: String): WindowSpec =
    Window.partitionBy(col(n) >= 1)

  /** What the shared LSH pair kernels need to know of one near-dup
    * modality: its id, band-key and payload columns, and the pair
    * similarity its verify thresholds, carried out as column `simName`.
    * The text family is [[Jaccard]]; the embedding gate brings its own
    * (SRP key, cosine). */
  private[graft] final case class PairKernel(id: String, key: String,
      payload: String, sim: (Column, Column) => Column, simName: String)

  /** (doc_id, bucket, shingles) verified by exact set-jaccard. */
  private[graft] val Jaccard = PairKernel("doc_id", "bucket", "shingles",
    (a, b) => size(array_intersect(a, b)) / size(array_union(a, b)), "jac")

  /** The hot-bucket cap — the declared-lossy skew guard of every LSH
    * candidate join. A band bucket holding B rows contributes B²
    * candidate pairs, so one boilerplate template shared by 10^6 docs
    * would explode the join exactly like the hot-shingle Σdf² the LSH
    * path exists to avoid: keys holding more than `cap` rows of the
    * population `pop` are dropped from `side` (the hot-key list is tiny
    * → broadcast anti-join). A true pair is lost only if EVERY band it
    * collides in is hot. `cap` ≤ 0 is off: `side` comes back unchanged,
    * as the oracle-checked queries need to reproduce the exact join. */
  private[graft] def dropHot(pop: DataFrame, key: String, cap: Int)(
      side: DataFrame): DataFrame =
    if (cap <= 0) side
    else {
      val hot = pop.groupBy(col(key))
        .agg(count(lit(1)).as("bn"))
        .filter(col("bn") > cap)
        .select(col(key))
      side.join(broadcast(hot), Seq(key), "left_anti")
    }

  /** DataFrame-level LSH pair core shared by the batch queries (q29/q38/
    * q52), the dedup maintenance and both LSH admission gates' in-batch
    * pairs: band self-join candidates, exact verify. `docs` = (id,
    * payload), `banded` = (id, key) under `k`'s names — pass both
    * pre-materialized so the banding lineage runs once, not once per
    * self-join side. The hot-bucket cap ([[dropHot]], exact dedup (q27)
    * runs before LSH so hot buckets are near-dup templates, not
    * identical copies) judges the batch's OWN bucket sizes. Returns
    * (d1 < d2, `k.simName`).
    */
  private[graft] def lshPairsFromDocs(docs: DataFrame, banded: DataFrame,
      threshold: Double, maxBucket: Int = 0,
      k: PairKernel = Jaccard): DataFrame = {
    val capped = dropHot(banded, k.key, maxBucket)(banded)
    // band join moves only (key, id); the wide payload joins back AFTER
    // candidate dedup, crossing the shuffle once per surviving pair, not
    // once per band.
    val cand = capped.as("a").join(capped.as("b"),
        col(s"a.${k.key}") === col(s"b.${k.key}") &&
          col(s"a.${k.id}") < col(s"b.${k.id}"))
      .select(col(s"a.${k.id}").as("d1"), col(s"b.${k.id}").as("d2"))
      .distinct()
    verifyPairs(cand, docs, threshold, k)
  }

  /** The join-back verify: candidate pairs `cand` (d1, d2) pick up both
    * payloads from `docs` (id, payload) and keep those at `k.sim` ≥
    * `threshold`, as (d1, d2, `k.simName`). */
  private[graft] def verifyPairs(cand: DataFrame, docs: DataFrame,
      threshold: Double, k: PairKernel = Jaccard): DataFrame =
    cand
      .join(docs.select(col(k.id).as("d1"), col(k.payload).as("p1")), "d1")
      .join(docs.select(col(k.id).as("d2"), col(k.payload).as("p2")), "d2")
      .withColumn(k.simName, k.sim(col("p1"), col("p2")))
      .filter(col(k.simName) >= threshold)
      .select(col("d1"), col("d2"), col(k.simName))

  /** (doc_id, component) labels of the near-dup graph at jaccard ≥ 0.5:
    * edges from the LSH path (identical pair set, near-linear cost),
    * components via distributed min-label propagation iterated to
    * fixpoint — each round one shuffle on doc_id, rounds = cluster
    * diameter (tiny for dup clusters), convergence checked with a count
    * action (the k-means pattern, not a driver-side data loop). Shared by
    * q52 (component listing) and q72 (size histogram). Returns a
    * localCheckpoint so the loop's caches are released before the caller
    * aggregates.
    */
  private[graft] def neardupComponents(s: SparkSession, dir: String): DataFrame = {
    val pairs = lshNeardupPairsShared(s, dir).select(col("d1"), col("d2"))
    val init = pairs.select(col("d1").as("doc_id"))
      .unionByName(pairs.select(col("d2").as("doc_id")))
      .distinct()
      .withColumn("component", col("doc_id"))
    propagateLabels(pairs, init)
  }

  /** Min-label propagation to fixpoint over an undirected pair set,
    * starting from `init` (doc_id, component). Shared by the from-scratch
    * component build (init = every endpoint labels itself) and the
    * incremental graph refresh (init = the persisted labels plus
    * self-labeled fresh endpoints — a warm start that converges in the
    * few rounds it takes new edges' merges to travel, not the graph
    * diameter). Fixpoint on MIN labels is order-independent, so any
    * converged start yields the unique answer: component = min doc_id.
    */
  private[graft] def propagateLabels(pairs: DataFrame, init: DataFrame): DataFrame = {
    val edges = pairs.select(col("d1"), col("d2"))
      .unionByName(pairs.select(col("d2").as("d1"), col("d1").as("d2")))
      .cache()
    var labels = init.cache()
    var cached = labels // the actually-cached plan backing this round
    var changed = 1L
    while (changed > 0) {
      // every pre-group row of a key carries the key's own component, so
      // min(component) IS the old label — change detection folds into the
      // same aggregation instead of a second join against the old round
      val step = labels
        .join(edges, labels("doc_id") === edges("d1"), "left")
        .join(labels.select(col("doc_id").as("nb"),
          col("component").as("nb_comp")), col("d2") === col("nb"), "left")
        .groupBy(labels("doc_id"))
        .agg(min(col("component")).as("old"),
          least(min(col("component")), min(col("nb_comp"))).as("component"))
        .cache()
      changed = step.filter(col("component") =!= col("old")).count()
      cached.unpersist() // superseded round — don't pin dead blocks
      cached = step
      labels = step.select(col("doc_id"), col("component"))
    }
    val out = labels.localCheckpoint()
    cached.unpersist()
    edges.unpersist()
    out
  }

  /** BPE merge-table training (Sennrich et al. 2016, public algorithm)
    * over a (freq, syms) vocabulary DataFrame. The scale shape that makes
    * this tractable at 100 TB: BPE trains on the WORD-TYPE aggregate, not
    * the corpus — one corpus-sized shuffle builds (word, freq), and every
    * iteration after that is two vocabulary-sized operations (pair count
    * via zip_with explode + the merge map) plus a 1-row argmax action —
    * scalar coordination like q52's convergence count, not a driver data
    * loop. Ties break (count desc, left asc, right asc) so the merge
    * table is deterministic across partitionings.
    */
  private[graft] def bpeMergesFromVocab(s: SparkSession, vocabIn: DataFrame,
      steps: Int): DataFrame =
    s.createDataFrame(bpeTrainFromVocab(s, vocabIn, steps))
      .toDF("step", "left", "right", "pair_count")

  /** The training loop proper, returning the driver-side merge rows.
    * localCheckpoint cuts the 20-UDF lineage chain each round, and the
    * superseded round's pinned blocks are released explicitly: the
    * checkpointed RDD ids are tracked via the getPersistentRDDs delta
    * around each checkpoint (a Dataset.unpersist would only touch cached
    * plans, not checkpoint blocks), so at most one vocabulary copy is
    * pinned at a time instead of `steps` of them.
    */
  private def bpeTrainFromVocab(s: SparkSession, vocabIn: DataFrame,
      steps: Int): Seq[(Int, String, String, Long)] = {
    val sc = s.sparkContext
    // The ids come from the checkpointed DataFrame's OWN plan (localCheckpoint
    // returns a LogicalRDD wrapping the persisted RDD), not a
    // getPersistentRDDs before/after delta — the delta was racy under any
    // concurrent persist (e.g. q63's Future-built index halves) and could
    // unpersist an unrelated computation's blocks.
    def checkpointTracked(df: DataFrame): (DataFrame, Set[Int]) = {
      val out = df.localCheckpoint()
      val ids = out.queryExecution.logical.collect {
        case l: org.apache.spark.sql.execution.LogicalRDD => l.rdd.id
      }.toSet
      (out, ids)
    }
    def release(ids: Set[Int]): Unit = ids.foreach(id =>
      sc.getPersistentRDDs.get(id).foreach(_.unpersist(blocking = false)))
    var (vocab, vocabIds) = checkpointTracked(vocabIn)
    val merges = scala.collection.mutable.ArrayBuffer[(Int, String, String, Long)]()
    var step = 1
    var done = false
    while (step <= steps && !done) {
      val best = vocab.select(col("freq"),
          explode(zip_with(slice(col("syms"), lit(1), size(col("syms")) - 1),
                           slice(col("syms"), lit(2), size(col("syms")) - 1),
            (a, b) => struct(a.as("l"), b.as("r")))).as("p"))
        .groupBy(col("p.l").as("l"), col("p.r").as("r"))
        .agg(sum(col("freq")).as("cnt"))
        .orderBy(col("cnt").desc, col("l"), col("r"))
        .limit(1).collect()
      if (best.isEmpty) done = true
      else {
        val (l, r, cnt) =
          (best(0).getString(0), best(0).getString(1), best(0).getLong(2))
        merges += ((step, l, r, cnt))
        val mergeUdf = udf((syms: Seq[String]) => bpeApplyMerge(syms, l, r))
        // NOTE (r18): replacing this per-step localCheckpoint with a
        // Dataset.cache() that the next count job materializes (halving
        // the per-step job count) was tried and MEASURED SLOWER (q74
        // warm 2.5 → 4.5 s at sf0.1): InMemoryRelation stores columnar
        // CachedBatches, and building compressed array<string> symbol
        // columns every step costs more than the raw-row checkpoint job
        // it saves. The checkpoint stays.
        val (next, nextIds) =
          checkpointTracked(vocab.select(col("freq"), mergeUdf(col("syms")).as("syms")))
        release(vocabIds)
        vocab = next
        vocabIds = nextIds
        step += 1
      }
    }
    release(vocabIds) // the merge rows live on the driver now
    merges.toSeq
  }

  private def bpeTrain(s: SparkSession, dir: String, steps: Int): DataFrame = {
    val initUdf = udf((w: String) => bpeInitialSymbols(w))
    // NOTE (r18): deriving this census from the lexdocs artifact was
    // A/B-measured on one host and read ~0.3-0.5 s SLOWER per retrain
    // than the regex tokenize (array<string> parquet decode beats the
    // regex only when the read amortizes over several consumers — q75
    // keeps the artifact read; the training loop retrains per call by
    // contract, so it keeps the cheaper from-text pass).
    val vocab = Tables.documents(s, dir)
      .select(explode(tokens(col("text"))).as("w"))
      .groupBy(col("w")).agg(count(lit(1)).as("freq"))
      .select(col("freq"), initUdf(col("w")).as("syms"))
    s.createDataFrame(bpeTrainFromVocab(s, vocab, steps))
      .toDF("step", "left", "right", "pair_count")
  }

  /** q74's merge table: ALWAYS retrained (it IS the training operator;
    * its bench cost must stay the real training cost), then written
    * through publish-if-absent — training is deterministic given the
    * corpus, so the disk copy never needs refreshing, and q75 (any
    * session) reads it instead of re-running the loop.
    */
  private[graft] def bpeMergeTable(s: SparkSession, dir: String,
      steps: Int): DataFrame = {
    val merges = bpeTrain(s, dir, steps)
    graft.ArtifactStore.put(s, s"bpe$steps", documentsFp(s, dir))(merges)
    merges
  }

  /** Merge pairs for encoding, in step order: the trained-tokenizer
    * artifact (driver rows, fingerprinted by the corpus and step count),
    * trained and published on a store miss. */
  private[graft] def bpeMergesShared(s: SparkSession, dir: String,
      steps: Int): Seq[(String, String)] =
    graft.Artifacts.rows(s, s"bpe$steps", documentsFp(s, dir))(
      bpeTrain(s, dir, steps))
      ._1.sortBy(_.getInt(0)).map(r => (r.getString(1), r.getString(2)))

  /** Batch dedup-build saturation mode (r17 verdict task 1): cap for
    * the BATCH pair-graph build's band buckets, promoted from the
    * streaming gate's `maxBucket` knob. 0 (default) = off — the build
    * stays bit-equal to the exact jaccard join (the oracle-checked
    * contract). > 0 = the declared-lossy template pre-pass for
    * band-SATURATED corpora (heavy boilerplate/template concentration
    * — SCALING §6c-r17 measured ΣB² going ~n²/K_eff, build wall 31×
    * for 10× organic data): exact-duplicate docs collapse to one
    * representative FIRST (the q27 composition — identical shingle
    * arrays band identically and pair at jac=1.0, recoverable without
    * any candidate join), representatives band as usual, buckets
    * holding more than `cap` representatives are dropped from the
    * candidate join, and surviving rep-level pairs expand back through
    * the exact groups. What the cap drops — EXACTLY the pairs whose
    * every shared band bucket is over-cap among representatives, and
    * never a pair inside an exact-duplicate group ([[graft.DedupCapSpec]]
    * pins the drop set plant-by-plant, plus cap-high ≡ uncapped). */
  private[graft] val DedupMaxBucketConf = "spark.graft.dedup.maxBucket"

  private[graft] def dedupMaxBucket(s: SparkSession): Int = {
    val v = s.conf.get(DedupMaxBucketConf, "0").toInt
    require(v >= 0, s"$DedupMaxBucketConf must be >= 0, got $v")
    v
  }

  /** The NAMED production posture for the saturation family — the one
    * documented conf set a 100 TB deployment applies to bound the two
    * measured quadratic laws, leaving the oracle-checked DEFAULTS (cap
    * off, bandBits=16) on the exact/complete contracts. SCALING §6c-r19
    * carries the organic-sf10/sf100 walls and the recall trade next to
    * the numbers; ProfileSpec pins the profile's combined outputs:
    *
    *   - [[DedupMaxBucketConf]] = 100: capped candidate volume is
    *     ≤ K_sat·cap² (constant in n — K_sat is the band-key space the
    *     saturated corpus can reach); drops EXACTLY the pairs whose
    *     every shared rep-level bucket is over-cap, never a pair inside
    *     an exact-duplicate group (DedupCapSpec's plant-by-plant law).
    *   - [[SimhashBandBitsConf]] = 32 under [[SimhashLossyBandsConf]]:
    *     candidate volume ÷135–179 (measured both trees); the declared
    *     recall cost is missed MULTI-BIT dups (35.5% of true drops at
    *     organic sf10 — q124's keep set can only GROW, spec-pinned;
    *     hamming-0 duplicates are always still caught). Deployments
    *     that cannot pay the recall keep bits=16 and widen the
    *     signature instead (the §6c-r18-simhash recommendation).
    */
  private[graft] val SaturationProductionProfile: Seq[(String, String)] = Seq(
    DedupMaxBucketConf -> "100",
    SimhashBandBitsConf -> "32",
    SimhashLossyBandsConf -> "true")

  /** The capped batch build from an already-shingled (doc_id, shingles)
    * table — see [[DedupMaxBucketConf]]. Exact-collapse → capped band
    * join among representatives → group expansion. Output is exactly
    * the uncapped pair set minus pairs whose every shared rep-level
    * bucket is over-cap: jac values are bit-identical (identical
    * shingle arrays give identical set-jaccard against any third doc,
    * and within-group pairs are exactly 1.0 in the exact join too).
    * Scale shape: the collapse is one hash shuffle (the q27 census),
    * the candidate join's ΣB² is judged on REPRESENTATIVES with hot
    * buckets dropped, and the expansion is output-sized. */
  private[graft] def lshPairsCappedFromShingled(sh: DataFrame, cap: Int,
      threshold: Double, numHashes: Int = 64, bands: Int = 32,
      rows: Int = 2): DataFrame = {
    require(cap > 0, s"capped build needs cap > 0, got $cap")
    // 1. exact-collapse: identical shingle ARRAYS → one representative
    //    (min doc_id). Array identity is conservative (identical text ⇒
    //    identical array) and safe: banding and set-jaccard are both
    //    determined by the shingle multiset, so every member is
    //    exchangeable with its rep in any pair.
    val keyed = sh
      .withColumn("gh", md5(to_json(col("shingles"))))
      .select(col("doc_id"), col("gh"))
    val members = keyed
      .join(keyed.groupBy(col("gh")).agg(min(col("doc_id")).as("rep")), "gh")
      .select(col("doc_id"), col("rep"))
      .localCheckpoint()
    val repSh = sh
      .join(members.filter(col("doc_id") === col("rep"))
        .select(col("rep").as("doc_id")), "doc_id")
      .localCheckpoint()
    // 2. band the representatives; candidates run under the hot-bucket
    //    cap — the streaming gate's knob (lshPairsFromDocs maxBucket),
    //    now judging hotness on the collapsed population
    val bandedReps = bandedOf(repSh, numHashes, bands, rows).localCheckpoint()
    val repPairs = lshPairsFromDocs(repSh, bandedReps, threshold, cap)
    // 3. expand: rep-level pairs fan out to all member pairs (same jac);
    //    within-group pairs are exact duplicates — jac 1.0, immune to
    //    the cap by construction (no candidate join involved)
    val cross = repPairs
      .join(members.select(col("rep").as("d1"), col("doc_id").as("m1")), "d1")
      .join(members.select(col("rep").as("d2"), col("doc_id").as("m2")), "d2")
      .select(least(col("m1"), col("m2")).as("d1"),
        greatest(col("m1"), col("m2")).as("d2"), col("jac"))
    val within = members.as("a")
      .join(members.as("b"), col("a.rep") === col("b.rep") &&
        col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("d1"), col("b.doc_id").as("d2"),
        lit(1.0).as("jac"))
    cross.unionByName(within)
  }

  /** THE near-dup shingle set of a (…, text) doc, as column `shingles`:
    * its distinct word 3-grams — the MinHash input of the batch pair
    * graph ([[lshNeardupPairs]]), [[DedupMaintenance]] and the streaming
    * near-dup gate ([[graft.streaming.NearDupAdmission]]). */
  private[graft] def neardupShingles: Column =
    wordNgramsUdf(3)(col("text")).as("shingles")

  /** Near-dup pairs at exact set-jaccard >= `threshold`, with candidate
    * generation through MinHash-LSH banding instead of the exact shingle
    * self-join. This is the scale path shared by q29/q38/q52: the band join
    * moves only (bucket, doc_id) and its cost is Σ bucket² over docs that
    * are actually similar, where the exact join pays Σ df(shingle)² over
    * every doc sharing one template shingle (measured 42× at 10× corpus in
    * round 1). Candidates are then verified with exact jaccard on the
    * shingle sets, so the output is the same answer the exact join gives —
    * up to banding recall, which the defaults pin at ~1: with 32 bands × 2
    * rows, P(candidate) = 1-(1-j²)^32 is 0.9999 at the j=0.5 verify
    * threshold and 1-6e-15 at j=0.8 (the weakest true pair in the corpus
    * is j=0.8, DedupSpec pins zero misses). At 100 TB, template-heavy
    * corpora would raise `rows` to sharpen the S-curve and cut marginal
    * candidates; the verify stage keeps the answer exact either way.
    */
  private[graft] def lshNeardupPairs(s: SparkSession, dir: String,
      threshold: Double, numHashes: Int = 64, bands: Int = 32,
      rows: Int = 2): DataFrame = {
    // materialize the shingled corpus once: it feeds the band table AND
    // both payload-verify joins, and without a checkpoint the tokenize+
    // shingle UDF lineage re-executes for every consumer (measured ~2× on
    // q29). At 100 TB this is the staged intermediate table a real dedup
    // pipeline writes anyway; localCheckpoint is its single-job stand-in.
    val docs = Tables.documents(s, dir)
      .select(col("doc_id"), neardupShingles)
      .filter(size(col("shingles")) > 0)
      .localCheckpoint()
    val cap = dedupMaxBucket(s)
    if (cap > 0)
      lshPairsCappedFromShingled(docs, cap, threshold, numHashes, bands, rows)
    else {
      val banded = bandedOf(docs, numHashes, bands, rows).localCheckpoint()
      lshPairsFromDocs(docs, banded, threshold)
    }
  }

  // ---- dedup-graph artifact store (q29, q38, q52, q55, q61, q72) ---------
  //
  // The jaccard≥0.5 LSH pair graph and its connected-component labels are
  // CORPUS-level artifacts, exactly like the ANN index tables and the BPE
  // merge table: a 100 TB dedup pipeline computes the pair graph once per
  // corpus snapshot and every consumer — pair listing (q29), keep-list
  // (q38), leakage gate (q55), train export (q61), component
  // listing/histogram (q52/q72) — reads the persisted result. Keyed by the
  // documents table's per-part-file fingerprint, so a rewritten corpus
  // rebuilds and distinct SFs never collide. The pair set is deterministic
  // given the corpus (md5-seeded minhash), so every consumer's result is
  // unchanged — only the redundant per-query recompute of the
  // shingle/band/verify stages is gone.
  private def documentsFp(s: SparkSession, dir: String): String =
    Tables.parquetFingerprint(s, dir, "documents")

  /** q92's per-valid-doc NB decision frame (doc_id, cls, margin,
    * pred_class): the trained multinomial model applied to the held-out
    * split. Exposed so QueriesSpec can pin the measured decision margins
    * (the quantity whose sign must survive cross-engine ln noise) without
    * duplicating the pipeline.
    */
  private[graft] def nbQualityScored(s: SparkSession, dir: String): DataFrame = {
    // checkpoint at DOC granularity (doc_id, split, cls, token array) —
    // the quality regexes and tokenization run once per doc and the
    // checkpoint stores ~n_docs rows, not the exploded occurrence stream.
    // Shared through the corpus-fingerprinted store: the labeled-tokenized
    // corpus is the preprocessing table a deployed pipeline materializes
    // once per snapshot, not per scoring query.
    val docs = graft.Artifacts.frame(s, "nblabeled", documentsFp(s, dir)) {
      // ONE labeling/split/tokenize definition shared with the
      // incremental NB maintenance (CorpusStatsMaintenance.nbLabeled):
      // the maintained counts and this snapshot can never drift.
      CorpusStatsMaintenance.nbLabeled(Tables.documents(s, dir))
    }
    val toks = docs.select(col("doc_id"), col("split"), col("cls"),
      explode(col("toks")).as("token"))
    val tf = CorpusStatsMaintenance.nbTf(docs)
    val totals = tf.agg(sum("tf_hi").as("n_hi"), sum("tf_lo").as("n_lo"),
      count(lit(1)).as("v"))
    val priors = CorpusStatsMaintenance.nbClassCounts(docs)
    // per-TYPE log-likelihood ratios (vocab-sized, broadcast) rather than
    // per-occurrence logs: identical IEEE expressions, ~tokens/vocab fewer
    // transcendental calls. Unseen tokens coalesce to the UNK constant —
    // the same (0+1)-smoothed formula, so results are bit-identical.
    def lpExpr(hi: Column, lo: Column) =
      log(hi / (col("n_hi") + col("v") + 1).cast("double")) -
        log(lo / (col("n_lo") + col("v") + 1).cast("double"))
    val model = tf.crossJoin(totals)
      .withColumn("lp", lpExpr(col("tf_hi") + 1, col("tf_lo") + 1))
      .select(col("token"), col("lp"))
    val unk = totals
      .select(lpExpr(lit(1), lit(1)).as("lp_unk"))
    val scored = toks.filter(col("split") === "valid")
      .join(broadcast(model), Seq("token"), "left")
      .crossJoin(broadcast(unk))
      .withColumn("lp", coalesce(col("lp"), col("lp_unk")))
    scored.groupBy(col("doc_id"), col("cls"))
      .agg(sum(col("lp")).as("tok_margin"))
      .crossJoin(broadcast(priors))
      .withColumn("margin",
        col("tok_margin") + log(col("d_hi") / col("d_lo").cast("double")))
      .withColumn("pred_class", when(col("margin") > 0, "hi").otherwise("lo"))
  }

  /** The jaccard≥0.5 near-dup pair graph (d1, d2, jac) as a persisted
    * artifact: the store holds only the verified pairs (tiny — true dup
    * pairs); the builder's shingle/band checkpoints are released by the
    * store's publish once the pair table is on disk.
    */
  private[graft] def lshNeardupPairsShared(s: SparkSession, dir: String): DataFrame = {
    // the artifact is keyed by the active cap: a capped pair graph is a
    // DIFFERENT (declared-lossy) artifact, and a session flipping the
    // conf must never read one mode's graph as the other's
    val cap = dedupMaxBucket(s)
    val tag = if (cap > 0) s"lshpairs05c$cap" else "lshpairs05"
    graft.Artifacts.frame(s, tag, documentsFp(s, dir))(
      lshNeardupPairs(s, dir, 0.5))
  }

  /** Component labels of the shared pair graph, as a persisted artifact —
    * the dedup pipeline's cluster table, computed once per corpus.
    */
  private[graft] def neardupComponentsShared(s: SparkSession, dir: String): DataFrame =
    graft.Artifacts.frame(s, "neardupcc", documentsFp(s, dir))(
      neardupComponents(s, dir))

  /** The corpus bigram stream and its conditional LM, shared by the
    * batch artifact below AND the streaming funnel's frozen-reference
    * trainer (CurationAdmission.buildReference) — ONE definition of the
    * tokenizer + smoothing, so the stream can never score against a
    * silently different LM than the batch funnel it twins. Returns
    * (bg: (doc_id, lang, source, bg) — lazy over the lexdocs artifact,
    * lm: (bg, p)).
    */
  private[graft] def corpusBigramLm(s: SparkSession, dir: String)
      : (DataFrame, DataFrame) = {
    // bigrams slide over the persisted tokenized corpus (lexdocs) — no
    // re-tokenize. bg stays LAZY: each consumer re-reads the artifact
    // with a row-local explode, so no corpus-TOKEN-sized checkpoint is
    // ever materialized (writing ~5× corpus bytes per LM build was the
    // 100 TB cost).
    val bg = CorpusStatsMaintenance.bigramStream(lexDocsShared(s, dir),
      "lang", "source")
    (bg, CorpusStatsMaintenance.lmCounts(bg).lm)
  }

  /** Tokenized corpus (doc_id, lang, source, t) as a persisted artifact
    * — the staging table of the lexical-retrieval family (q94 BM25, q99
    * hybrid RRF, q103 hard negatives) AND the tokenize-once source the
    * gram5/DSIR artifacts derive from: a deployed retrieval pipeline
    * tokenizes its corpus once per snapshot and every ranker reads the
    * result, it doesn't re-run the tokenizer per query. lang/source ride
    * along so derived artifacts need no corpus re-join; readers that
    * don't use them prune the columns at the parquet scan. Same
    * corpus-fingerprinted store as the dedup graph and the LM.
    */
  private[graft] def lexDocsShared(s: SparkSession, dir: String): DataFrame =
    graft.Artifacts.frame(s, "lexdocs", documentsFp(s, dir)) {
      Tables.documents(s, dir)
        .select(col("doc_id"), col("lang"), col("source"),
          tokens(col("text")).as("t"))
    }

  /** Document-frequency census (token, df) over the shared tokenized
    * corpus — vocab-sized, the idf side of every BM25 scorer. */
  private[graft] def lexDfShared(s: SparkSession, dir: String): DataFrame =
    graft.Artifacts.frame(s, "lexdf", documentsFp(s, dir)) {
      CorpusStatsMaintenance.dfCensus(lexDocsShared(s, dir))
    }

  /** Distinct per-doc 5-gram relation (doc_id, lang, g) as a persisted
    * artifact — the shingle table of the verbatim-overlap family (q68
    * contamination, q107 novelty): born distinct via row-local
    * array_distinct, materialized once per corpus snapshot. Shingles
    * slide over the STAGED tokenized corpus (wordNgramsFromTokens —
    * bit-equal to the from-text UDF by the shared tokenizer contract),
    * so the build re-reads token arrays instead of re-running the text
    * regexes over the whole corpus. */
  private[graft] def gram5Shared(s: SparkSession, dir: String): DataFrame =
    graft.Artifacts.frame(s, "gram5", documentsFp(s, dir)) {
      lexDocsShared(s, dir)
        .select(col("doc_id"), col("lang"),
          explode(array_distinct(wordNgramsFromTokensUdf(5)(col("t")))).as("g"))
    }

  // ---- Bloom decontamination kernels (ONE definition shared by q120
  // ---- and CorpusStatsMaintenance.buildBloom/refreshBloom — a bitset
  // ---- refreshed with different hashing would probe garbage) ----------

  /** Smallest power of two >= 16·n — the bitset width sizing (k=4
    * probes at this load → ~0.2% measured FP rate). */
  private[graft] def bloomWidthFor(n: Long): Long = {
    val x = 16L * math.max(n, 1L)
    val h = java.lang.Long.highestOneBit(x)
    if (h == x) x else h << 1
  }

  private[graft] def bloomDigest(g: Column): Column =
    md5(concat(lit("bloom:"), g))

  /** Probe position i (of 4): the digest's i-th 8-hex-char quarter,
    * mod the width column m. Since r19 this Column form is the SPEC
    * REFERENCE for [[bloomPositionsUdf]] (which the build and probe
    * paths run) — the hex-slicing definition stays the readable oracle
    * the DuckDB SQL replays. */
  private[graft] def bloomPos(h: Column, m: Column, i: Int): Column =
    pmod(conv(substring(h, 8 * i + 1, 8), 16, 10).cast("long"), m)

  private val Md5Local = new ThreadLocal[java.security.MessageDigest] {
    override def initialValue(): java.security.MessageDigest =
      java.security.MessageDigest.getInstance("MD5")
  }

  /** All four probe positions of a gram in ONE compiled pass — bit-equal
    * to slicing the hex digest ([[bloomDigest]] + [[bloomPos]], the spec
    * reference): position i is the unsigned big-endian 32-bit int of
    * md5("bloom:"+g) bytes [4i, 4i+4) mod m, which is exactly
    * conv(substring(hex(digest), 8·i+1, 8), 16, 10) pmod m (the value is
    * already non-negative, so % == pmod). The Column form paid a
    * hex-encode of the 16 digest bytes plus FOUR substring allocations
    * and FOUR base-16 string parses per gram; this computes the same
    * positions straight off the digest bytes. Equality with the Column
    * kernel is spec-pinned over a gram corpus (both build and probe ride
    * this ONE definition, so a refreshed bitset can never hash
    * differently from the built one). */
  private[graft] def bloomPositionsUdf(m: Long) = udf { (g: String) =>
    val md = Md5Local.get()
    val d = md.digest(
      ("bloom:" + g).getBytes(java.nio.charset.StandardCharsets.UTF_8))
    val out = new Array[Long](4)
    var i = 0
    while (i < 4) {
      out(i) = (((d(4 * i) & 0xFFL) << 24) | ((d(4 * i + 1) & 0xFFL) << 16) |
        ((d(4 * i + 2) & 0xFFL) << 8) | (d(4 * i + 3) & 0xFFL)) % m
      i += 1
    }
    out
  }

  /** The 32-bit lane mask of a position (2^(p mod 32) — pow is exact in
    * doubles to 2^53, and lanes are 32-bit because a 1<<63 differs
    * across engines). */
  private[graft] def bloomLane(p: Column): Column =
    pow(lit(2.0), (p % 32).cast("double")).cast("long")

  /** The words table (w, bits) of a gram set under width m (every caller
    * holds m as a driver value — bloomSetShared sizes it, the
    * maintenance freezes it). One [[bloomPositionsUdf]] evaluation per
    * gram, exploded to its 4 positions. */
  private[graft] def bloomWordRows(g: DataFrame, m: Long): DataFrame =
    g.select(explode(bloomPositionsUdf(m)(col("g"))).as("p"))
      .groupBy(shiftright(col("p"), 5).as("w"))
      .agg(bit_or(bloomLane(col("p"))).as("bits"))

  /** The held-out (valid+test) distinct 5-gram set — the BENCHMARK side
    * of the decontamination family — as a persisted corpus artifact:
    * derived from the shared shingle table once per corpus snapshot,
    * read by the bitset build and by q120's exact-audit join. */
  private[graft] def benchGramsShared(s: SparkSession, dir: String): DataFrame =
    graft.Artifacts.frame(s, "benchgrams", documentsFp(s, dir)) {
      gram5Shared(s, dir)
        .withColumn("split", splitAssign(col("doc_id")))
        .filter(col("split") =!= "train").select(col("g")).distinct()
    }

  /** The decontamination bitset as a PERSISTED corpus artifact — at
    * 100 TB the benchmark set changes when an eval suite ships, not per
    * query, so the words table is written once per corpus snapshot (the
    * `CorpusStatsMaintenance.BloomIndex` storage shape; refreshBloom is
    * its incremental path) and every probe query maps it instead of
    * re-hashing the benchmark. The frozen width rides along as a
    * constant column; reading it back is a 1-row driver action on the
    * bounded (m/32-row) table. */
  private[graft] def bloomSetShared(s: SparkSession, dir: String)
      : (DataFrame, Long) = {
    val f = graft.Artifacts.frame(s, "bloomset", documentsFp(s, dir)) {
      val idx = CorpusStatsMaintenance.bloomIndexOf(benchGramsShared(s, dir))
      idx.words.withColumn("m", lit(idx.m))
    }
    val mRow = f.select(col("m")).head(1)
    val m = if (mRow.isEmpty) bloomWidthFor(0L) else mRow.head.getLong(0)
    (f.select(col("w"), col("bits")), m)
  }

  /** The probe side of the Bloom path, shared by q120 (which rides an
    * exact-audit column alongside) and q123 (the probe-only deployed
    * form): ONE codegen'd md5 per gram sliced into k=4 positions, each
    * probed as a CHAINED broadcast lookup against the lane table — no
    * explode, no (doc_id, gram) shuffle aggregate; extra input columns
    * ride through untouched. Appends `hit` (0/1). */
  private[graft] def bloomProbeHits(grams: DataFrame, words: DataFrame,
      m: Long): DataFrame = {
    // ONE bloomPositionsUdf evaluation per gram; the four positions are
    // element_at's over its array alias, which CollapseProject does NOT
    // re-inline (a ScalaUDF alias referenced more than once is non-cheap,
    // so the projection boundary survives — plan-checked in PlanSpec)
    val base = grams.withColumn("pos", bloomPositionsUdf(m)(col("g")))
    val probed = (0 until 4).foldLeft(base) { (df, i) =>
      df.withColumn(s"p$i", element_at(col("pos"), i + 1))
        .join(broadcast(words.select(col("w").as(s"w$i"),
          col("bits").as(s"bits$i"))),
          shiftright(col(s"p$i"), 5) === col(s"w$i"), "left")
    }
    val hit = (0 until 4).map(i =>
      coalesce(col(s"bits$i"), lit(0L))
        .bitwiseAND(bloomLane(col(s"p$i"))) =!= 0).reduce(_ && _)
    probed.withColumn("hit", when(hit, 1).otherwise(0))
  }

  /** The deterministic per-epoch read order behind q121 — ONE definition
    * for the manifest query and the resume-contract spec: every doc gets
    * a reproducible pseudo-random key (md5 over epoch:id — a different
    * global permutation per epoch, no RNG state), a shard (key-hash mod
    * world size), and a dense per-(epoch, shard) position in (h, doc_id)
    * order. A training loader checkpointed at (epoch, shard, pos = k)
    * resumes by recomputing THIS stream and skipping pos ≤ k: the
    * permutation depends only on (epoch, doc_id), never on physical
    * layout or execution order, so the suffix it feeds is identical to
    * the original run's — the spec proves that against a repartitioned
    * recomputation.
    */
  private[graft] def epochShuffleStream(docs: DataFrame, nShards: Int,
      epochs: Int): DataFrame = {
    val keyed = docs
      .select(col("doc_id"), tokenCount(col("text")).cast("long").as("ntok"),
        explode(array((0 until epochs).map(lit): _*)).as("epoch"))
      .withColumn("h", md5(concat(lit("shuffle:"),
        col("epoch").cast("string"), lit(":"), col("doc_id").cast("string"))))
      .withColumn("shard", pmod(conv(substring(col("h"), 1, 4), 16, 10)
        .cast("long"), lit(nShards.toLong)))
    val w = Window.partitionBy("epoch", "shard").orderBy("h", "doc_id")
    keyed.withColumn("pos", row_number().over(w))
  }

  /** DSIR hashed-feature table (doc_id, source, b) as a persisted
    * artifact — the explicit corpus-hashing stage of the DSIR pipeline
    * (Xie et al. 2023 hash the raw corpus once, then score it against
    * many target distributions); q102 is one such scoring pass. */
  private[graft] def dsirFeatsShared(s: SparkSession, dir: String): DataFrame =
    graft.Artifacts.frame(s, "dsirfeats", documentsFp(s, dir)) {
      // hashed features derive from the STAGED tokenized corpus — same
      // unigram+bigram stream as before, minus a full re-tokenize pass
      lexDocsShared(s, dir)
        .select(col("doc_id"), col("source"), col("t"))
        .filter(size(col("t")) >= 1)
        .select(col("doc_id"), col("source"),
          explode(concat(col("t"), tokenBigrams(col("t")))).as("f"))
        .withColumn("b", substring(md5(col("f")), 1, 2))
        .drop("f")
    }

  /** Per-doc mean bigram surprisal (doc_id, lang, source, s) under the
    * corpus bigram LM, persisted once per corpus fingerprint — the LM
    * scoring table every perplexity consumer (q67's source report, q98's
    * CCNet terciles, q100's funnel gate 4) reads: a deployed pipeline
    * trains and applies its LM once per corpus snapshot; the consumers'
    * own aggregations stay the only per-query work. The store holds one
    * row per document (never the bigram stream). Docs with < 2 tokens
    * have no bigrams and are absent, exactly as in the inline chains
    * this replaces.
    */
  private[graft] def docSurprisalShared(s: SparkSession, dir: String): DataFrame =
    graft.Artifacts.frame(s, "bigramlm", documentsFp(s, dir)) {
      val (bg, lm) = corpusBigramLm(s, dir)
      CorpusStatsMaintenance.meanSurprisal(bg, lm, "doc_id", "lang", "source")
    }

  /** Per-doc longest duplicated stride-1 window run (doc_id, maxrun) as
    * a persisted corpus artifact — q117's expensive core (r17 verdict
    * task 3: the worst decade-2 query ratio, 5.3×, was recomputing a
    * census the engine already maintains incrementally). The build runs
    * the ONE shared window-hash/census/islands definition
    * ([[CorpusStatsMaintenance.buildSpans]]/`spanRuns` — the same code
    * the streaming quote gate and the incremental span maintenance
    * use), and what persists is only the doc-count-bounded run table —
    * never the xW window stream (census bytes ∝ corpus × window width;
    * the run table is the ~n_docs-row result a deployed pipeline would
    * publish). q117 then re-reads lang/roster row-locally from the
    * corpus scan and joins on doc_id: scan + broadcast-scale join + tiny
    * agg, no xW shuffle per query. Parity with the inline form is
    * spec-pinned (QueriesSpec) and the oracle is unchanged. */
  private[graft] def spanRunsShared(s: SparkSession, dir: String): DataFrame =
    graft.Artifacts.frame(s, "spanruns10", documentsFp(s, dir))(
      CorpusStatsMaintenance.spanRuns(CorpusStatsMaintenance.buildSpans(
        Tables.documents(s, dir).select(col("doc_id"), col("text")))))

  /** CCNet tercile assignment (per, with columns doc_id/lang/s →
    * + bucket ∈ {1,2,3}) — EXACTLY `ntile(3) over (partition by lang
    * order by round(s,6), doc_id)`, restated so no task ever sorts a
    * language's whole corpus (the deployed CCNet shape: cutoffs first,
    * then a map-side compare). ntile(3) over n rows gives the first
    * n%3 buckets ⌈n/3⌉ rows and the rest ⌊n/3⌋, so bucket membership
    * is "rank ≤ b1" / "rank ≤ b2" for the two per-lang rank boundaries
    * b1 = ⌊n/3⌋+(n%3≥1), b2 = 2⌊n/3⌋+(n%3≥1)+(n%3≥2). The q70
    * census-cutoff-broadcast pattern finds the boundary KEYS without a
    * corpus sort:
    *   1. census per (lang, round-6 s) with map-side partials — bounded
    *      by langs × distinct round-6 levels (≤ a few million for any
    *      surprisal range, independent of corpus size), and a running
    *      count over THAT census locates which level each rank boundary
    *      lands in;
    *   2. within the (at most two per lang) boundary tie-groups, the
    *      boundary DOC is the (b − cum_start)-th by doc_id — a window
    *      over just those tie-groups (bounded by the round-6 tie
    *      cardinality, never the corpus);
    *   3. every doc then compares its (s6, doc_id) key against the two
    *      broadcast per-lang boundary keys map-side — one struct
    *      comparison, no shuffle, no sort.
    * The (round-6 s, doc_id) key is total (doc_id unique), so the
    * assignment is bit-identical to the window form at any scale; the
    * QueriesSpec boundary-graze pin (no surprisal within float noise of
    * a round-6 edge) covers this form and the oracle's ntile replay
    * alike.
    *
    * PRECONDITION: `lang` must be non-null. The census/cutoff joins are
    * inner equi-joins, so a null-lang row would silently DROP where the
    * ntile window form would have bucketed it in a NULL partition. Every
    * caller satisfies this: the documents table's lang is non-null, and
    * the streaming funnel's LM gate drops unknown-lang docs (no
    * reference cutoff) before any tercile logic runs.
    */
  private[graft] def ccnetTerciles(per0: DataFrame): DataFrame = {
    val per = per0.withColumn("s6", round(col("s"), 6))
    val census = per.groupBy(col("lang"), col("s6"))
      .agg(count(lit(1)).as("c"))
    val wC = Window.partitionBy(col("lang")).orderBy(col("s6"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val cum = census
      .withColumn("cum_end", sum(col("c")).over(wC))
      .withColumn("cum_start", col("cum_end") - col("c"))
    val tot = census.groupBy(col("lang")).agg(sum(col("c")).as("n"))
      .withColumn("qn", floor(col("n") / 3.0).cast("long"))
      .withColumn("b1",
        col("qn") + when(col("n") % 3 >= 1, 1L).otherwise(0L))
      .withColumn("b2", col("qn") * 2 +
        when(col("n") % 3 >= 1, 1L).otherwise(0L) +
        when(col("n") % 3 >= 2, 1L).otherwise(0L))
      .select(col("lang"), col("b1"), col("b2"))
    // the census row each rank boundary lands in, with its 1-based
    // offset inside that row's doc_id-ordered tie-group
    val hits = cum.join(tot, "lang")
      .select(col("lang"), col("s6"), col("cum_start"), col("cum_end"),
        explode(array(
          struct(lit(1).as("edge"), col("b1").as("b")),
          struct(lit(2).as("edge"), col("b2").as("b")))).as("e"))
      .filter(col("e.b") > col("cum_start") && col("e.b") <= col("cum_end"))
      .select(col("lang"), col("s6"), col("e.edge").as("edge"),
        (col("e.b") - col("cum_start")).as("off"))
    // boundary docs: only the tie-groups a boundary lands in pass the
    // broadcast semi-join, so this window's partitions are tie-sized
    val wTie = Window.partitionBy(col("lang"), col("s6"), col("edge"))
      .orderBy(col("doc_id"))
    val cuts = per.join(broadcast(hits), Seq("lang", "s6"))
      .withColumn("rn", row_number().over(wTie))
      .filter(col("rn") === col("off"))
      .groupBy(col("lang"))
      .agg(
        max(when(col("edge") === 1,
          struct(col("s6"), col("doc_id")))).as("k1"),
        max(when(col("edge") === 2,
          struct(col("s6"), col("doc_id")))).as("k2"))
    // map-side assignment: one broadcast row per language
    per.join(broadcast(cuts), Seq("lang"))
      .withColumn("bucket",
        when(struct(col("s6"), col("doc_id")) <= col("k1"), 1)
          .when(struct(col("s6"), col("doc_id")) <= col("k2"), 2)
          .otherwise(3))
      .drop("s6", "k1", "k2")
  }

  val defs: Map[String, Q] = Map(

    // Token statistics per language: whitespace tokens + BPE-ish tokens.
    "q24_token_stats" -> ((s, dir) => {
      Tables.documents(s, dir)
        .select(col("lang"),
          tokenCount(col("text")).as("n_tok"),
          bpeTokenCount(col("text")).as("n_bpe"))
        .groupBy(col("lang"))
        .agg(count(lit(1)).as("n_docs"),
          round(avg("n_tok"), 4).as("avg_tokens"),
          round(avg("n_bpe"), 4).as("avg_bpe_tokens"),
          sum("n_tok").as("total_tokens"))
        .orderBy("lang")
    }),

    // Quality scoring per source: stopword/punct ratios + composite score.
    "q25_quality" -> ((s, dir) => {
      // all three metrics in ONE compiled pass (qualityMetricsUdf — the
      // bit-identical twin of the Column forms, spec-pinned): the Column
      // expressions re-inline the interpreted tokenizer per metric, so
      // the report paid the regex tokenize ~5× per row for three numbers
      Tables.documents(s, dir)
        .select(col("source"), qualityMetricsUdf(col("text")).as("m"))
        .select(col("source"),
          col("m._1").as("stop_r"),
          col("m._2").as("punct_r"),
          col("m._3").as("q"))
        .groupBy(col("source"))
        .agg(round(avg("stop_r"), 4).as("avg_stop_ratio"),
          round(avg("punct_r"), 4).as("avg_punct_ratio"),
          round(avg("q"), 4).as("avg_quality"),
          count(lit(1)).as("n_docs"))
        .orderBy("source")
    }),

    // Language ID (trigram-profile heuristic) — confusion counts vs the
    // labeled lang column. Not SQL-expressible → rows-only oracle;
    // exactness pinned by TextFunctionsSpec instead.
    "q26_langid" -> ((s, dir) => {
      Tables.documents(s, dir)
        .select(col("lang"), langIdUdf(col("text")).as("predicted"))
        .groupBy(col("lang"), col("predicted"))
        .agg(count(lit(1)).as("n"))
        .orderBy("lang", "predicted")
    }),

    // Exact dedup via content hash (md5 of normalized text). Works at any
    // scale: one hash-shuffle, map-side partial agg.
    "q27_exact_dedup" -> ((s, dir) => {
      Tables.documents(s, dir)
        .withColumn("h", md5(lower(col("text"))))
        .groupBy(col("h"))
        .agg(count(lit(1)).as("n_copies"), min("doc_id").as("keep_doc"))
        .agg(count(lit(1)).as("distinct_texts"),
          sum("n_copies").as("total_docs"),
          sum(when(col("n_copies") > 1, col("n_copies") - 1).otherwise(0L)).as("dup_docs"))
    }),

    // N-gram Jaccard near-dup pairs: explode 3-word shingles, self-join on
    // shingle (only docs sharing ≥1 shingle ever meet — the blocking key),
    // then exact |A∩B| / |A∪B|. Cost is inherently Σ df(shingle)² — the
    // `Dev scale` harness measures 42× time at 10× corpus (dup clusters
    // grow the hot shingles quadratically), vs ~10× for MinHash-LSH (q29).
    // This query is the exact verification baseline; q29 is the 100 TB
    // path, optionally plus a df-cap on blocking shingles (lossy: drops
    // pairs whose every shared shingle is template-frequent).
    "q28_jaccard_pairs" -> ((s, dir) => {
      // stage the shingle relation once (the lshNeardupPairs rationale):
      // the self-join's two sides and the per-doc counts otherwise each
      // re-run the tokenize+shingle UDF over the whole corpus — measured
      // ~2x on the 10x replica. At 100 TB this is the staged
      // intermediate table a dedup pipeline writes anyway.
      val sh = shingled(s, dir).localCheckpoint()
      val counts = sh.groupBy("doc_id").agg(count(lit(1)).as("n"))
      val a = sh.as("a"); val b = sh.as("b")
      val shared = a.join(b,
          col("a.s") === col("b.s") && col("a.doc_id") < col("b.doc_id"))
        .groupBy(col("a.doc_id").as("d1"), col("b.doc_id").as("d2"))
        .agg(count(lit(1)).as("shared"))
      shared
        .join(counts.withColumnRenamed("doc_id", "d1").withColumnRenamed("n", "n1"), "d1")
        .join(counts.withColumnRenamed("doc_id", "d2").withColumnRenamed("n", "n2"), "d2")
        .withColumn("jac", col("shared") / (col("n1") + col("n2") - col("shared")))
        .filter(col("jac") >= 0.3)
        .select(col("d1"), col("d2"), round(col("jac"), 4).as("jac"))
        .orderBy("d1", "d2")
    }),

    // MinHash + LSH banding (the 32 bands × 2 rows production shape shared
    // with q38/q52/q61): candidate pairs = docs sharing a band bucket,
    // verified with exact Jaccard on the candidates only. This is the
    // scale path: shuffle key = band bucket, Σ bucket² ≪ n². The banding
    // S-curve gives P(candidate) = 0.9999 at the 0.5 verify threshold and
    // 1-6e-15 at the corpus's weakest true pair (j=0.8, DedupSpec canary),
    // so the answer equals the exact join's pair-for-pair — which is
    // exactly what the oracle recomputes (the same LSH-losslessness
    // statement q38/q52/q55/q61 already make end-to-end).
    // ORACLE VALIDITY BOUND: exact-join-as-oracle is sound only while the
    // corpus's weakest true pair sits well above the threshold — recall at
    // j=0.5 exactly is 1-(1-0.5^2)^32 ≈ 0.9999, i.e. 1 in 10k true pairs
    // AT the threshold would be a spurious oracle failure. The DedupSpec
    // canary asserts the weakest-pair margin PER SCALE FACTOR (j=0.8 →
    // miss probability 6e-15); a new generator/SF must re-establish that
    // margin (or widen the banding) before trusting this oracle.
    "q29_minhash_lsh" -> ((s, dir) => {
      lshNeardupPairsShared(s, dir)
        .select(col("d1"), col("d2"), round(col("jac"), 4).as("jac"))
        .orderBy("d1", "d2")
    }),

    // SimHash near-dup: 64-bit signature, 4×16-bit bands as blocking keys,
    // hamming ≤ 3 verification within buckets. Oracle-checked: the FNV
    // hashing, bit-majority votes, banding and hamming verify are all
    // deterministic, and the DuckDB oracle recomputes every step.
    // Token-less documents (no [a-z] content) are excluded BEFORE banding:
    // they have no content to fingerprint (signature would be the
    // degenerate 0, banding any two such docs together), and the oracle's
    // token-unnest derivation never sees them — agreement by construction
    // rather than by the corpus happening to contain none.
    "q30_simhash_pairs" -> ((s, dir) => {
      // tokenize ONCE (r6 regressed q30 0.56→0.84 s by running the regex
      // tokenizer twice per row — once in the zero-token filter, once in
      // the UDF): the null-on-empty UDF folds the parity filter into the
      // single hash projection, and the checkpoint materializes the tiny
      // (doc_id, sim) table so the banded SELF-join doesn't scan+rehash
      // the corpus twice (the q29 staged-intermediate pattern).
      // Banding PINNED at 4×16 bits: the DuckDB oracle recomputes this
      // exact derivation (q124, the production sibling, carries the
      // deployment knob).
      val sh = Tables.documents(s, dir)
        .select(col("doc_id"), simhashNonEmptyUdf(tokens(col("text"))).as("sim"))
        .filter(col("sim").isNotNull)
        .localCheckpoint()
      val banded = sh.select(col("doc_id"), col("sim"),
        explode(simhashBandKeys(col("sim"), 16)).as("bucket"))
      banded.as("a").join(banded.as("b"),
          col("a.bucket") === col("b.bucket") && col("a.doc_id") < col("b.doc_id"))
        .select(col("a.doc_id").as("d1"), col("b.doc_id").as("d2"),
          col("a.sim").as("s1"), col("b.sim").as("s2"))
        .distinct()
        // builtin bit_count(xor) — codegen'd, no UDF; same value as
        // TextFunctions.hamming64
        .withColumn("hamming", bit_count(col("s1").bitwiseXOR(col("s2"))))
        .filter(col("hamming") <= SimhashHammingMax)
        .select("d1", "d2", "hamming")
        .orderBy("d1", "d2")
    }),

    // SimHash KEEP-decision — q30's production sibling (the q29-to-q28
    // pattern, r15): same band blocking and hamming ≤ 3 verify, but
    // the output is the dedup DECISION (per-lang kept counts + id
    // checksum), never the pair list. q30's pair-list output is
    // quadratic under exact copies (641× pair growth at the 10× replica
    // — the measured shape that moved it into the bench's quarantined
    // "baselines" bucket); a deployed pipeline consumes the keep set,
    // whose output is bounded by languages regardless of copy floods.
    // The candidate JOIN cost (Σ bucket²) is inherent to pair-based
    // dedup and shared with q38's accepted production form — with one
    // law difference worth naming (SCALING §6c-r16): simhash bands hash
    // into a FIXED 2^bits bucket space per band, so expected candidates
    // grow ~bands·n²/2^bits (measured 2.3× wall for 10× organic data at
    // the 4×16 default — trivial constants at these corpora). The
    // banding width is a REAL session conf (r17, the hop-2-conf
    // pattern): `spark.graft.simhash.bandBits`, default 16 — any valid
    // setting preserves the keep set bit-for-bit (bands > hamming
    // pigeonhole: banding stays candidate-complete, the hamming verify
    // fixes the pair set), so the knob trades candidate volume against
    // bucket-key cardinality without forking the oracle. kept =
    // documents minus q30's d2 side, so q30 (pinned at the 4×16
    // default) remains this query's verification twin pair-for-pair.
    "q124_simhash_keep" -> ((s, dir) => {
      val bandBits = s.conf.get(SimhashBandBitsConf,
        SimhashBandBitsDefault.toString).toInt
      val lossy = s.conf.get(SimhashLossyBandsConf, "false").toBoolean
      // signatures hash the PERSISTED token arrays (lexdocs) — the
      // production path tokenizes once per corpus snapshot, so the
      // regex pass is gone from this query (q30, the quarantined
      // verification twin, keeps the from-text derivation the oracle
      // replays; wordNgrams/simhash inputs are bit-equal by the shared
      // tokenizer contract)
      val sh = lexDocsShared(s, dir)
        .select(col("doc_id"), simhashNonEmptyUdf(col("t")).as("sim"))
        .filter(col("sim").isNotNull)
        .localCheckpoint()
      val banded = sh.select(col("doc_id"), col("sim"),
        explode(simhashBandKeys(col("sim"), bandBits, lossy)).as("bucket"))
      val dupIds = banded.as("a").join(banded.as("b"),
          col("a.bucket") === col("b.bucket") && col("a.doc_id") < col("b.doc_id"))
        .filter(bit_count(col("a.sim").bitwiseXOR(col("b.sim"))) <= SimhashHammingMax)
        .select(col("b.doc_id").as("doc_id")).distinct()
      Tables.documents(s, dir)
        .join(broadcast(dupIds), Seq("doc_id"), "left_anti")
        .groupBy(col("lang"))
        .agg(count(lit(1)).as("n_kept"), sum("doc_id").as("id_checksum"))
        .orderBy("lang")
    }),

    // End-to-end dedup selection: drop the higher-id doc of every near-dup
    // pair (greedy by id), report the kept corpus per language. The
    // candidate→verify→anti-join shape is exactly how a 100 TB dedup pass
    // ends: the pair list is tiny relative to the corpus, so the final
    // anti-join broadcasts.
    "q38_dedup_keep" -> ((s, dir) => {
      // pairs come from the LSH path (same answer as the exact join, near-
      // linear candidate cost); the oracle still runs the exact join.
      val dupIds = lshNeardupPairsShared(s, dir)
        .select(col("d2").as("doc_id")).distinct()
      Tables.documents(s, dir)
        .join(broadcast(dupIds), Seq("doc_id"), "left_anti")
        .groupBy(col("lang"))
        .agg(count(lit(1)).as("n_kept"), sum("doc_id").as("id_checksum"))
        .orderBy("lang")
    }),

    // Corpus token frequencies, top-10 (explode → count → total-ordered
    // limit). The groupBy key is the token — partial aggregation absorbs
    // the heavy hitters before the shuffle.
    "q39_top_tokens" -> ((s, dir) => {
      // split+explode stays in whole-stage codegen (no HOF, no UDF);
      // empty tokens from leading/trailing spaces are filtered post-explode
      Tables.documents(s, dir)
        .select(explode(split(
          regexp_replace(lower(col("text")), "[^a-z ]", " "), "\\s+")).as("token"))
        .filter(length(col("token")) > 0)
        .groupBy(col("token"))
        .agg(count(lit(1)).as("n"))
        .orderBy(col("n").desc, col("token"))
        .limit(10)
    }),

    // PORTABLE deterministic Count-Min sketch — heavy hitters without the
    // full token→count table. q39 is the exact top-k; THIS is the sketch
    // answer an engine gives when the token universe doesn't fit: d=4
    // md5-derived hash rows × w=1024 counters (4 hex chars = 16 bits,
    // 65536/1024 exact → zero modulo bias), point estimate = min over the
    // 4 counters (Cormode-Muthukrishnan 2005). Every counter is an integer
    // sum over md5 buckets, so the whole sketch replays bit-for-bit in any
    // engine — same portability argument as q82's HLL. At 100 TB the
    // counter table is 4×1024 longs (one map-side partial agg, ~KB
    // shuffle) vs an exact distinct-token shuffle in the billions; the
    // candidate probe is a broadcast join against that tiny table. Output
    // pins the top-20 exact tokens with their sketch estimates — the
    // cms_est ≥ n overestimate guarantee is asserted in QueriesSpec.
    "q87_cms_heavy_hitters" -> ((s, dir) => {
      // token census from the persisted tokenized corpus (same
      // multiset as the former inline lower/strip/split/length>0 —
      // tokens() only additionally trims, which the length filter
      // already covered)
      val tok = lexDocsShared(s, dir)
        .select(explode(col("t")).as("token"))
        .groupBy(col("token"))
        .agg(count(lit(1)).as("n"))
      def bucket(j: Int): Column =
        pmod(conv(substring(md5(concat(lit(s"cms$j:"), col("token"))), 1, 4),
          16, 10).cast("long"), lit(1024))
      val withB = tok.select(col("token") +: col("n") +:
        (0 until 4).map(j => bucket(j).as(s"b$j")): _*)
      val counters = withB
        .select(col("n"), expr("stack(4, 0, b0, 1, b1, 2, b2, 3, b3) AS (j, b)"))
        .groupBy(col("j"), col("b")).agg(sum(col("n")).as("c"))
      withB.orderBy(col("n").desc, col("token")).limit(20)
        .select(col("token"), col("n"),
          expr("stack(4, 0, b0, 1, b1, 2, b2, 3, b3) AS (j, b)"))
        .join(broadcast(counters), Seq("j", "b"))
        .groupBy(col("token"), col("n")).agg(min(col("c")).as("cms_est"))
        .orderBy(col("n").desc, col("token"))
    }),

    // Weighted sampling without replacement in ONE distributed pass —
    // Efraimidis-Spirakis A-ES: per-doc key ln(u)/w (monotone equivalent
    // of u^(1/w)), take the k largest keys. u is the q53 salted-md5
    // uniform ((first-8-hex + 0.5) / 2^32 — dyadic-exact both engines), w
    // = token count, so the draw is deterministic and engine-independent:
    // the canonical way to draw a token-weighted training subsample from
    // 100 TB without a global RNG or a second pass (top-k = partial
    // per-partition heaps + single driver merge via TakeOrderedAndProject,
    // no global sort, no window). Keys are random-spaced (~1e-5 gaps at
    // the k-boundary) so the one libm ln call can't flip the cut.
    "q88_weighted_sample" -> ((s, dir) => {
      val u = (conv(substring(md5(concat(lit("wrs:"),
        col("doc_id").cast("string"))), 1, 8), 16, 10).cast("double") +
        lit(0.5)) / lit(4294967296.0)
      Tables.documents(s, dir)
        .select(col("doc_id"), col("source"),
          greatest(size(tokens(col("text"))), lit(1)).cast("long").as("w"),
          u.as("u"))
        .select(col("doc_id"), col("source"), col("w"),
          (log(col("u")) / col("w")).as("key"))
        .orderBy(col("key").desc, col("doc_id"))
        .limit(100)
        .select(col("doc_id"), col("source"), col("w"),
          round(col("key"), 9).as("sample_key"))
    }),

    // Passage-level exact dedup — the boilerplate-removal granularity
    // between whole-doc exact dedup (q27) and near-dup (q29): chop each
    // doc into non-overlapping 20-token chunks (the fixed-width passage
    // window production pipelines use when no sentence boundaries exist),
    // md5 each chunk, count hash occurrences corpus-wide, report per
    // source how much of its text is duplicated passages. Chunking is
    // row-local column math (one explode of chunk starts 1, 21, 41, …);
    // the only corpus-wide stage is a hash-keyed count + a join keyed on
    // the chunk hash (q67's LM-scoring shape — the chunk vocabulary is
    // unbounded, so broadcast would be wrong at 100 TB). Tail tokens
    // (len % 20) are dropped deterministically on both engines.
    "q89_passage_dedup" -> ((s, dir) => {
      // ONE chunk-hash shuffle: the occurrence stream hash-partitions by
      // h and each chunk's corpus-wide total rides a count window over
      // that partitioning (partitions are chunk-hash-sized — bounded by
      // a chunk's df, never the corpus), so the former corpus-sized
      // localCheckpoint + census shuffle + join-back shuffle collapse
      // into one Exchange; tokens slide over the persisted tokenized
      // corpus (lexdocs — the q106/q68 artifact-consumer shape), so the
      // per-query re-tokenize is gone too. Only (source, h) shuffles.
      val wTot = Window.partitionBy(col("h"))
      lexDocsShared(s, dir)
        .select(col("source"), col("t"))
        .filter(size(col("t")) >= 20)
        .select(col("source"), col("t"),
          explode(sequence(lit(1), size(col("t")) - 19, lit(20))).as("i"))
        .select(col("source"),
          md5(array_join(slice(col("t"), col("i"), lit(20)), " ")).as("h"))
        .repartition(col("h"))
        .withColumn("tot", count(lit(1)).over(wTot))
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_chunks"),
          sum(when(col("tot") >= 2, 1L).otherwise(0L)).as("dup_chunks"))
        .withColumn("dup_ratio",
          round(col("dup_chunks") / col("n_chunks").cast("double"), 4))
        .orderBy("source")
    }),

    // Per-source TF-IDF salient terms — the IR primitive a corpus
    // explorer runs first: which tokens characterize each source against
    // the rest of the corpus. df = docs containing the token (per-doc
    // dedup is row-local array_distinct, q68's trick — the df census is
    // born distinct, one vocab-sized shuffle); tf aggregates occurrences
    // per (source, token); score = tf · ln(N/df). The ranking window
    // partitions by source over the vocab-sized score table — never over
    // occurrences — so the corpus-linear stages are all partial-agg
    // shuffles. rk cast to INT to match DuckDB row_number's BIGINT.
    "q90_tfidf_terms" -> ((s, dir) => {
      val nDocs = Tables.rowCount(s, dir, "documents")
      // both censuses (tf, df) read the persisted tokenized corpus —
      // the lazy `tok` used to re-run the text regexes once per census
      val tok = lexDocsShared(s, dir).select(col("source"), col("t"))
      val tf = tok.select(col("source"), explode(col("t")).as("token"))
        .groupBy(col("source"), col("token")).agg(count(lit(1)).as("tf"))
      val df = CorpusStatsMaintenance.dfCensus(tok)
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("source"))
        .orderBy(col("score").desc, col("token"))
      tf.join(df, "token")
        .withColumn("score",
          col("tf") * log(lit(nDocs.toDouble) / col("df")))
        .withColumn("rk", row_number().over(w))
        .filter(col("rk") <= 5)
        .select(col("source"), col("rk"), col("token"),
          round(col("score"), 4).as("tfidf"))
        .orderBy(col("source"), col("rk"))
    }),

    // Connected-components dedup clustering: the transitive-closure step a
    // production dedup pipeline ends with (greedy pair-drop under-merges
    // chained near-dups A~B~C). Edges = jaccard ≥ 0.5 pairs; components
    // via distributed min-label propagation iterated to fixpoint — each
    // round is one shuffle on doc_id, rounds needed = cluster diameter
    // (tiny for dup clusters), convergence checked with a count action
    // (the k-means pattern, not a driver-side data loop). At 100 TB the
    // edge list is ≪ corpus (post-LSH), so each round shuffles only the
    // paired docs.
    "q52_dedup_components" -> ((s, dir) => {
      neardupComponentsShared(s, dir)
        .groupBy(col("component"))
        .agg(count(lit(1)).as("n_docs"), min(col("doc_id")).as("keep_doc"))
        .filter(col("n_docs") >= 2)
        .orderBy("component")
    }),

    // Dedup-audit histogram — the report a dedup pass ends with: how many
    // clusters of each size did transitive closure find, and how many docs
    // sit in them (size 2 = simple pairs, long tail = template families
    // worth a human look). Same component machinery as q52; the histogram
    // is two tiny aggregations over the component labels.
    "q72_cluster_histogram" -> ((s, dir) => {
      neardupComponentsShared(s, dir)
        .groupBy(col("component")).agg(count(lit(1)).as("sz"))
        .filter(col("sz") >= 2)
        .groupBy(col("sz"))
        .agg(count(lit(1)).as("n_clusters"), sum(col("sz")).as("n_docs"))
        .select(col("sz").as("cluster_size"), col("n_clusters"), col("n_docs"))
        .orderBy("cluster_size")
    }),

    // Deterministic train/valid/test split — the training-data op every
    // corpus pipeline needs: assignment is a pure function of the stable
    // doc_id (salted md5, first hex nibble: 12/16 train, 2/16 valid, 2/16
    // test), so it is reproducible across runs, engines and re-partitions,
    // and joins/filters on `split` need no shuffle of any split table.
    // Fully oracle-checked (md5 hex is engine-identical).
    "q53_train_split" -> ((s, dir) => {
      Tables.documents(s, dir)
        .withColumn("split", splitAssign(col("doc_id")))
        .groupBy(col("split"))
        .agg(count(lit(1)).as("n_docs"),
          sum("n_chars").as("total_chars"),
          sum("doc_id").as("id_checksum"))
        .orderBy("split")
    }),

    // Repetition / boilerplate scoring (Gopher-style quality rule): per-doc
    // duplicate-3-gram ratio (1 - distinct/total), aggregated per source
    // with a >0.2 boilerplate count. Per-row bounded work (the doc's own
    // gram list) — scales as a pure map + one agg shuffle. Oracle-checked
    // against the same lateral-unnest gram construction q28 uses.
    "q54_repetition" -> ((s, dir) => {
      Tables.documents(s, dir)
        .select(col("doc_id"), col("source"),
          wordNgramsUdf(3)(col("text")).as("g"))
        .select(col("source"), size(col("g")).as("total"),
          size(array_distinct(col("g"))).as("dist"))
        .withColumn("dup_ratio", when(col("total") === 0, 0.0)
          .otherwise(lit(1.0) - col("dist") / col("total").cast("double")))
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_docs"),
          round(avg("dup_ratio"), 4).as("avg_dup_ratio"),
          round(max("dup_ratio"), 4).as("max_dup_ratio"),
          sum(when(col("dup_ratio") > 0.2, 1L).otherwise(0L)).as("n_boilerplate"))
        .orderBy("source")
    }),

    // Split-leakage / contamination check: near-dup pairs whose members
    // land in DIFFERENT q53 splits — the eval-set contamination a training
    // pipeline must catch before anything ships. Pairs come from the LSH
    // path (near-linear); the oracle recomputes them with the exact join,
    // so this doubles as an end-to-end proof that LSH candidates + the
    // split function compose losslessly.
    "q55_split_leakage" -> ((s, dir) => {
      val split = Tables.documents(s, dir)
        .select(col("doc_id"), splitAssign(col("doc_id")).as("split"))
      lshNeardupPairsShared(s, dir)
        .join(split.select(col("doc_id").as("d1"), col("split").as("s1")), "d1")
        .join(split.select(col("doc_id").as("d2"), col("split").as("s2")), "d2")
        .filter(col("s1") =!= col("s2"))
        .withColumn("leak_pair",
          concat_ws("|", array_sort(array(col("s1"), col("s2")))))
        .groupBy(col("leak_pair"))
        .agg(count(lit(1)).as("n_pairs"),
          sum(col("d1") + col("d2")).as("id_checksum"))
        .orderBy("leak_pair")
    }),

    // Sequence-length bucketing for training batches: docs binned by
    // token count into power-ish buckets, with per-bucket packing
    // efficiency (tokens used / slots padded to the bucket length) — the
    // batching-efficiency report a sequence-packing pipeline runs before
    // choosing bucket boundaries. Pure map + one agg shuffle.
    "q58_length_buckets" -> ((s, dir) => {
      Tables.documents(s, dir)
        .select(tokenCount(col("text")).as("n_tok"))
        .withColumn("bucket",
          when(col("n_tok") <= 32, 32)
            .when(col("n_tok") <= 48, 48)
            .when(col("n_tok") <= 64, 64)
            .otherwise(128))
        .groupBy(col("bucket"))
        .agg(count(lit(1)).as("n_docs"),
          sum("n_tok").as("total_tokens"),
          round(sum("n_tok") / (count(lit(1)) * col("bucket")).cast("double"), 4)
            .as("packing_efficiency"))
        .orderBy("bucket")
    }),

    // Source-mixture weighting: per-source corpus share vs a uniform
    // target mixture → capped sampling rate per source (the data-mixing
    // step before a training run; a real pipeline would take target
    // weights as config). Two tiny aggregates — scales trivially.
    "q59_source_mixture" -> ((s, dir) => {
      val w = wholeCensus("n_docs")
      Tables.documents(s, dir)
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_docs"))
        .withColumn("share",
          col("n_docs") / sum(col("n_docs")).over(w).cast("double"))
        .withColumn("target_share",
          lit(1.0) / count(lit(1)).over(w).cast("double"))
        .select(col("source"), col("n_docs"),
          round(col("share"), 4).as("share"),
          round(least(lit(1.0), col("target_share") / col("share")), 4)
            .as("sample_rate"))
        .orderBy("source")
    }),

    // Unigram surprisal scoring (perplexity-style quality filter): token
    // -log(corpus frequency) averaged per doc, rolled up per source — docs
    // full of rare tokens score high, boilerplate scores low. Two passes:
    // corpus unigram table (one agg), then explode + broadcast-join the
    // frequency table + per-doc average. The frequency table is vocabulary-
    // sized (≪ corpus) so it broadcasts at any corpus scale.
    // Per-source KL divergence vs the corpus unigram distribution — the
    // mixture-curation diagnostic that answers "which sources are
    // distributionally far from the blend" (what a recipe tunes before
    // reweighting). Plan shape: one (source, token) aggregation, then the
    // corpus-frequency table is JOINED on token, never broadcast —
    // vocabulary is unbounded at 100 TB (same call as q67's bigram LM) —
    // while the 1-row corpus total and the |sources|-row totals broadcast.
    // Σ p·ln(p/q) sums per-source over the vocabulary; round(4) absorbs
    // libm/summation-order jitter (the q60 precedent).
    "q85_source_kl" -> ((s, dir) => {
      // the (source, token) census feeds FOUR plan references (srcTot,
      // the corpus census — both sides of its token join — and the main
      // spine): left lazy, Catalyst re-evaluates the corpus explode +
      // census shuffle per reference. Materialized once, the census is
      // sources×vocab-sized (bounded by the vocabulary, not the corpus),
      // so every downstream pass reads blocks instead of re-tokenizing.
      val st = lexDocsShared(s, dir) // persisted tokens, no re-tokenize
        .select(col("source"), explode(col("t")).as("token"))
        .groupBy(col("source"), col("token")).agg(count(lit(1)).as("c_st"))
        .localCheckpoint()
      val srcTot = st.groupBy(col("source")).agg(sum(col("c_st")).as("n_s"))
      val corpus = st.groupBy(col("token")).agg(sum(col("c_st")).as("c_t"))
      val total = corpus.agg(sum(col("c_t")).as("n_tot"))
      val p = col("c_st") / col("n_s").cast("double")
      val q = col("c_t") / col("n_tot").cast("double")
      st.join(broadcast(srcTot), "source")
        .join(corpus, "token")
        .crossJoin(broadcast(total))
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_types"),
          sum(col("c_st")).as("n_tokens"),
          round(sum(p * log(p / q)), 4).as("kl"))
        .orderBy("source")
    }),

    "q60_unigram_surprisal" -> ((s, dir) => {
      // token stream from the persisted tokenized corpus: `toks` feeds
      // BOTH the frequency census and the scoring join, so the from-text
      // form ran the regex tokenize twice per query (the artifact read
      // is a pruned parquet scan per consumer instead). The inline
      // lower/strip/split/length>0 pipeline it replaces produces the
      // same token multiset as tokens() — trim only removes tokens the
      // length filter dropped anyway.
      val toks = lexDocsShared(s, dir)
        .select(col("doc_id"), col("source"), explode(col("t")).as("token"))
      val freq = toks.groupBy(col("token"))
        .agg(count(lit(1)).as("tf"))
      // corpus-total as a broadcast 1-row join, NOT a single-partition
      // window: vocabulary is unbounded, so a partitionBy(lit(1)) window
      // would funnel the whole frequency table through one task
      val total = freq.agg(sum(col("tf")).as("tot"))
      val probs = freq.crossJoin(broadcast(total))
        .withColumn("p", col("tf") / col("tot").cast("double"))
      toks.join(broadcast(probs.select(col("token"), col("p"))), "token")
        .groupBy(col("doc_id"), col("source"))
        .agg(avg(-log(col("p"))).as("surprisal"))
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_docs"),
          round(avg("surprisal"), 4).as("avg_surprisal"),
          round(max("surprisal"), 4).as("max_surprisal"))
        .orderBy("source")
    }),

    // End-to-end training-corpus export — the query a pipeline runs LAST:
    // keep docs that are (a) not the dropped side of a near-dup pair (the
    // LSH path, same answer as the exact join), (b) in the q53 train
    // split, (c) above a quality floor; report per-lang counts + id
    // checksum + token total. Composes q38 + q53 + q25 machinery; the
    // oracle recomputes all three from scratch in SQL.
    "q61_train_export" -> ((s, dir) => {
      val dupIds = lshNeardupPairsShared(s, dir)
        .select(col("d2").as("doc_id")).distinct()
      Tables.documents(s, dir)
        .join(broadcast(dupIds), Seq("doc_id"), "left_anti")
        .withColumn("split", splitAssign(col("doc_id")))
        .filter(col("split") === "train")
        .withColumn("q", qualityScore(col("text")))
        .filter(col("q") >= 0.5)
        .groupBy(col("lang"))
        .agg(count(lit(1)).as("n_docs"),
          sum("doc_id").as("id_checksum"),
          sum(tokenCount(col("text"))).as("total_tokens"))
        .orderBy("lang")
    }),

    // Winnowing document fingerprints (k=5 chars, window=4): per-doc
    // fingerprint count + min fingerprint (stable identity). Oracle-
    // checked: the oracle recomputes the same FNV k-gram hashes and
    // Schleimer windows relationally (HUGEINT mod-2^64 arithmetic).
    "q31_fingerprints" -> ((s, dir) => {
      Tables.documents(s, dir)
        .select(col("doc_id"), winnowingUdf(5, 4)(col("text")).as("fps"))
        .select(col("doc_id"), size(col("fps")).as("n_fps"),
          array_min(col("fps")).as("min_fp"))
        .orderBy("doc_id")
    }),

    // Deterministic mixture downsampling — q59's sampling rates APPLIED:
    // rebalance the corpus toward a uniform language mixture by keeping
    // each doc iff a salted-md5 hash of its id falls under its language's
    // sample rate. The hash-threshold keep decision is a pure function of
    // (doc_id, rate): reproducible across engines, partitionings, and
    // re-runs — rerunning the pipeline after adding docs never flips the
    // verdict on an old doc (the property reservoir/random sampling lacks).
    // Plan: tiny per-lang rate table (cardinality = #langs, bounded) built
    // with a one-row-per-lang window, broadcast to the corpus scan, one
    // agg shuffle. The 16-bit hash bucket divides by 2^16 exactly, so the
    // `< rate` compare has no float ambiguity against the oracle.
    "q65_mixture_downsample" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
      val w = wholeCensus("n_docs") // input = per-lang agg, bounded
      val rates = docs.groupBy(col("lang"))
        .agg(count(lit(1)).as("n_docs"))
        .withColumn("share",
          col("n_docs") / sum(col("n_docs")).over(w).cast("double"))
        .withColumn("target_share",
          lit(1.0) / count(lit(1)).over(w).cast("double"))
        .select(col("lang"),
          round(least(lit(1.0), col("target_share") / col("share")), 4)
            .as("sample_rate"))
      val bucket = conv(substring(
        md5(concat(lit("sample:"), col("doc_id").cast("string"))), 1, 4),
        16, 10).cast("long")
      docs.join(broadcast(rates), "lang")
        .withColumn("keep", bucket / lit(65536.0) < col("sample_rate"))
        .groupBy(col("lang"))
        .agg(count(lit(1)).as("n_docs"),
          min(col("sample_rate")).as("sample_rate"),
          sum(when(col("keep"), 1).otherwise(0)).cast("long").as("n_kept"),
          coalesce(sum(when(col("keep"), col("doc_id"))), lit(0L))
            .as("id_checksum"))
        .orderBy("lang")
    }),

    // PII scrub (redaction) — emails, phone numbers, IPv4 addresses
    // replaced with typed placeholders, with per-source redaction counts.
    // The corpus is synthetic word-soup with no real PII, so the query
    // first injects deterministic PII derived from doc_id (one email, one
    // phone, one IP per doc) and then scrubs it — the operator is
    // exercised on known-positive input and the oracle checks both the
    // match counts and the scrubbed text lengths. Patterns are kept in
    // the Java∩RE2 common dialect so Spark and DuckDB agree. Per-row
    // bounded regex work + one agg shuffle — scales linearly.
    "q66_pii_scrub" -> ((s, dir) => {
      val emailRe = "[A-Za-z0-9.]+@[A-Za-z0-9]+\\.[A-Za-z]{2,}"
      val phoneRe = "\\+1-555-\\d{4}"
      val ipRe = "\\b\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\b"
      val raw = concat(col("text"),
        lit(" contact user"), col("doc_id").cast("string"),
        lit("@example.com or +1-555-"),
        lpad((col("doc_id") % 10000).cast("string"), 4, "0"),
        lit(" from 10."), (col("doc_id") % 256).cast("string"), lit(".0.1"))
      val scrubbed = regexp_replace(regexp_replace(regexp_replace(
        col("raw"), emailRe, "<EMAIL>"), phoneRe, "<PHONE>"), ipRe, "<IP>")
      Tables.documents(s, dir)
        .select(col("source"), raw.as("raw"))
        .select(col("source"),
          regexp_count(col("raw"), lit(emailRe)).as("n_email"),
          regexp_count(col("raw"), lit(phoneRe)).as("n_phone"),
          regexp_count(col("raw"), lit(ipRe)).as("n_ip"),
          length(scrubbed).as("scrubbed_len"))
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_docs"),
          sum("n_email").as("n_emails"),
          sum("n_phone").as("n_phones"),
          sum("n_ip").as("n_ips"),
          sum("scrubbed_len").as("scrubbed_chars"))
        .orderBy("source")
    }),

    // Bigram conditional surprisal — q60's unigram filter upgraded to a
    // first-order language model: per-doc avg -log p(w2|w1) with
    // p(w2|w1) = c(w1 w2) / c(w1·) over the corpus. Repetitive/template
    // docs score near 0 (their bigrams are predictable), diverse docs
    // score high. The per-doc score table is the persisted corpus-LM
    // artifact (docSurprisalShared — bigrams via array zip_with, no
    // per-doc window; the bigram table is O(V²)-unbounded so the scoring
    // join is a plain shuffle join on the bigram key, NOT a forced
    // broadcast), built once per corpus snapshot and shared with the
    // q98 terciles and the q100 funnel.
    "q67_bigram_surprisal" -> ((s, dir) => {
      // the per-doc scoring table is the shared corpus-LM artifact
      // (docSurprisalShared); this query is its per-source report
      docSurprisalShared(s, dir)
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_docs"),
          round(avg("s"), 4).as("avg_surprisal"),
          round(max("s"), 4).as("max_surprisal"))
        .orderBy("source")
    }),

    // Eval-set contamination by exact n-gram collision — the classic
    // "does any eval doc share a long n-gram with train" check, the
    // exact-overlap complement of q55's Jaccard-near-dup leakage: q55
    // catches whole-document near-dups, this catches verbatim phrase
    // reuse between splits (5-gram here ≈ the 8-13 gram checks at real
    // corpus scale, scaled to these short synthetic docs). Plan: one
    // distinct over (doc_id, gram), split assignment is a pure hash of
    // doc_id, then a single shuffle join keyed on the gram. At 100 TB
    // the standard hardening applies: drop ultra-frequent grams first
    // (they indicate boilerplate, not contamination) — same hot-key cap
    // machinery as lshPairsFromDocs.
    "q68_ngram_contamination" -> ((s, dir) => {
      // per-doc gram dedup happens in the array BEFORE the explode —
      // array_distinct is row-local, so the (doc_id, gram) relation is
      // born distinct and the corpus-wide distinct shuffle disappears
      // the (doc_id, g) relation comes from the persisted shingle-table
      // artifact (gram5Shared, shared with q107); the split column is
      // row-local and stays lazy on top of it
      val grams = gram5Shared(s, dir)
        .select(col("doc_id"), col("g"))
        .withColumn("split", splitAssign(col("doc_id")))
      val train = grams.filter(col("split") === "train")
        .select(col("g")).distinct()
      // both distinct counts in ONE pass over the contaminated rows
      // (Expand ×2 + two-phase distinct aggregate with map-side partial
      // dedup) — the former shape checkpointed the join output and ran
      // two separate distinct pipelines plus a final join to reassemble
      grams.filter(col("split") =!= "train")
        .join(train, "g")
        .groupBy(col("split"))
        .agg(countDistinct(col("g")).as("n_shared_grams"),
          countDistinct(col("doc_id")).as("n_contaminated_docs"))
        .orderBy("split")
    }),

    // Sequence-packing manifest — the doc→pack assignment for training
    // sequence packing (concatenate docs to 2048-token packs, splitting a
    // doc across the boundary it straddles, the GPT-style packing shape
    // q58 only measures the efficiency of). Packing is inherently a
    // running sum, so it is SHARDED to stay parallel: pack group =
    // doc_id % 16 (pure function of the stable id — reproducible), each
    // group packs independently with a cumsum window over its own docs.
    // At 100 TB the group count is the parallelism knob (id % 100k);
    // packs per group = ceil(group tokens / 2048) exactly because splits
    // fill every boundary. Reports per group: docs, tokens, packs, fill
    // of the last (only partially filled) pack, and which docs straddle
    // boundaries (count + id checksum) — the manifest a pack-writer job
    // consumes.
    "q73_sequence_packing" -> ((s, dir) => {
      val p = 2048L
      val w = Window.partitionBy(col("grp")).orderBy(col("doc_id"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      Tables.documents(s, dir)
        .select(col("doc_id"), (col("doc_id") % 16).as("grp"),
          tokenCount(col("text")).cast("long").as("ntok"))
        .withColumn("cum", sum(col("ntok")).over(w))
        // a doc occupies 0-based token positions [cum-ntok, cum-1]; it is
        // split iff its first and last positions land in different packs
        // (integer div — the long `/` would be double division)
        .withColumn("straddle",
          expr(s"((cum - ntok) div $p) != ((cum - 1) div $p)"))
        .groupBy(col("grp"))
        .agg(count(lit(1)).as("n_docs"),
          sum(col("ntok")).as("n_tokens"),
          expr(s"(max(cum) + ${p - 1}) div $p").as("n_packs"),
          sum(when(col("straddle"), 1).otherwise(0)).cast("long").as("n_split_docs"),
          coalesce(sum(when(col("straddle"), col("doc_id"))), lit(0L))
            .as("split_id_checksum"))
        .orderBy("grp")
    }),

    // Held-out perplexity evaluation — q60's surprisal done properly: the
    // unigram LM is trained on the q53 TRAIN split only (add-1 smoothing
    // over the train vocabulary, unseen tokens get the UNK mass) and
    // scored on the VALID split — the metric that actually detects
    // distribution shift between what a model trains on and what it is
    // evaluated on. Same scale shape as q60: the LM is vocabulary-sized
    // (broadcast), the corpus-total and vocab-size are 1-row broadcast
    // scalars, never a one-partition window.
    "q76_heldout_perplexity" -> ((s, dir) => {
      // token stream from the persisted tokenized corpus (lexdocs):
      // both consumers (train-side LM census, valid-side scoring) read
      // the artifact's token arrays with a row-local explode, so the
      // former corpus-TOKEN-stream localCheckpoint — a per-run
      // materialization ~5× the corpus bytes — disappears, and neither
      // pass re-runs the text regexes (split is row-local key math)
      val toks = lexDocsShared(s, dir)
        .withColumn("split", splitAssign(col("doc_id")))
        .select(col("doc_id"), col("lang"), col("split"),
          explode(col("t")).as("token"))
      val freq = toks.filter(col("split") === "train")
        .groupBy(col("token")).agg(count(lit(1)).as("tf"))
      val totals = freq.agg(sum(col("tf")).as("n"),
        count(lit(1)).as("v"))
      val scored = toks.filter(col("split") === "valid")
        .join(broadcast(freq), Seq("token"), "left")
        .crossJoin(broadcast(totals))
        .withColumn("p",
          (coalesce(col("tf"), lit(0L)) + 1) /
            (col("n") + col("v") + 1).cast("double"))
      scored
        .groupBy(col("doc_id"), col("lang"))
        .agg(avg(-log(col("p"))).as("surprisal"))
        .groupBy(col("lang"))
        .agg(count(lit(1)).as("n_docs"),
          round(avg("surprisal"), 4).as("avg_surprisal"),
          round(max("surprisal"), 4).as("max_surprisal"))
        .orderBy("lang")
    }),

    // Model-based quality filtering — the trained-classifier step (the
    // fastText-classifier analogue) a pretraining pipeline runs after its
    // heuristic rules: a multinomial Naive Bayes lexical model trained on
    // the q53 TRAIN split with q25's heuristic score as the (weak) label
    // (hi = qualityScore >= 0.8, the top-~40% band at the
    // test SFs; q61's 0.5 export floor is vacuous here — every doc clears
    // it), applied to the
    // VALID split, reported as the confusion table + mean decision margin
    // — how well the cheap heuristic generalizes through a learned model.
    // Same scale shape as q76: the model is vocabulary-sized (per-class
    // token counts, add-1 smoothing over the joint train vocab, unseen
    // tokens get the UNK mass), broadcast to the scoring join; priors and
    // totals are 1-row broadcast scalars; per-doc margins are partial-agg
    // sums. Decision sign is measured-safe (QueriesSpec pins min |margin|
    // orders of magnitude above cross-engine ln ulp noise); aggregate
    // margins round at 4 like every ln-based metric here.
    "q92_nb_quality_classifier" -> ((s, dir) => {
      nbQualityScored(s, dir)
        .groupBy(col("cls"), col("pred_class"))
        .agg(count(lit(1)).as("n_docs"),
          round(avg(col("margin")), 4).as("avg_margin"))
        .select(col("cls").as("true_class"), col("pred_class"),
          col("n_docs"), col("avg_margin"))
        .orderBy("true_class", "pred_class")
    }),

    // BPE tokenizer training — the merge table (the tokenizer artifact) a
    // training-data pipeline learns from its own corpus. Oracle-checked:
    // the DuckDB oracle replays all 20 greedy merges as a recursive CTE
    // over the word-type vocabulary (pair counts, tie-break, and the
    // left-to-right overlap rule all recomputed independently);
    // TextFunctionsSpec additionally pins the classic Sennrich corpus
    // merges against an in-memory reference implementation.
    "q74_bpe_merges" -> ((s, dir) => {
      bpeMergeTable(s, dir, steps = 20).orderBy("step")
    }),

    // BPE encoding report — the trained tokenizer APPLIED: re-segment the
    // corpus with q74's merge table and measure the compression it buys
    // (chars per symbol, symbols per word) per source. The merge table
    // comes from the fingerprinted artifact cache (q74 trains it; r5
    // retrained the identical 20-step loop here) and ships inside the
    // encode UDF closure — the broadcast-a-tiny-model pattern. The
    // greedy-merge replay runs once per (source, word TYPE) after a
    // count aggregation, not once per token occurrence — the shape every
    // tokenizer-stats job uses (Zipf: types ≪ tokens; at 100 TB the
    // occurrence-level UDF would replay identical folds billions of
    // times). The token-level aggregates are recovered exactly by
    // count-weighting: every sum is over the same small integers (all
    // < 2^53, so double division bits match avg()'s sum/count to the
    // bit). Oracle-checked end-to-end: the DuckDB oracle retrains the
    // merge table (q74's recursive CTE) and replays the encode fold per
    // word type; the spec additionally pins bpeEncodeWord against known
    // merges.
    "q75_bpe_encode" -> ((s, dir) => {
      val merges = bpeMergesShared(s, dir, steps = 20)
      val encodeUdf = udf((w: String) => bpeEncodeWord(w, merges).length)
      // (source, word-type) census over the persisted tokenized corpus
      lexDocsShared(s, dir)
        .select(col("source"), explode(col("t")).as("w"))
        .groupBy(col("source"), col("w")).agg(count(lit(1)).as("cnt"))
        .select(col("source"), col("cnt"), encodeUdf(col("w")).as("n_syms"),
          (length(col("w")) + 1).as("n_chars")) // + the </w> marker
        .groupBy(col("source"))
        .agg(sum(col("cnt")).as("n_words"),
          sum(col("n_syms") * col("cnt")).as("total_symbols"),
          round(sum(col("n_syms") * col("cnt")).cast("double") /
            sum(col("cnt")).cast("double"), 4).as("avg_symbols_per_word"),
          round(sum(col("n_chars") * col("cnt")) /
            sum(col("n_syms") * col("cnt")).cast("double"), 4)
            .as("chars_per_symbol"))
        .orderBy("source")
    }),

    // Per-domain cap (crawl-domain balancing): keep the top 15 docs per
    // source ranked by (quality desc, doc_id) — the standard guard
    // against one domain flooding the mixture. Stated as a bounded-state
    // typed Aggregator, NOT a window: a window partitioned by source
    // sorts every domain's full history through one task (a hot domain =
    // terabytes through one sort at 100 TB), while the aggregator's
    // map-side combine discards everything below the local top-15, so a
    // key's shuffle state is O(15) no matter how many docs it has. The
    // oracle recomputes the identical answer with a row_number window —
    // the form DuckDB can check row-for-row.
    "q69_domain_cap" -> ((s, dir) => {
      import s.implicits._
      val agg = new CorpusAggregators.TopKByQualityAgg(15)
      Tables.documents(s, dir)
        .withColumn("q", qualityScore(col("text")))
        .select(col("source"), col("q"), col("doc_id"))
        .as[(String, Double, Long)]
        .groupByKey(_._1)
        .agg(agg.toColumn.name("top"))
        .select(col("key").as("source"),
          col("top.n_kept").as("n_kept"),
          col("top.id_checksum").as("id_checksum"),
          round(col("top.min_quality"), 6).as("min_quality"))
        .orderBy("source")
    }),

    // Token-budget selection: per language, take docs best-quality-first
    // until a fixed token budget is exhausted — how a mixture is actually
    // drawn when the recipe says "2000 tokens of each language", not "N
    // docs". Two-phase cutoff form, NOT a corpus-wide running-sum window
    // (lang cardinality is tiny, so that window would pull a fifth of a
    // 100 TB corpus through one sorted task):
    //   1. aggregate token totals per (lang, quality level) — quality is
    //      rounded to 6 dp, so this table is bounded by langs × distinct
    //      levels, and the budget cutoff is found by a window over THAT;
    //   2. levels fully under budget keep every doc via a broadcast
    //      semi-join — no ordering needed;
    //   3. the one partially-afforded level per lang spends its remainder
    //      doc_id-first with a window over just that tie-group (bounded
    //      by the quality-tie cardinality, not the corpus).
    // Equivalent to the prefix of the (q desc, doc_id) total order with
    // running tokens <= budget — which is exactly what the oracle
    // recomputes as a single SQL window.
    "q70_token_budget" -> ((s, dir) => {
      val budget = 2000L
      // quality AND token count from the ONE-pass compiled twin (the
      // q25/q109 shape): the Column forms are two separate expression
      // trees over text, each inlining its regex subtrees per row.
      // m._3/m._4 are BIT-equal to qualityScore/tokenCount by the
      // QueriesSpec pin, so the keep decisions below cannot move; the
      // integer-valued-double → int cast is exact.
      val base = Tables.documents(s, dir)
        .select(col("lang"), col("doc_id"),
          qualityMetricsUdf(col("text")).as("m"))
        .select(col("lang"), col("doc_id"),
          col("m._3").as("q"), col("m._4").cast("int").as("ntok"))
        .localCheckpoint() // 3 consumers: level agg + both keep joins
      val byQ = base.groupBy(col("lang"), col("q"))
        .agg(sum("ntok").as("qtok"))
      val wAbove = Window.partitionBy(col("lang")).orderBy(col("q").desc)
        .rowsBetween(Window.unboundedPreceding, -1)
      val levels = byQ
        .withColumn("above", coalesce(sum(col("qtok")).over(wAbove), lit(0L)))
        .filter(col("above") < budget)
        .withColumn("remaining", lit(budget) - col("above"))
        .withColumn("full", col("qtok") <= col("remaining"))
      val fullKeep = base.join(broadcast(
        levels.filter(col("full")).select(col("lang"), col("q"))),
        Seq("lang", "q"))
      val wTie = Window.partitionBy(col("lang"), col("q"))
        .orderBy(col("doc_id"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val partialKeep = base.join(broadcast(
        levels.filter(!col("full"))
          .select(col("lang"), col("q"), col("remaining"))),
        Seq("lang", "q"))
        .withColumn("cum", sum(col("ntok")).over(wTie))
        .filter(col("cum") <= col("remaining"))
        .select(col("lang"), col("doc_id"), col("q"), col("ntok"))
      fullKeep.unionByName(partialKeep)
        .groupBy(col("lang"))
        .agg(count(lit(1)).as("n_docs"),
          sum("ntok").as("total_tokens"),
          sum("doc_id").as("id_checksum"))
        .orderBy("lang")
    }),

    // BM25 keyword retrieval — the lexical search primitive a curation
    // pipeline uses to pull topical slices out of a web corpus (and the
    // retrieval half of a RAG index). Query set: the 10 most
    // document-frequent tokens of length >= 5 (deterministic, replayed by
    // the oracle from the same df census — longer tokens skew content-ful;
    // the synthetic vocab tops out at 8 chars, so 5 yields a 15-token
    // candidate pool at every SF).
    // Okapi BM25 with k1=1.2, b=0.75: score = idf · tf·(k1+1) /
    // (tf + k1·(1−b+b·dl/avgdl)), idf = ln((N−df+0.5)/(df+0.5)+1).
    // Scale shape: the df census and doc lengths are vocab-/corpus-sized
    // partial aggs; the query-term table is top-10 of the vocab (global
    // TakeOrdered over the vocab-sized census, then BROADCAST), so the tf
    // aggregation shuffles only query-term occurrences — at 100 TB the
    // posting lists of 10 terms, not the corpus. avgdl is a 1-row
    // broadcast. The ranking window partitions by token over ≤ 10·N_hit
    // scored rows. All score inputs are integers (tf, df, dl) plus the
    // exactly-reproducible avgdl, evaluated in the same IEEE op order on
    // both engines, so the oracle is hash-exact at round(·, 4).
    "q94_bm25_search" -> ((s, dir) => {
      val nDocs = Tables.rowCount(s, dir, "documents")
      // tokenized corpus + df census from the persisted lexical-index
      // artifacts (lexDocsShared/lexDfShared) — shared with q99/q103
      val tok = lexDocsShared(s, dir)
      val dfT = lexDfShared(s, dir)
      val qterms = dfT.filter(length(col("token")) >= 5)
        .orderBy(col("df").desc, col("token")).limit(10)
      // avgdl from the 1-row lex-family artifact (r19): the inline
      // avg(size(t)) paid a full tokenized-corpus scan per run for one
      // corpus-snapshot scalar; the persisted double is bit-identical
      val avgdl = graft.operators.VectorQueries.lexStatsShared(s, dir)
      // `dl` rides the explode as a per-doc constant grouping key, so the
      // former corpus-sized lens join (a second full pass over the
      // tokenized corpus) disappears — the tf aggregation's shuffle
      // already carries only the broadcast query terms' posting lists,
      // and each surviving row now brings its own doc length along.
      val tf = tok.select(col("doc_id"), size(col("t")).as("dl"),
          explode(col("t")).as("token"))
        .join(broadcast(qterms), "token")
        .groupBy(col("token"), col("df"), col("doc_id"), col("dl"))
        .agg(count(lit(1)).as("tf"))
      val w = Window.partitionBy(col("token"))
        .orderBy(col("score").desc, col("doc_id"))
      tf.crossJoin(broadcast(avgdl))
        .withColumn("idf", log(
          (lit(nDocs.toDouble) - col("df") + lit(0.5)) / (col("df") + lit(0.5))
            + lit(1.0)))
        .withColumn("score", col("idf") *
          ((col("tf").cast("double") * lit(2.2)) /
            (col("tf").cast("double") + lit(1.2) *
              (lit(0.25) + lit(0.75) * (col("dl").cast("double") / col("avgdl"))))))
        .withColumn("rk", row_number().over(w))
        .filter(col("rk") <= 5)
        .select(col("token"), col("rk"), col("doc_id"),
          round(col("score"), 4).as("bm25"))
        .orderBy("token", "rk")
    }),

    // Canonical-representative selection — the keep POLICY a production
    // dedup pass actually ships: within each near-dup cluster keep the
    // highest-QUALITY member, not the arbitrary min-id q52 reports
    // (min-id is the label convention; the curation decision wants the
    // best-written copy). Composes two existing primitives: the persisted
    // component labels (q52's cluster table, built once per corpus) and
    // the q25 composite quality score (row-local column math). Selection
    // is ONE partial-aggregable min_by over struct(-q, doc_id) — the
    // q46-assignment pattern — so only one (doc, quality) buffer per
    // component crosses the shuffle; ties on the round-6 quality break by
    // doc_id ascending on both engines. At 100 TB: the label table holds
    // only docs that HAVE a duplicate (a small fraction of the corpus),
    // the quality column never shuffles wider than the label join, and
    // there is no window over the corpus. Oracle-checked hash-for-hash:
    // the q52 recursive closure + the q25 quality formula + a rank-1
    // window replayed in one SQL program.
    "q97_component_canonical" -> ((s, dir) => {
      val qual = Tables.documents(s, dir)
        .select(col("doc_id"), qualityScore(col("text")).as("q"))
      neardupComponentsShared(s, dir)
        .join(qual, "doc_id")
        .groupBy(col("component"))
        .agg(count(lit(1)).as("n_docs"),
          min_by(struct(col("doc_id"), col("q")),
            struct(negate(col("q")), col("doc_id"))).as("best"),
          sum(col("doc_id")).as("sum_ids"))
        .filter(col("n_docs") >= 2)
        .select(col("component"), col("n_docs"),
          col("best.doc_id").as("keep_doc"),
          round(col("best.q"), 4).as("keep_quality"),
          (col("sum_ids") - col("best.doc_id")).as("dropped_checksum"))
        .orderBy("component")
    }),

    // CCNet-style perplexity bucketing — the language-model quality gate
    // of the standard web-corpus pipeline (CCNet, used for LLaMA/RedPajama
    // data): score every document by LM perplexity, then split each
    // language into head / middle / tail terciles; downstream mixes
    // sample head-heavy. LM = the q67 corpus bigram model; per-doc score
    // = mean bigram surprisal (docs with < 2 tokens have no bigrams and
    // are excluded, as in q67). Bucket = the exact tercile by (round-6
    // surprisal, doc_id) rank per lang — the round-6 key makes
    // near-duplicate docs (identical true surprisal, ±1 ulp across
    // engines) collapse onto one key and break ties by id, so bucket
    // membership is engine-deterministic; QueriesSpec pins that no
    // doc's surprisal grazes a round-6 boundary. Scale shape: per-doc
    // scores come from the persisted corpus-LM artifact
    // (docSurprisalShared — trained and applied once per corpus
    // snapshot, the deployed CCNet shape; the builder's LM joins are
    // vocab-sized); bucket assignment is ccnetTerciles' two-phase
    // census-cutoff-broadcast — bit-identical to the oracle's ntile
    // replay, but no task ever sorts a language's corpus (a dominant
    // language at 100 TB would otherwise be a single-reducer sort of
    // billions of rows; CCNet itself assigns against precomputed
    // cutoffs exactly like this).
    "q98_perplexity_buckets" -> ((s, dir) => {
      // per-doc LM scores come from the shared corpus-LM artifact
      // (docSurprisalShared) — this query is the CCNet tercile split
      ccnetTerciles(docSurprisalShared(s, dir)
          .select(col("doc_id"), col("lang"), col("s")))
        .groupBy(col("lang"), col("bucket"))
        .agg(count(lit(1)).as("n_docs"),
          round(avg(col("s")), 4).as("avg_surprisal"),
          round(max(col("s")), 4).as("cutoff_surprisal"),
          sum(col("doc_id")).as("id_checksum"))
        .orderBy("lang", "bucket")
    }),

    // The curation FUNNEL — every gate of a production pretraining-data
    // pipeline composed into one plan, with per-gate drop accounting (the
    // audit report a data team reads before a training run). Universe:
    // the q53 train split. Gates, in pipeline order, each attributing a
    // doc to the FIRST one that catches it:
    //   1. dedup    — in a near-dup cluster (q52 labels) and not its
    //                 best-quality member (the q97 canonical-keep policy);
    //   2. quality  — q25 composite score < 0.72 (round-6 scores make the
    //                 comparison engine-exact; the corpus value nearest
    //                 the threshold is 5e-4 away at sf0.01);
    //   3. contaminated — shares a verbatim 5-gram with any valid/test
    //                 doc (the q68 check, pointed at the train side);
    //   4. lm_tail  — in the per-lang tail perplexity tercile of the q98
    //                 CCNet gate (docs with < 2 tokens have no LM score
    //                 and pass through).
    // Scale shape: the component labels are a persisted artifact read;
    // quality and token counts are row-local; the gram join carries
    // distinct (doc, gram) pairs; the LM chain is q98's — read from the
    // persisted corpus-LM artifact (docSurprisalShared; vocab-sized
    // joins, broadcast-cutoff terciles); the funnel itself is left joins on
    // doc_id + ONE conditional aggregation by lang — no corpus window,
    // no cartesian. Oracle-checked hash-for-hash: all four gate chains
    // (recursive closure, quality formula, gram join, bigram LM + ntile)
    // replayed in one SQL program.
    "q100_curation_funnel" -> ((s, dir) => {
      // ONE corpus pass computes every row-local per-doc metric the
      // funnel needs — token count, quality, split — so the checkpoint
      // holds ~n_docs slim rows instead of text + token arrays (the
      // former shape re-ran the quality regexes in a second pass and
      // pinned the whole corpus text twice in block storage), and the
      // former funnel-side qual join disappears: base already carries q.
      val base = Tables.documents(s, dir)
        .select(col("doc_id"), col("lang"),
          size(tokens(col("text"))).as("ntok"),
          qualityScore(col("text")).as("q"),
          splitAssign(col("doc_id")).as("split"))
        .localCheckpoint() // consumers: dedup-gate quality, funnel
      val qual = base.select(col("doc_id"), col("q"))
      // gate 1: non-canonical members of multi-doc components — two
      // windows over ONE component-keyed shuffle (partitions are
      // dup-cluster-sized): the keeper is the rank-1 row by (q desc,
      // doc_id) — identical to the former min_by(doc_id, (−q, doc_id))
      // — and everything ranked below it in a ≥2-member component
      // drops. The former shape aggregated per component (a
      // struct-buffer SortAggregate) and joined the result back onto
      // members — a second exchange of the same rows.
      val members = neardupComponentsShared(s, dir).join(qual, "doc_id")
      val wKeep = Window.partitionBy(col("component"))
        .orderBy(negate(col("q")), col("doc_id"))
      val wN = Window.partitionBy(col("component"))
      val dropDedup = members
        .withColumn("rk", row_number().over(wKeep))
        .withColumn("n", count(lit(1)).over(wN))
        .filter(col("n") >= 2 && col("rk") > 1)
        .select(col("doc_id"), lit(true).as("g_dedup"))
      // gate 3: train docs sharing a 5-gram with the held-out splits —
      // the (doc_id, g) relation reads the persisted shingle-table
      // artifact (gram5Shared, exactly q68's input); split is row-local,
      // and the held-out gram SET is the persisted benchGramsShared
      // artifact (bit-identical definition: gram5 filtered to the
      // non-train splits, distinct) — the decontamination family's
      // benchmark side, no longer re-derived per run
      val contam = gram5Shared(s, dir)
        .select(col("doc_id"), col("g"))
        .withColumn("split", splitAssign(col("doc_id")))
        .filter(col("split") === "train")
        .join(benchGramsShared(s, dir), "g")
        .select(col("doc_id")).distinct()
        .select(col("doc_id"), lit(true).as("g_contam"))
      // gate 4: the q98 tail tercile over the full corpus — per-doc LM
      // scores from the shared corpus-LM artifact (docSurprisalShared),
      // buckets from the same two-phase broadcast-cutoff assignment
      val buckets = ccnetTerciles(docSurprisalShared(s, dir)
          .select(col("doc_id"), col("lang"), col("s")))
        .select(col("doc_id"), col("bucket"))
      // the funnel: first-gate attribution + per-lang accounting
      base.filter(col("split") === "train")
        .select(col("doc_id"), col("lang"), col("ntok"), col("q"))
        .join(dropDedup, Seq("doc_id"), "left")
        .join(contam, Seq("doc_id"), "left")
        .join(buckets, Seq("doc_id"), "left")
        .withColumn("reason",
          when(coalesce(col("g_dedup"), lit(false)), "dedup")
            .when(col("q") < 0.72, "quality")
            .when(coalesce(col("g_contam"), lit(false)), "contaminated")
            .when(col("bucket") === 3, "lm_tail")
            .otherwise("kept"))
        .groupBy(col("lang"))
        .agg(count(lit(1)).as("n_train_docs"),
          sum(when(col("reason") === "dedup", 1).otherwise(0)).as("n_drop_dedup"),
          sum(when(col("reason") === "quality", 1).otherwise(0)).as("n_drop_quality"),
          sum(when(col("reason") === "contaminated", 1).otherwise(0)).as("n_drop_contam"),
          sum(when(col("reason") === "lm_tail", 1).otherwise(0)).as("n_drop_tail"),
          sum(when(col("reason") === "kept", 1).otherwise(0)).as("n_kept"),
          sum(when(col("reason") === "kept", col("ntok")).otherwise(0)).as("kept_tokens"),
          sum(when(col("reason") === "kept", col("doc_id")).otherwise(0)).as("kept_id_checksum"))
        .orderBy("lang")
    }),

    // Temperature-scaled mixture reweighting — the multilingual sampling
    // knob of XLM-R / mBERT-style training: raw language shares p_l are
    // exponentiated to p_l^α (α = 0.3) and renormalized, upsampling rare
    // languages and downsampling dominant ones; sampling_factor is the
    // per-language multiplier a weighted sampler (q88) or downsampler
    // (q65) applies. Pure aggregate math: one per-lang token census, then
    // window sums over the LANGUAGE table (bounded, ~languages rows — at
    // 100 TB this is a 100-row frame, never the corpus). The only
    // cross-engine hazard is pow()'s final-ulp rounding (Java Math.pow vs
    // libm, both within 1-2 ulp): the round-4 output absorbs it and a
    // spec pins that no share sits near a rounding boundary.
    "q101_temperature_mixture" -> ((s, dir) => {
      val w = wholeCensus("n_docs") // the bounded language table
      // token counts from the persisted tokenized corpus (no re-tokenize)
      lexDocsShared(s, dir)
        .select(col("lang"), size(col("t")).as("ntok"))
        .groupBy(col("lang"))
        .agg(count(lit(1)).as("n_docs"), sum(col("ntok")).as("n_tokens"))
        .withColumn("p",
          col("n_tokens").cast("double") / sum(col("n_tokens")).over(w))
        .withColumn("wgt", pow(col("p"), lit(0.3)))
        .withColumn("a", col("wgt") / sum(col("wgt")).over(w))
        .select(col("lang"), col("n_docs"), col("n_tokens"),
          round(col("p"), 4).as("raw_share"),
          round(col("a"), 4).as("alpha_share"),
          round(col("a") / col("p"), 4).as("sampling_factor"))
        .orderBy("lang")
    }),

    // DSIR importance weighting (Xie et al. 2023, "Data Selection for
    // Language Models via Importance Resampling") — score every raw doc
    // by how target-domain-like it is: hashed n-gram features (unigrams +
    // bigrams hashed into 256 buckets — md5's first hex byte is the
    // engine-portable hash), two smoothed bag-of-buckets LMs (target =
    // the src0/src1 slice, raw = the whole corpus), per-doc weight
    // w = Σ_features [ln p̂_tgt(b) − ln p̂_raw(b)]; docs with w > 0 look
    // more target- than raw-like and are the resampling pool. Scale
    // shape: BOTH LMs live in one 256-row table (the whole point of
    // feature hashing — a 100 TB corpus still hashes into 256 buckets) →
    // broadcast; scoring is a map-side join + one partial-aggregable
    // per-doc sum; the report is a per-source partial agg. No corpus
    // window, no driver loop. A sign-margin spec pins that no doc's
    // weight grazes the w > 0 cut (min |w| is 2.5e-4 across SFs vs the
    // ~1e-13 engine sum-order noise).
    "q102_dsir_weights" -> ((s, dir) => {
      // the hashed-feature table is the persisted DSIR artifact
      // (dsirFeatsShared) — 3 consumers: target census, raw census,
      // scoring
      val feats = dsirFeatsShared(s, dir)
      val isTgt = col("source").isin("src0", "src1")
      val census = feats
        .groupBy(col("b"))
        .agg(count(lit(1)).as("rb"),
          sum(when(isTgt, 1L).otherwise(0L)).as("tb"))
      val totals = feats.agg(count(lit(1)).as("rtot"),
        sum(when(isTgt, 1L).otherwise(0L)).as("ttot"))
      val lm = census.crossJoin(totals)
        .select(col("b"),
          (log((col("tb") + lit(1)).cast("double") /
              (col("ttot") + lit(256)).cast("double")) -
            log((col("rb") + lit(1)).cast("double") /
              (col("rtot") + lit(256)).cast("double"))).as("lam"))
      feats.join(broadcast(lm), "b")
        .groupBy(col("doc_id"), col("source"))
        .agg(sum(col("lam")).as("w"))
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_docs"),
          sum(when(col("w") > 0, 1L).otherwise(0L)).as("n_selected"),
          round(avg(col("w")), 4).as("avg_logratio"))
        .withColumn("sel_rate",
          round(col("n_selected") / col("n_docs").cast("double"), 4))
        .orderBy("source")
    }),

    // Boilerplate-passage removal accounting — the RefinedWeb/CCNet line
    // dedup rule restated for a corpus with no line boundaries: chop each
    // doc into non-overlapping 10-token chunks (finer than q89's 20-token
    // passage census — this is the REMOVAL granularity, q89 is the audit
    // one), call a chunk boilerplate when it appears in >= 3 DISTINCT
    // docs corpus-wide, and report per language how much text survives
    // chunk-level removal (the retention number a curation run quotes).
    // Every threshold is an integer count, so membership is engine-exact.
    // Scale shape: chunking is row-local column math; the census is a
    // hash-keyed partial agg and the flag joins back on the chunk hash
    // (q89's unbounded-key shape — broadcast would be wrong at 100 TB);
    // retention is a per-doc partial agg then a per-lang partial agg.
    "q104_boilerplate_chunks" -> ((s, dir) => {
      // ONE chunk-hash shuffle (the q89 shape, with a per-doc collapse
      // first because the flag needs DISTINCT owning docs): occurrences
      // hash-partition by h, the (h, doc_id) groupBy reuses that
      // partitioning (h clusters every (h, doc_id) cell), and ndocs is
      // a count window over the same partitioning — rows per h are
      // distinct docs by construction. The former corpus-sized
      // localCheckpoint + count_distinct census + join-back collapse
      // into one Exchange; tokens come from the persisted tokenized
      // corpus (lexdocs), removing the per-query re-tokenize.
      val wDocs = Window.partitionBy(col("h"))
      lexDocsShared(s, dir)
        .select(col("doc_id"), col("lang"), col("t"))
        .filter(size(col("t")) >= 10)
        .select(col("doc_id"), col("lang"),
          explode(sequence(lit(1), size(col("t")) - 9, lit(10))).as("i"),
          col("t"))
        .select(col("doc_id"), col("lang"),
          md5(array_join(slice(col("t"), col("i"), lit(10)), " ")).as("h"))
        .repartition(col("h"))
        .groupBy(col("h"), col("doc_id"), col("lang"))
        .agg(count(lit(1)).as("cnt"))
        .withColumn("ndocs", count(lit(1)).over(wDocs))
        .groupBy(col("doc_id"), col("lang"))
        .agg(sum(col("cnt")).as("nch"),
          sum(when(col("ndocs") >= 3, col("cnt")).otherwise(0L)).as("nbp"))
        .withColumn("retention",
          lit(1.0) - col("nbp") / col("nch").cast("double"))
        .groupBy(col("lang"))
        .agg(count(lit(1)).as("n_docs"),
          sum(col("nch")).as("n_chunks"),
          sum(col("nbp")).as("bp_chunks"),
          round(avg(col("retention")), 4).as("avg_retention"))
        .orderBy("lang")
    }),

    // Source-overlap matrix — the corpus-composition audit a data team
    // runs before mixing crawls: exact shingle-set Jaccard between every
    // source pair, surfacing which feeds are re-crawls / mirrors of each
    // other (the doc-level near-dup graph can't show this aggregate
    // structure). Sets are distinct 3-gram shingles PER SOURCE, so the
    // self-join fans out per shingle by the number of SOURCES sharing it
    // — bounded by the source count (20 here, maybe thousands at 100 TB),
    // never by document df: Σ|sources(s)|² ≤ sources² × shingles, linear
    // in the corpus for a fixed feed list, where a doc-level exact join
    // pays Σdf² (the q28 blowup). Census and report are partial aggs;
    // the size table broadcasts. Full 190-row matrix output — no top-k,
    // so no rank-boundary hazard; jac is an integer ratio (bit-exact in
    // IEEE on both engines) rounded only for display.
    "q106_source_overlap" -> ((s, dir) => {
      // per-shingle distinct source sets in ONE corpus shuffle (map-side
      // partial collect_set dedup — same shuffle bytes as the former
      // corpus-wide distinct), replacing distinct + checkpoint + shingle
      // self-join: each shingle's source set is bounded by |sources|, so
      // both the intersection counts and the per-source sizes fall out of
      // census-sized passes and no shingle-keyed join remains at any
      // scale (the former a.sh = b.sh join's bucket sizes were bounded
      // too, but it re-shuffled the distinct table twice to meet itself).
      // shingles slide over the STAGED tokenized corpus (lexdocs carries
      // source; wordNgramsFromTokens ≡ the from-text UDF by the shared
      // tokenizer contract, spec-pinned) — the per-query re-tokenize of
      // the whole corpus is gone, the same artifact-consumer shape as
      // q68/q107 reading gram5
      val sets = lexDocsShared(s, dir)
        .select(col("source"),
          explode(wordNgramsFromTokensUdf(3)(col("t"))).as("sh"))
        .groupBy(col("sh"))
        .agg(sort_array(collect_set(col("source"))).as("ss"))
        .localCheckpoint() // 2 consumers: size census + pair intersections
      val sz = sets.select(explode(col("ss")).as("source"))
        .groupBy(col("source")).agg(count(lit(1)).as("n"))
      val inter = sets
        .select(explode(expr("flatten(transform(ss, (a, i) -> " +
          "transform(slice(ss, i + 2, size(ss)), " +
          "b -> struct(a AS src_a, b AS src_b))))")).as("p"))
        .groupBy(col("p.src_a").as("src_a"), col("p.src_b").as("src_b"))
        .agg(count(lit(1)).as("inter"))
      // the pair UNIVERSE comes from the SOURCE LIST itself (bounded,
      // broadcast), not from the shingle census: a source whose docs are
      // all too short to shingle still appears, with size 0 — so pairs
      // sharing NO shingle (or having none at all) emit their jac=0 row
      // and the "full matrix" contract holds on any corpus. inter is
      // bounded by sources² — broadcast structurally, not via AQE stats.
      // KNOWN second corpus scan: this distinct re-reads documents even
      // though shingle-BEARING sources are already in the census — the
      // shingle-less ones are exactly what the census can't supply. At
      // 100 TB, swap this for a once-per-snapshot per-source row-count
      // census (a persisted artifact like the LM) if the extra
      // source-column scan shows up; at bench scale it's parquet
      // column-pruned to one dictionary-encoded column and not measurable
      val srcs = Tables.documents(s, dir).select(col("source")).distinct()
      broadcast(srcs.select(col("source").as("src_a")))
        .join(broadcast(srcs.select(col("source").as("src_b"))),
          col("src_a") < col("src_b"))
        .join(broadcast(sz.select(col("source").as("src_a"), col("n").as("na"))),
          Seq("src_a"), "left")
        .join(broadcast(sz.select(col("source").as("src_b"), col("n").as("nb"))),
          Seq("src_b"), "left")
        .join(broadcast(inter), Seq("src_a", "src_b"), "left")
        .withColumn("inter", coalesce(col("inter"), lit(0L)))
        .withColumn("uni",
          coalesce(col("na"), lit(0L)) + coalesce(col("nb"), lit(0L)) - col("inter"))
        .select(col("src_a"), col("src_b"), col("inter"),
          // two empty shingle sets have no defined jaccard — 0.0 sentinel
          when(col("uni") > 0,
            round(col("inter") / col("uni").cast("double"), 4))
            .otherwise(lit(0.0)).as("jac"))
        .orderBy("src_a", "src_b")
    }),

    // N-gram novelty scoring — the memorization-risk / derivative-text
    // diagnostic: what fraction of a doc's distinct 5-grams appear in NO
    // other document? Low-novelty docs are recombinations of corpus
    // boilerplate (the complement of q68's contamination view: q68 asks
    // "does this phrase leak across splits", this asks "does this doc
    // say anything its corpus hasn't"). df census + join back on the
    // gram key (the q89/q104 unbounded-key shape); per-doc and per-lang
    // reports are partial aggs. The < 0.5 derivative cut compares
    // integer-ratio doubles (bit-exact in IEEE on both engines), so
    // membership is engine-exact even AT the boundary.
    "q107_ngram_novelty" -> ((s, dir) => {
      // the persisted shingle-table artifact (gram5Shared, shared with
      // q68) feeds the census and the join back
      val g = gram5Shared(s, dir)
      // a df=1 gram has exactly ONE owning doc, so the census can carry
      // it (min(doc_id) of a 1-row group) and the per-doc unique counts
      // aggregate from the census alone — the former corpus-sized
      // join-back of the gram stream onto its own df census is gone;
      // what remains joins two doc-granularity tables on doc_id.
      val census = g.groupBy(col("g"))
        .agg(count(lit(1)).as("df"), min(col("doc_id")).as("d1"))
      val uniq = census.filter(col("df") === 1)
        .groupBy(col("d1").as("doc_id")).agg(count(lit(1)).as("uniq"))
      g.groupBy(col("doc_id"), col("lang")).agg(count(lit(1)).as("ng"))
        .join(uniq, Seq("doc_id"), "left")
        .withColumn("nov",
          coalesce(col("uniq"), lit(0L)) / col("ng").cast("double"))
        .groupBy(col("lang"))
        .agg(count(lit(1)).as("n_docs"),
          round(avg(col("nov")), 4).as("avg_novelty"),
          sum(when(col("nov") < 0.5, 1L).otherwise(0L)).as("n_derivative"))
        .orderBy("lang")
    }),

    // Zipf fit per language — the corpus-health statistic (a natural
    // language's token frequencies follow f ∝ rank^-α with α ≈ 1;
    // template-generated or boilerplate-heavy text flattens or steepens
    // the curve): least-squares slope of ln f on ln rank over each
    // language's top-100 tokens. Scale shape: the token census is a
    // vocab-sized partial agg; the ranking window partitions by lang
    // over the CENSUS (vocab rows, never occurrences); the regression
    // runs on ≤ 100 rows per lang with the per-lang means broadcast
    // back. Ranks tie-break (freq desc, token) — engine-exact; ln/avg
    // noise is ~1e-15 against round-4 outputs, boundary distance
    // spec-pinned.
    "q108_zipf_fit" -> ((s, dir) => {
      val c = lexDocsShared(s, dir) // persisted tokens, no re-tokenize
        .select(col("lang"), explode(col("t")).as("token"))
        .groupBy(col("lang"), col("token")).agg(count(lit(1)).as("f"))
        .localCheckpoint() // the corpus scan runs once; the window below
        // is vocab-sized and cheap to replay for both consumers
      val w = Window.partitionBy(col("lang"))
        .orderBy(col("f").desc, col("token"))
      val top = c.withColumn("rk", row_number().over(w))
        .filter(col("rk") <= 100)
        .select(col("lang"), log(col("rk").cast("double")).as("x"),
          log(col("f").cast("double")).as("y"))
      val m = top.groupBy(col("lang"))
        .agg(avg(col("x")).as("mx"), avg(col("y")).as("my"),
          count(lit(1)).as("n"))
      top.join(broadcast(m), "lang")
        .groupBy(col("lang"), col("n"), col("mx"), col("my"))
        .agg(sum((col("x") - col("mx")) * (col("y") - col("my"))).as("sxy"),
          sum((col("x") - col("mx")) * (col("x") - col("mx"))).as("sxx"))
        .select(col("lang"), col("n").as("n_ranks"),
          // zero-variance sentinel (the q109/q110 guard): a one-token
          // census has sxx = 0 → Spark NaN vs DuckDB NULL would diverge
          when(col("sxx") > 0,
            round(negate(col("sxy") / col("sxx")), 4))
            .otherwise(lit(0.0)).as("zipf_alpha"),
          when(col("sxx") > 0,
            round(col("my") - (col("sxy") / col("sxx")) * col("mx"), 4))
            .otherwise(lit(0.0)).as("ln_c"))
        .orderBy("lang")
    }),

    // Metric correlation profiling, part 1 — Pearson r between document
    // length and the q25 quality score, per source: the sanity check a
    // curation team runs before trusting a composite score (a score
    // fully explained by length is not measuring quality; the q25
    // length term saturates at 20 tokens, so r sits well below 1).
    // Two-pass explicit-sums form (means, then residual products) so the
    // oracle replays the identical IEEE arithmetic — a built-in corr()'s
    // internal update order is engine-private. Scale: metrics are
    // row-local column math checkpointed at doc granularity, the
    // 20-row means table broadcasts back, and both passes are partial
    // aggs. No window, no join wider than doc rows.
    "q109_len_quality_corr" -> ((s, dir) => {
      // both metrics from the ONE-pass compiled twin (bit-identity
      // pinned in QueriesSpec): tokenCount rides the UDF's 4th slot as
      // an integer-valued double == tokenCount(c).cast("double")
      pearsonByKey(Tables.documents(s, dir)
        .select(col("source"), qualityMetricsUdf(col("text")).as("m"))
        .select(col("source"), col("m._4").as("x"), col("m._3").as("y")),
        "source", "len_quality_r")
    }),

    // Metric correlation profiling, part 2 — Pearson r between LM
    // surprisal and the quality score, per language: do the two
    // independent quality gates (q98's perplexity tercile, q100's q25
    // floor) agree or measure different things? Near-zero r means the
    // gates are complementary (each catches docs the other passes) —
    // the justification for running both in the q100 funnel. Reads the
    // persisted corpus-LM artifact (docSurprisalShared) and joins
    // quality on doc_id; same two-pass explicit-sums kernel as q109
    // with the per-lang means broadcast.
    "q110_surprisal_quality_corr" -> ((s, dir) => {
      // quality from the ONE-pass compiled twin (slot 3; bit-identity
      // pinned in QueriesSpec) — the Column form re-inlines the
      // tokenizer/regex subtrees ~4× per row for this pure-analytics
      // correlation, the exact q109 shape
      val qual = Tables.documents(s, dir)
        .select(col("doc_id"), qualityMetricsUdf(col("text")).as("m"))
        .select(col("doc_id"), col("m._3").as("y"))
      pearsonByKey(docSurprisalShared(s, dir)
        .select(col("doc_id"), col("lang"), col("s").as("x"))
        .join(qual, "doc_id"),
        "lang", "surprisal_quality_r")
    }),

    // Duplicated-SPAN audit — the exact-substring dedup granularity of
    // Lee et al. 2022 ("Deduplicating Training Data Makes Language Models
    // Better", ExactSubstr: suffix-array spans >= 50 tokens), restated
    // relationally: overlapping STRIDE-1 10-token windows (vs q104's
    // non-overlapping chunks — chunks can straddle-miss a span, stride-1
    // windows cannot); a window is duplicated when its hash appears in
    // >= 2 distinct docs; a doc's longest run of CONSECUTIVE duplicated
    // windows is its longest duplicated substring (span = run + 9
    // tokens, >= 20 flags the doc — the Lee et al. threshold scaled to
    // this corpus's doc lengths). Scale shape: stride-1 windowing
    // multiplies the census key stream by the window width — the known,
    // declared cost of substring- over chunk-granularity (a suffix array
    // avoids it on one machine; sharded corpora pay the xW keys to stay
    // hash-partitioned) — and since r18 that cost is paid ONCE per
    // corpus by the spanRunsShared BUILD (row-local explode, hash-keyed
    // partial-agg census, join back on the window hash — NOT broadcast,
    // unbounded key space — and a gaps-and-islands window PARTITIONED
    // BY doc_id, bounded by doc length, never corpus-sized), with the
    // query reading the persisted doc-count-bounded run table.
    // All-integer spans → engine-exact membership at the >= 20 boundary.
    "q117_dup_spans" -> ((s, dir) => {
      // the xW window census + islands kernel now lives in the persisted
      // spanRunsShared artifact (built once per corpus snapshot by the
      // ONE shared CorpusStatsMaintenance definition; refreshed
      // incrementally on append) — this query is a corpus scan with
      // row-local tokenization for the roster, a doc_id join against the
      // doc-count-bounded run table, and the per-lang report. The xW
      // key shuffle is paid by the BUILD, not per consumer (the r17
      // verdict's q29-reads-the-persisted-graph pattern).
      lexDocsShared(s, dir) // roster from the persisted tokens
        .filter(size(col("t")) >= 10)
        .select(col("doc_id"), col("lang"))
        .join(spanRunsShared(s, dir), Seq("doc_id"), "left")
        .withColumn("span",
          when(col("maxrun").isNull, lit(0L)).otherwise(col("maxrun") + lit(9L)))
        .groupBy(col("lang"))
        .agg(count(lit(1)).as("n_docs"),
          sum(when(col("span") >= 20, 1L).otherwise(0L)).as("n_flagged"),
          round(avg(col("span")), 4).as("avg_span"),
          max(col("span")).as("max_span"))
        .orderBy("lang")
    }),

    // Bloom-filter decontamination — the 100 TB form of q68's benchmark-
    // overlap check: instead of shuffle-joining the corpus's gram stream
    // against the benchmark grams, the benchmark (held-out valid+test
    // splits, q53 convention) is compressed ONCE into a fixed-size Bloom
    // bitset that BROADCASTS, and the corpus is scanned a single time
    // with ONE codegen'd md5 per gram sliced into k=4 probe positions —
    // no corpus-side shuffle at all on the production path. Deterministic
    // end-to-end: m = smallest power of two >= 16×
    // |benchmark grams| (measured FP rate ~0.2%), the bitset lives as
    // 32-bit lanes in a words table (m/32 rows — bounded, broadcast;
    // 32-bit lanes because a 1<<63 differs across engines). The exact-
    // membership audit columns (n_exact_hits / n_false_pos) are the
    // verification twin in the q28/q29 pattern: a deployed pipeline
    // drops them and keeps only the probe path. Oracle replays the
    // same build + probe bit-for-bit via the strpos hex polynomial.
    "q120_bloom_decontaminate" -> ((s, dir) => {
      // the benchmark gram set and its bitset are persisted corpus
      // artifacts (benchGramsShared / bloomSetShared — an eval-suite
      // set changes when a suite ships, not per query, and the k=4
      // probe positions slice ONE md5 per gram under the kernel
      // definitions shared with CorpusStatsMaintenance.buildBloom/
      // refreshBloom, so a refreshed bitset can never hash differently
      // from the built one); the width comes from the ONE sizing kernel
      // (bloomWidthFor — guards the empty bench too: width 16, never
      // the null the old inline log2(0) produced; the oracle's
      // 2^ceil(log2(16n)) replay is pinned equal to bloomWidthFor over
      // the width boundaries in SkewAndPropertiesSpec)
      val bench = benchGramsShared(s, dir)
      val (words, m) = bloomSetShared(s, dir)
      // probe path (bloomProbeHits — shared with q123, the probe-only
      // deployed form): the exact-audit membership rides ONE broadcast
      // left join alongside (benchmark sets are bounded by nature — they
      // don't grow with the corpus); nothing shuffles until the per-doc
      // partial agg
      val base = gram5Shared(s, dir).select(col("doc_id"), col("g"))
        .withColumn("split", splitAssign(col("doc_id")))
        .filter(col("split") === "train")
        .select(col("doc_id"), col("g"))
        .join(broadcast(bench.withColumn("ex", lit(1))), Seq("g"), "left")
      bloomProbeHits(base, words, m)
        .select(col("doc_id"), col("hit"),
          coalesce(col("ex"), lit(0)).as("ex"))
        .groupBy(col("doc_id"))
        .agg(count(lit(1)).as("n_grams"),
          sum(col("hit")).cast("long").as("n_bloom_hits"),
          sum(col("ex")).cast("long").as("n_exact_hits"))
        .withColumn("n_false_pos", col("n_bloom_hits") - col("n_exact_hits"))
        .withColumn("contaminated", col("n_bloom_hits") > 0)
        .orderBy("doc_id")
    }),

    // The PROBE-ONLY form of q120 — what a deployed decontamination
    // pipeline actually runs (the exact-membership audit columns are
    // q120's verification twin and get dropped in production, exactly as
    // q29 is the deployed sibling of q28). First-class so the bench
    // prices the cheap path as its own number instead of leaving "the
    // probe part is cheap" as prose attached to q120's audited cost:
    // build the bitset from the held-out grams, then ONE corpus scan of
    // chained broadcast lane lookups and a per-doc partial agg — the
    // only shuffle on the probe side is the final doc_id aggregate.
    "q123_bloom_probe" -> ((s, dir) => {
      val (words, m) = bloomSetShared(s, dir) // the persisted bitset
      val train = gram5Shared(s, dir).select(col("doc_id"), col("g"))
        .withColumn("split", splitAssign(col("doc_id")))
        .filter(col("split") === "train")
        .select(col("doc_id"), col("g"))
      bloomProbeHits(train, words, m)
        .groupBy(col("doc_id"))
        .agg(count(lit(1)).as("n_grams"),
          sum(col("hit")).cast("long").as("n_bloom_hits"))
        .withColumn("contaminated", col("n_bloom_hits") > 0)
        .orderBy("doc_id")
    }),

    // Deterministic multi-epoch shuffle-shard manifest — the data-LOADER
    // op every large pretraining run needs: per epoch, every doc gets a
    // reproducible pseudo-random position (md5 keyed by epoch:id — a
    // DIFFERENT global permutation each epoch, with no RNG state to
    // carry) and a shard (hash % world_size), and the manifest reports
    // what each (epoch, shard) worker will stream: doc count, token
    // mass, the first/last docs in read order, and an ORDER-SENSITIVE
    // checksum (Σ pos·(id mod 997)) so a re-run or a resumed run can
    // prove it would feed the identical sequence. Scale shape: the
    // permutation key is row-local Column math; the one window
    // partitions by (epoch, shard) — world_size is the parallelism
    // knob, so each shard's rank spans corpus/n_shards rows (the q73
    // sharded-window pattern; at 100 TB n_shards is the fleet size, not
    // 8); output is epochs × shards rows. Oracle replays hash → shard →
    // rank → checksum; every compared quantity is integer arithmetic,
    // engine-exact.
    "q121_epoch_shuffle_manifest" -> ((s, dir) =>
      epochShuffleStream(Tables.documents(s, dir), nShards = 8, epochs = 3)
        .groupBy(col("epoch"), col("shard"))
        .agg(count(lit(1)).as("n_docs"),
          sum(col("ntok")).as("n_tokens"),
          min_by(col("doc_id"), col("pos")).as("first_doc"),
          max_by(col("doc_id"), col("pos")).as("last_doc"),
          sum(col("pos") * (col("doc_id") % 997)).as("order_checksum"))
        .orderBy("epoch", "shard")),

    // Gopher quality-rule gate (Rae et al. 2021, A1.1) — the canonical
    // NAMED rule suite with per-rule attribution, where q25's composite
    // score gives one number: word-count ∈ [50, 100k], mean RAW word
    // length ∈ [3, 10], ≥80% of words alphabetic, ≥1 distinct Gopher
    // stop word (the paper's threshold is 2; this corpus's synthetic
    // vocabulary carries only "the" from the fixed 8-word list, so the
    // gate is calibrated to 1 to stay live — the spec pins that it
    // fires in BOTH directions), and repetition — the char mass of the doc's
    // most-repeated word bigram ≤ 20% of its chars (the "fraction of
    // characters in the top n-gram" rule; max over cnt·len needs no
    // top-gram tie-break). Raw whitespace words (the tokenCount
    // convention), not the normalized tokenizer — the word-shape rules
    // are about the text as it stands. The line/paragraph rules are
    // omitted: this corpus is single-line by construction. Scale shape:
    // four rules are row-local Column math; the repetition census is a
    // (doc, bigram)-keyed partial agg collapsing to one max per doc
    // (q54's shape), joined back on doc_id; report is a per-lang
    // rollup. Every rule compares exact int-ratio doubles — identical
    // IEEE division on both engines, so even boundary hits agree;
    // oracle replays all five rules.
    "q122_gopher_rules" -> ((s, dir) => {
      val stops = Seq("the", "be", "to", "of", "and", "that", "have", "with")
      // rep_mass — max over bigrams of (in-doc count × gram length) — is
      // a PER-DOC quantity: computing it row-locally (one bounded-cost
      // pure function per doc, the simhash/minhash UDF contract) removes
      // the only reason this query shuffled at all before its final
      // per-lang rollup. The former shape exploded the corpus bigram
      // stream, aggregated it twice corpus-wide, and joined it back on
      // doc_id — at 100 TB a full bigram-stream shuffle for a value no
      // row outside its own doc contributes to. Gram lengths count
      // CODEPOINTS (codePointCount), matching the length() Column the
      // census form used and the oracle's length(); same "w1 w2"
      // single-space gram shape as tokenBigrams.
      val repMassUdf = udf { (w: Seq[String]) =>
        if (w == null || w.length < 2) None
        else {
          val counts = scala.collection.mutable.HashMap.empty[String, Long]
          var i = 0
          while (i + 1 < w.length) {
            val g = w(i) + " " + w(i + 1)
            counts.update(g, counts.getOrElse(g, 0L) + 1L)
            i += 1
          }
          Some(counts.iterator.map { case (g, c) =>
            c * g.codePointCount(0, g.length) }.max)
        }
      }
      val base = Tables.documents(s, dir)
        .select(col("doc_id"), col("lang"),
          length(trim(col("text"))).as("n_chars"),
          split(trim(col("text")), "\\s+").as("w"))
        .select(col("doc_id"), col("lang"), col("n_chars"),
          size(col("w")).as("n_words"),
          expr("aggregate(w, 0L, (a, x) -> a + length(x))").as("sum_len"),
          expr("size(filter(w, x -> x rlike '[a-zA-Z]'))").as("n_alpha"),
          expr("size(array_intersect(transform(w, x -> lower(x)), " +
            s"array(${stops.map("'" + _ + "'").mkString(",")})))").as("n_stop"),
          repMassUdf(col("w")).as("rep_mass"))
      val mean = col("sum_len").cast("double") / col("n_words")
      base
        .select(col("lang"), col("doc_id"),
          (col("n_words") >= 50 && col("n_words") <= 100000).as("r_wc"),
          (mean >= 3.0 && mean <= 10.0).as("r_wlen"),
          (col("n_alpha").cast("double") / col("n_words") >= 0.8).as("r_alpha"),
          (col("n_stop") >= 1).as("r_stop"),
          (coalesce(col("rep_mass"), lit(0L)).cast("double") / col("n_chars")
            <= 0.2).as("r_rep"))
        .withColumn("keep", col("r_wc") && col("r_wlen") && col("r_alpha") &&
          col("r_stop") && col("r_rep"))
        .groupBy(col("lang"))
        .agg(count(lit(1)).as("n_docs"),
          sum(when(!col("r_wc"), 1L).otherwise(0L)).as("fail_word_count"),
          sum(when(!col("r_wlen"), 1L).otherwise(0L)).as("fail_word_len"),
          sum(when(!col("r_alpha"), 1L).otherwise(0L)).as("fail_alpha"),
          sum(when(!col("r_stop"), 1L).otherwise(0L)).as("fail_stopwords"),
          sum(when(!col("r_rep"), 1L).otherwise(0L)).as("fail_repetition"),
          sum(when(col("keep"), 1L).otherwise(0L)).as("n_kept"),
          coalesce(sum(when(col("keep"), col("doc_id"))), lit(0L))
            .as("kept_id_checksum"))
        .orderBy("lang")
    })
  )

  /** Two-pass explicit-sums Pearson kernel shared by q109/q110 (ONE
    * definition of rounding + sentinel semantics): df = (key, x, y, ...).
    * Means broadcast back onto doc rows, residual sums aggregate with
    * map-side partials, and a zero-variance group emits the 0.0 sentinel
    * on BOTH engines instead of Spark null vs DuckDB NaN (cross-engine
    * divergence on degenerate corpora). A built-in corr() is avoided
    * because its internal update order is engine-private.
    */
  private def pearsonByKey(df: DataFrame, key: String,
      outCol: String): DataFrame = {
    val q = df.localCheckpoint() // 2 consumers: means pass + residual pass
    val m = q.groupBy(col(key))
      .agg(avg(col("x")).as("mx"), avg(col("y")).as("my"),
        count(lit(1)).as("n"))
    q.join(broadcast(m), key)
      .groupBy(col(key), col("n"))
      .agg(sum((col("x") - col("mx")) * (col("y") - col("my"))).as("sxy"),
        sum((col("x") - col("mx")) * (col("x") - col("mx"))).as("sxx"),
        sum((col("y") - col("my")) * (col("y") - col("my"))).as("syy"))
      .select(col(key), col("n").as("n_docs"),
        when(col("sxx") * col("syy") > 0,
          round(col("sxy") / sqrt(col("sxx") * col("syy")), 4))
          .otherwise(lit(0.0)).as(outCol))
      .orderBy(key)
  }

  // ---- SQL-side FNV-1a 64 (bit-exact vs TextFunctions.fnv1a64): DuckDB
  // BIGINT arithmetic traps on overflow, so the accumulator lives in
  // HUGEINT mod 2^64 and the xor round-trips through the signed BIGINT
  // bit pattern. Feeds the q30/q31 oracles so the driver can recompute
  // the exact hash-based answers.
  private val U64 = "18446744073709551616"
  private val Half = "9223372036854775808"
  private def fnvU(expr: String): String = {
    val x = s"xor(CASE WHEN h < $Half THEN CAST(h AS BIGINT) ELSE " +
      s"CAST(h - $U64 AS BIGINT) END, CAST(c AS BIGINT))"
    val ux = s"(CASE WHEN $x < 0 THEN CAST($x AS HUGEINT) + $U64 " +
      s"ELSE CAST($x AS HUGEINT) END)"
    s"list_reduce(list_prepend(CAST(14695981039346656037 AS HUGEINT), " +
      s"list_transform(regexp_extract_all($expr, '.'), " +
      s"c -> CAST(unicode(c) AS HUGEINT))), " +
      s"(h, c) -> (($ux * 1099511628211) % $U64))"
  }
  private def fnvS(expr: String): String =
    s"(CASE WHEN ${fnvU(expr)} < $Half THEN CAST(${fnvU(expr)} AS BIGINT) " +
      s"ELSE CAST(${fnvU(expr)} - $U64 AS BIGINT) END)"

  /** Value of the first `n` hex chars of `h` via the strpos polynomial
    * (the q65 hex→int idiom, width-generic — no from_hex dependency;
    * BIGINT literals so no term overflows INT32). Feeds the q120
    * oracle's Bloom positions (n=8) and the q121 shard hash (n=4). */
  private def hexPoly(h: String, n: Int): String =
    (0 until n).map(j =>
      s"(strpos('0123456789abcdef', substring($h,${j + 1},1))-1)" +
        s"*CAST(${1L << (4 * (n - 1 - j))} AS BIGINT)")
      .mkString("(", " + ", ")")
  private def hex8(h: String): String = hexPoly(h, 8)

  /** Shared CTE prefix of the q74/q75 oracles: the BPE trainer replayed as
    * a recursive CTE (see the q74 oracle comment for the mechanics). Ends
    * with the `loop` CTE; q74 selects the merge rows from it, q75 chains
    * an encode CTE onto its merge table.
    */
  private val bpeLoopCte: String =
    """WITH RECURSIVE toks AS (
      |  SELECT list_filter(string_split_regex(trim(regexp_replace(lower(text), '[^a-z ]', ' ', 'g')), '\s+'), x -> len(x) > 0) AS t
      |  FROM documents),
      |words AS (
      |  SELECT w, CAST(count(*) AS BIGINT) AS freq
      |  FROM toks, LATERAL (SELECT unnest(t) AS w) u
      |  GROUP BY w),
      |vocab0 AS (
      |  SELECT list(struct_pack(
      |      freq := freq,
      |      syms := list_append(list_transform(generate_series(1, len(w)), i -> w[i:i]), '</w>')
      |    )) AS vocab
      |  FROM words),
      |loop AS (
      |  SELECT 0 AS step, vocab,
      |    CAST(NULL AS VARCHAR) AS l, CAST(NULL AS VARCHAR) AS r,
      |    CAST(NULL AS BIGINT) AS cnt
      |  FROM vocab0
      |  UNION ALL
      |  SELECT step + 1,
      |    list_transform(
      |      list_transform(vocab, w -> struct_pack(
      |        freq := w.freq,
      |        syms := w.syms,
      |        kept := list_reduce(
      |          list_prepend(CAST([] AS BIGINT[]), list_transform(
      |            list_filter(generate_series(1, len(w.syms) - 1),
      |              i -> w.syms[i] = best.bl AND w.syms[i + 1] = best.br),
      |            m -> [m])),
      |          (acc, x) -> CASE WHEN len(acc) > 0 AND acc[len(acc)] = x[1] - 1
      |                           THEN acc ELSE list_concat(acc, x) END))),
      |      wk -> struct_pack(
      |        freq := wk.freq,
      |        syms := flatten(list_transform(generate_series(1, len(wk.syms)), i ->
      |          CASE WHEN list_contains(wk.kept, i) THEN [best.bl || best.br]
      |               WHEN list_contains(wk.kept, i - 1) THEN CAST([] AS VARCHAR[])
      |               ELSE [wk.syms[i]] END)))),
      |    best.bl, best.br, best.bcnt
      |  FROM (
      |    SELECT step, vocab,
      |      list_sort(list_transform(allpairs, u -> struct_pack(
      |          negcnt := -list_aggregate(list_transform(
      |            list_filter(allpairs, p -> p.l = u.l AND p.r = u.r), p -> p.f), 'sum'),
      |          l := u.l, r := u.r)))[1] AS b0
      |    FROM (
      |      SELECT step, vocab,
      |        flatten(list_transform(vocab, w ->
      |          list_transform(generate_series(1, len(w.syms) - 1), i ->
      |            struct_pack(l := w.syms[i], r := w.syms[i + 1], f := w.freq)))) AS allpairs
      |      FROM loop WHERE step < 20) pairs
      |    WHERE len(allpairs) > 0) stepped,
      |  LATERAL (SELECT struct_pack(bl := b0.l, br := b0.r, bcnt := CAST(-b0.negcnt AS BIGINT)) AS best) b
      |)""".stripMargin

  val oracles: Map[String, String] = Map(
    "q24_token_stats" ->
      """WITH t AS (
        |  SELECT lang,
        |    len(string_split_regex(trim(text), '\s+')) AS n_tok,
        |    len(regexp_extract_all(text, '[A-Za-z0-9]+|[^A-Za-z0-9\s]')) AS n_bpe
        |  FROM documents)
        |SELECT lang, count(*) AS n_docs,
        |  round(avg(n_tok), 4) AS avg_tokens,
        |  round(avg(n_bpe), 4) AS avg_bpe_tokens,
        |  CAST(sum(n_tok) AS BIGINT) AS total_tokens
        |FROM t GROUP BY 1 ORDER BY 1""".stripMargin,

    "q25_quality" ->
      """WITH t AS (
        |  SELECT source,
        |    list_filter(string_split_regex(trim(regexp_replace(lower(text), '[^a-z ]', ' ', 'g')), '\s+'), x -> len(x) > 0) AS toks,
        |    len(regexp_replace(text, '\s', '', 'g')) AS n_nonspace,
        |    len(regexp_replace(text, '[A-Za-z0-9\s]', '', 'g')) AS n_punct,
        |    len(string_split_regex(trim(text), '\s+')) AS n_tok
        |  FROM documents),
        |r AS (
        |  SELECT source,
        |    CASE WHEN len(toks) = 0 THEN 0.0
        |      ELSE len(list_filter(toks, x -> x IN ('the','a','an','of','and','in','to','is','on','for'))) / CAST(len(toks) AS DOUBLE) END AS stop_r,
        |    CASE WHEN n_nonspace = 0 THEN 0.0
        |      ELSE n_punct / CAST(n_nonspace AS DOUBLE) END AS punct_r,
        |    n_tok FROM t),
        |q AS (
        |  SELECT source, stop_r, punct_r,
        |    round(least(n_tok / 20.0, 1.0) * 0.4 +
        |      (1.0 - least(punct_r * 4, 1.0)) * 0.3 +
        |      least(stop_r * 5, 1.0) * 0.3, 6) AS qual
        |  FROM r)
        |SELECT source, round(avg(stop_r), 4) AS avg_stop_ratio,
        |  round(avg(punct_r), 4) AS avg_punct_ratio,
        |  round(avg(qual), 4) AS avg_quality, count(*) AS n_docs
        |FROM q GROUP BY 1 ORDER BY 1""".stripMargin,

    "q27_exact_dedup" ->
      """WITH g AS (
        |  SELECT md5(lower(text)) AS h, count(*) AS n_copies,
        |    min(doc_id) AS keep_doc
        |  FROM documents GROUP BY 1)
        |SELECT count(*) AS distinct_texts,
        |  CAST(sum(n_copies) AS BIGINT) AS total_docs,
        |  CAST(sum(CASE WHEN n_copies > 1 THEN n_copies - 1 ELSE 0 END) AS BIGINT) AS dup_docs
        |FROM g""".stripMargin,

    "q38_dedup_keep" ->
      """WITH toks AS (
        |  SELECT doc_id, list_filter(string_split_regex(trim(regexp_replace(lower(text), '[^a-z ]', ' ', 'g')), '\s+'), x -> len(x) > 0) AS t
        |  FROM documents),
        |shingles AS (
        |  SELECT DISTINCT doc_id, s
        |  FROM (SELECT doc_id, array_to_string(t[i:i+2], ' ') AS s
        |        FROM toks, LATERAL (SELECT unnest(generate_series(1, len(t)-2)) AS i) g
        |        WHERE len(t) >= 3)),
        |counts AS (SELECT doc_id, count(*) AS n FROM shingles GROUP BY 1),
        |pairs AS (
        |  SELECT a.doc_id d1, b.doc_id d2, count(*) shared
        |  FROM shingles a JOIN shingles b ON a.s = b.s AND a.doc_id < b.doc_id
        |  GROUP BY 1, 2),
        |dups AS (
        |  SELECT DISTINCT p.d2 AS doc_id
        |  FROM pairs p JOIN counts c1 ON p.d1 = c1.doc_id
        |  JOIN counts c2 ON p.d2 = c2.doc_id
        |  WHERE p.shared / (c1.n + c2.n - p.shared) >= 0.5)
        |SELECT lang, count(*) AS n_kept,
        |  CAST(sum(doc_id) AS BIGINT) AS id_checksum
        |FROM documents WHERE doc_id NOT IN (SELECT doc_id FROM dups)
        |GROUP BY 1 ORDER BY 1""".stripMargin,

    "q52_dedup_components" ->
      """WITH RECURSIVE toks AS (
        |  SELECT doc_id, list_filter(string_split_regex(trim(regexp_replace(lower(text), '[^a-z ]', ' ', 'g')), '\s+'), x -> len(x) > 0) AS t
        |  FROM documents),
        |shingles AS (
        |  SELECT DISTINCT doc_id, s
        |  FROM (SELECT doc_id, array_to_string(t[i:i+2], ' ') AS s
        |        FROM toks, LATERAL (SELECT unnest(generate_series(1, len(t)-2)) AS i) g
        |        WHERE len(t) >= 3)),
        |counts AS (SELECT doc_id, count(*) AS n FROM shingles GROUP BY 1),
        |p AS (
        |  SELECT a.doc_id d1, b.doc_id d2
        |  FROM shingles a JOIN shingles b ON a.s = b.s AND a.doc_id < b.doc_id
        |  JOIN counts c1 ON a.doc_id = c1.doc_id
        |  JOIN counts c2 ON b.doc_id = c2.doc_id
        |  GROUP BY a.doc_id, b.doc_id, c1.n, c2.n
        |  HAVING count(*) / (c1.n + c2.n - count(*)) >= 0.5),
        |edges AS (SELECT d1, d2 FROM p UNION ALL SELECT d2 AS d1, d1 AS d2 FROM p),
        |reach AS (
        |  SELECT d1 AS d, d1 AS r FROM edges
        |  UNION
        |  SELECT e.d2 AS d, reach.r FROM reach JOIN edges e ON e.d1 = reach.d),
        |comp AS (SELECT d, min(r) AS component FROM reach GROUP BY d)
        |SELECT component, CAST(count(*) AS BIGINT) AS n_docs,
        |  min(d) AS keep_doc
        |FROM comp GROUP BY 1 HAVING count(*) >= 2 ORDER BY component""".stripMargin,

    // q52's recursive closure + the q25 quality formula + a rank-1 window:
    // the canonical-keep policy replayed end-to-end
    "q97_component_canonical" ->
      """WITH RECURSIVE toks AS (
        |  SELECT doc_id, list_filter(string_split_regex(trim(regexp_replace(lower(text), '[^a-z ]', ' ', 'g')), '\s+'), x -> len(x) > 0) AS t
        |  FROM documents),
        |shingles AS (
        |  SELECT DISTINCT doc_id, s
        |  FROM (SELECT doc_id, array_to_string(t[i:i+2], ' ') AS s
        |        FROM toks, LATERAL (SELECT unnest(generate_series(1, len(t)-2)) AS i) g
        |        WHERE len(t) >= 3)),
        |counts AS (SELECT doc_id, count(*) AS n FROM shingles GROUP BY 1),
        |p AS (
        |  SELECT a.doc_id d1, b.doc_id d2
        |  FROM shingles a JOIN shingles b ON a.s = b.s AND a.doc_id < b.doc_id
        |  JOIN counts c1 ON a.doc_id = c1.doc_id
        |  JOIN counts c2 ON b.doc_id = c2.doc_id
        |  GROUP BY a.doc_id, b.doc_id, c1.n, c2.n
        |  HAVING count(*) / (c1.n + c2.n - count(*)) >= 0.5),
        |edges AS (SELECT d1, d2 FROM p UNION ALL SELECT d2 AS d1, d1 AS d2 FROM p),
        |reach AS (
        |  SELECT d1 AS d, d1 AS r FROM edges
        |  UNION
        |  SELECT e.d2 AS d, reach.r FROM reach JOIN edges e ON e.d1 = reach.d),
        |comp AS (SELECT d, min(r) AS component FROM reach GROUP BY d),
        |raw AS (
        |  SELECT doc_id,
        |    list_filter(string_split_regex(trim(regexp_replace(lower(text), '[^a-z ]', ' ', 'g')), '\s+'), x -> len(x) > 0) AS qtoks,
        |    len(regexp_replace(text, '\s', '', 'g')) AS n_nonspace,
        |    len(regexp_replace(text, '[A-Za-z0-9\s]', '', 'g')) AS n_punct,
        |    len(string_split_regex(trim(text), '\s+')) AS n_tok
        |  FROM documents),
        |ratios AS (
        |  SELECT doc_id,
        |    CASE WHEN len(qtoks) = 0 THEN 0.0
        |      ELSE len(list_filter(qtoks, x -> x IN ('the','a','an','of','and','in','to','is','on','for'))) / CAST(len(qtoks) AS DOUBLE) END AS stop_r,
        |    CASE WHEN n_nonspace = 0 THEN 0.0
        |      ELSE n_punct / CAST(n_nonspace AS DOUBLE) END AS punct_r,
        |    n_tok FROM raw),
        |qual AS (
        |  SELECT doc_id,
        |    round(least(n_tok / 20.0, 1.0) * 0.4 +
        |      (1.0 - least(punct_r * 4, 1.0)) * 0.3 +
        |      least(stop_r * 5, 1.0) * 0.3, 6) AS q
        |  FROM ratios),
        |m AS (
        |  SELECT c.component, c.d AS doc_id, qual.q,
        |    row_number() OVER (PARTITION BY c.component ORDER BY qual.q DESC, c.d) AS rk,
        |    count(*) OVER (PARTITION BY c.component) AS n_docs,
        |    sum(c.d) OVER (PARTITION BY c.component) AS sum_ids
        |  FROM comp c JOIN qual ON c.d = qual.doc_id)
        |SELECT component, CAST(n_docs AS BIGINT) AS n_docs, doc_id AS keep_doc,
        |  round(q, 4) AS keep_quality,
        |  CAST(sum_ids - doc_id AS BIGINT) AS dropped_checksum
        |FROM m WHERE rk = 1 AND n_docs >= 2 ORDER BY component""".stripMargin,

    // q52's recursive closure, summarized as the size histogram
    "q72_cluster_histogram" ->
      """WITH RECURSIVE toks AS (
        |  SELECT doc_id, list_filter(string_split_regex(trim(regexp_replace(lower(text), '[^a-z ]', ' ', 'g')), '\s+'), x -> len(x) > 0) AS t
        |  FROM documents),
        |shingles AS (
        |  SELECT DISTINCT doc_id, s
        |  FROM (SELECT doc_id, array_to_string(t[i:i+2], ' ') AS s
        |        FROM toks, LATERAL (SELECT unnest(generate_series(1, len(t)-2)) AS i) g
        |        WHERE len(t) >= 3)),
        |counts AS (SELECT doc_id, count(*) AS n FROM shingles GROUP BY 1),
        |p AS (
        |  SELECT a.doc_id d1, b.doc_id d2
        |  FROM shingles a JOIN shingles b ON a.s = b.s AND a.doc_id < b.doc_id
        |  JOIN counts c1 ON a.doc_id = c1.doc_id
        |  JOIN counts c2 ON b.doc_id = c2.doc_id
        |  GROUP BY a.doc_id, b.doc_id, c1.n, c2.n
        |  HAVING count(*) / (c1.n + c2.n - count(*)) >= 0.5),
        |edges AS (SELECT d1, d2 FROM p UNION ALL SELECT d2 AS d1, d1 AS d2 FROM p),
        |reach AS (
        |  SELECT d1 AS d, d1 AS r FROM edges
        |  UNION
        |  SELECT e.d2 AS d, reach.r FROM reach JOIN edges e ON e.d1 = reach.d),
        |comp AS (SELECT d, min(r) AS component FROM reach GROUP BY d),
        |sizes AS (
        |  SELECT component, count(*) AS sz FROM comp GROUP BY 1 HAVING count(*) >= 2)
        |SELECT sz AS cluster_size, CAST(count(*) AS BIGINT) AS n_clusters,
        |  CAST(sum(sz) AS BIGINT) AS n_docs
        |FROM sizes GROUP BY 1 ORDER BY 1""".stripMargin,

    "q53_train_split" ->
      """WITH s AS (
        |  SELECT doc_id, n_chars,
        |    substring(md5('split:' || CAST(doc_id AS VARCHAR)), 1, 1) AS h
        |  FROM documents),
        |c AS (
        |  SELECT CASE WHEN h IN ('c','d') THEN 'valid'
        |              WHEN h IN ('e','f') THEN 'test'
        |              ELSE 'train' END AS split,
        |    n_chars, doc_id FROM s)
        |SELECT split, count(*) AS n_docs,
        |  CAST(sum(n_chars) AS BIGINT) AS total_chars,
        |  CAST(sum(doc_id) AS BIGINT) AS id_checksum
        |FROM c GROUP BY 1 ORDER BY 1""".stripMargin,

    "q54_repetition" ->
      """WITH toks AS (
        |  SELECT doc_id, source, list_filter(string_split_regex(trim(regexp_replace(lower(text), '[^a-z ]', ' ', 'g')), '\s+'), x -> len(x) > 0) AS t
        |  FROM documents),
        |g AS (
        |  SELECT doc_id, array_to_string(t[i:i+2], ' ') AS s
        |  FROM toks, LATERAL (SELECT unnest(generate_series(1, len(t)-2)) AS i) gg
        |  WHERE len(t) >= 3),
        |per AS (
        |  SELECT doc_id, count(*) AS total, count(DISTINCT s) AS dist
        |  FROM g GROUP BY 1),
        |allper AS (
        |  SELECT d.source,
        |    coalesce(p.total, 0) AS total, coalesce(p.dist, 0) AS dist
        |  FROM documents d LEFT JOIN per p ON d.doc_id = p.doc_id),
        |r AS (
        |  SELECT source, CASE WHEN total = 0 THEN 0.0
        |    ELSE 1.0 - dist / CAST(total AS DOUBLE) END AS dup_ratio
        |  FROM allper)
        |SELECT source, count(*) AS n_docs,
        |  round(avg(dup_ratio), 4) AS avg_dup_ratio,
        |  round(max(dup_ratio), 4) AS max_dup_ratio,
        |  CAST(sum(CASE WHEN dup_ratio > 0.2 THEN 1 ELSE 0 END) AS BIGINT) AS n_boilerplate
        |FROM r GROUP BY 1 ORDER BY 1""".stripMargin,

    "q55_split_leakage" ->
      """WITH toks AS (
        |  SELECT doc_id, list_filter(string_split_regex(trim(regexp_replace(lower(text), '[^a-z ]', ' ', 'g')), '\s+'), x -> len(x) > 0) AS t
        |  FROM documents),
        |shingles AS (
        |  SELECT DISTINCT doc_id, s
        |  FROM (SELECT doc_id, array_to_string(t[i:i+2], ' ') AS s
        |        FROM toks, LATERAL (SELECT unnest(generate_series(1, len(t)-2)) AS i) g
        |        WHERE len(t) >= 3)),
        |counts AS (SELECT doc_id, count(*) AS n FROM shingles GROUP BY 1),
        |pairs AS (
        |  SELECT a.doc_id d1, b.doc_id d2, count(*) shared
        |  FROM shingles a JOIN shingles b ON a.s = b.s AND a.doc_id < b.doc_id
        |  GROUP BY 1, 2),
        |near AS (
        |  SELECT p.d1, p.d2
        |  FROM pairs p JOIN counts c1 ON p.d1 = c1.doc_id
        |  JOIN counts c2 ON p.d2 = c2.doc_id
        |  WHERE p.shared / (c1.n + c2.n - p.shared) >= 0.5),
        |sp AS (
        |  SELECT doc_id,
        |    CASE WHEN substring(md5('split:' || CAST(doc_id AS VARCHAR)), 1, 1) IN ('c','d') THEN 'valid'
        |         WHEN substring(md5('split:' || CAST(doc_id AS VARCHAR)), 1, 1) IN ('e','f') THEN 'test'
        |         ELSE 'train' END AS split
        |  FROM documents),
        |leaks AS (
        |  SELECT array_to_string(list_sort([sa.split, sb.split]), '|') AS leak_pair,
        |    n.d1, n.d2
        |  FROM near n JOIN sp sa ON n.d1 = sa.doc_id
        |  JOIN sp sb ON n.d2 = sb.doc_id
        |  WHERE sa.split <> sb.split)
        |SELECT leak_pair, count(*) AS n_pairs,
        |  CAST(sum(d1 + d2) AS BIGINT) AS id_checksum
        |FROM leaks GROUP BY 1 ORDER BY 1""".stripMargin,

    "q58_length_buckets" ->
      """WITH t AS (
        |  SELECT len(string_split_regex(trim(text), '\s+')) AS n_tok
        |  FROM documents),
        |b AS (
        |  SELECT CASE WHEN n_tok <= 32 THEN 32
        |              WHEN n_tok <= 48 THEN 48
        |              WHEN n_tok <= 64 THEN 64
        |              ELSE 128 END AS bucket, n_tok
        |  FROM t)
        |SELECT bucket, count(*) AS n_docs,
        |  CAST(sum(n_tok) AS BIGINT) AS total_tokens,
        |  round(sum(n_tok) / CAST(count(*) * bucket AS DOUBLE), 4) AS packing_efficiency
        |FROM b GROUP BY 1 ORDER BY 1""".stripMargin,

    "q59_source_mixture" ->
      """WITH b AS (
        |  SELECT source, count(*) AS n_docs FROM documents GROUP BY 1),
        |t AS (
        |  SELECT source, n_docs,
        |    n_docs / CAST((SELECT sum(n_docs) FROM b) AS DOUBLE) AS share,
        |    1.0 / (SELECT count(*) FROM b) AS target_share
        |  FROM b)
        |SELECT source, n_docs, round(share, 4) AS share,
        |  round(least(1.0, target_share / share), 4) AS sample_rate
        |FROM t ORDER BY 1""".stripMargin,

    "q85_source_kl" ->
      """WITH toks AS (
        |  SELECT source,
        |    unnest(list_filter(string_split_regex(trim(regexp_replace(lower(text), '[^a-z ]', ' ', 'g')), '\s+'), x -> len(x) > 0)) AS token
        |  FROM documents),
        |st AS (SELECT source, token, count(*) AS c_st FROM toks GROUP BY 1, 2),
        |ns AS (SELECT source, sum(c_st) AS n_s FROM st GROUP BY 1),
        |ct AS (SELECT token, sum(c_st) AS c_t FROM st GROUP BY 1),
        |nt AS (SELECT sum(c_t) AS n_tot FROM ct)
        |SELECT st.source, count(*) AS n_types,
        |  CAST(sum(c_st) AS BIGINT) AS n_tokens,
        |  round(sum((c_st / CAST(n_s AS DOUBLE)) *
        |    ln((c_st / CAST(n_s AS DOUBLE)) / (c_t / CAST(n_tot AS DOUBLE)))), 4) AS kl
        |FROM st JOIN ns USING (source) JOIN ct USING (token) CROSS JOIN nt
        |GROUP BY 1 ORDER BY 1""".stripMargin,

    "q60_unigram_surprisal" ->
      """WITH toks AS (
        |  SELECT doc_id, source,
        |    unnest(list_filter(string_split_regex(trim(regexp_replace(lower(text), '[^a-z ]', ' ', 'g')), '\s+'), x -> len(x) > 0)) AS token
        |  FROM documents),
        |freq AS (SELECT token, count(*) AS tf FROM toks GROUP BY 1),
        |p AS (SELECT token, tf / CAST((SELECT sum(tf) FROM freq) AS DOUBLE) AS p FROM freq),
        |per AS (
        |  SELECT t.doc_id, t.source, avg(-ln(p.p)) AS surprisal
        |  FROM toks t JOIN p ON t.token = p.token
        |  GROUP BY 1, 2)
        |SELECT source, count(*) AS n_docs,
        |  round(avg(surprisal), 4) AS avg_surprisal,
        |  round(max(surprisal), 4) AS max_surprisal
        |FROM per GROUP BY 1 ORDER BY 1""".stripMargin,

    "q61_train_export" ->
      """WITH toks AS (
        |  SELECT doc_id, list_filter(string_split_regex(trim(regexp_replace(lower(text), '[^a-z ]', ' ', 'g')), '\s+'), x -> len(x) > 0) AS t
        |  FROM documents),
        |shingles AS (
        |  SELECT DISTINCT doc_id, s
        |  FROM (SELECT doc_id, array_to_string(t[i:i+2], ' ') AS s
        |        FROM toks, LATERAL (SELECT unnest(generate_series(1, len(t)-2)) AS i) g
        |        WHERE len(t) >= 3)),
        |counts AS (SELECT doc_id, count(*) AS n FROM shingles GROUP BY 1),
        |pairs AS (
        |  SELECT a.doc_id d1, b.doc_id d2, count(*) shared
        |  FROM shingles a JOIN shingles b ON a.s = b.s AND a.doc_id < b.doc_id
        |  GROUP BY 1, 2),
        |dups AS (
        |  SELECT DISTINCT p.d2 AS doc_id
        |  FROM pairs p JOIN counts c1 ON p.d1 = c1.doc_id
        |  JOIN counts c2 ON p.d2 = c2.doc_id
        |  WHERE p.shared / (c1.n + c2.n - p.shared) >= 0.5),
        |q AS (
        |  SELECT d.doc_id, d.lang,
        |    len(string_split_regex(trim(d.text), '\s+')) AS n_tok,
        |    CASE WHEN len(tk.t) = 0 THEN 0.0
        |      ELSE len(list_filter(tk.t, x -> x IN ('the','a','an','of','and','in','to','is','on','for'))) / CAST(len(tk.t) AS DOUBLE) END AS stop_r,
        |    CASE WHEN len(regexp_replace(d.text, '\s', '', 'g')) = 0 THEN 0.0
        |      ELSE len(regexp_replace(d.text, '[A-Za-z0-9\s]', '', 'g')) / CAST(len(regexp_replace(d.text, '\s', '', 'g')) AS DOUBLE) END AS punct_r,
        |    substring(md5('split:' || CAST(d.doc_id AS VARCHAR)), 1, 1) AS h
        |  FROM documents d JOIN toks tk ON d.doc_id = tk.doc_id
        |  WHERE d.doc_id NOT IN (SELECT doc_id FROM dups)),
        |f AS (
        |  SELECT doc_id, lang, n_tok,
        |    round(least(n_tok / 20.0, 1.0) * 0.4 +
        |      (1.0 - least(punct_r * 4, 1.0)) * 0.3 +
        |      least(stop_r * 5, 1.0) * 0.3, 6) AS qual
        |  FROM q
        |  WHERE h NOT IN ('c','d','e','f'))
        |SELECT lang, count(*) AS n_docs,
        |  CAST(sum(doc_id) AS BIGINT) AS id_checksum,
        |  CAST(sum(n_tok) AS BIGINT) AS total_tokens
        |FROM f WHERE qual >= 0.5
        |GROUP BY 1 ORDER BY 1""".stripMargin,

    "q39_top_tokens" ->
      """WITH t AS (
        |  SELECT unnest(list_filter(string_split_regex(trim(regexp_replace(lower(text), '[^a-z ]', ' ', 'g')), '\s+'), x -> len(x) > 0)) AS token
        |  FROM documents)
        |SELECT token, count(*) AS n FROM t
        |GROUP BY 1 ORDER BY n DESC, token LIMIT 10""".stripMargin,

    // CMS replay: same md5 4-hex bucket per (row j, token), counters =
    // integer sums per (j, bucket), estimate = min over the 4 counters.
    "q87_cms_heavy_hitters" ->
      """WITH t AS (
        |  SELECT unnest(list_filter(string_split_regex(trim(regexp_replace(lower(text), '[^a-z ]', ' ', 'g')), '\s+'), x -> len(x) > 0)) AS token
        |  FROM documents),
        |tc AS (SELECT token, count(*) AS n FROM t GROUP BY 1),
        |bkt AS (
        |  SELECT token, j,
        |    ((strpos('0123456789abcdef', substring(h, 1, 1)) - 1) * 4096
        |   + (strpos('0123456789abcdef', substring(h, 2, 1)) - 1) * 256
        |   + (strpos('0123456789abcdef', substring(h, 3, 1)) - 1) * 16
        |   + (strpos('0123456789abcdef', substring(h, 4, 1)) - 1)) % 1024 AS b
        |  FROM (SELECT token, j, md5('cms' || j || ':' || token) AS h
        |        FROM tc, LATERAL (SELECT unnest([0, 1, 2, 3]) AS j) g)),
        |counters AS (
        |  SELECT j, b, CAST(sum(n) AS BIGINT) AS c
        |  FROM bkt JOIN tc USING (token) GROUP BY 1, 2),
        |top AS (SELECT token, n FROM tc ORDER BY n DESC, token LIMIT 20)
        |SELECT top.token, top.n, min(c) AS cms_est
        |FROM top JOIN bkt USING (token) JOIN counters USING (j, b)
        |GROUP BY 1, 2 ORDER BY n DESC, token""".stripMargin,

    // A-ES replay: u from the same salted md5 first-8-hex uniform, key =
    // ln(u)/w, top-100 by unrounded key (rounding only in the output).
    "q88_weighted_sample" ->
      """WITH d AS (
        |  SELECT doc_id, source,
        |    greatest(len(list_filter(string_split_regex(trim(regexp_replace(lower(text), '[^a-z ]', ' ', 'g')), '\s+'), x -> len(x) > 0)), 1) AS w,
        |    md5('wrs:' || CAST(doc_id AS VARCHAR)) AS h
        |  FROM documents),
        |k AS (
        |  SELECT doc_id, source, CAST(w AS BIGINT) AS w,
        |    ln((
        |      (strpos('0123456789abcdef', substring(h, 1, 1)) - 1) * 268435456.0
        |    + (strpos('0123456789abcdef', substring(h, 2, 1)) - 1) * 16777216
        |    + (strpos('0123456789abcdef', substring(h, 3, 1)) - 1) * 1048576
        |    + (strpos('0123456789abcdef', substring(h, 4, 1)) - 1) * 65536
        |    + (strpos('0123456789abcdef', substring(h, 5, 1)) - 1) * 4096
        |    + (strpos('0123456789abcdef', substring(h, 6, 1)) - 1) * 256
        |    + (strpos('0123456789abcdef', substring(h, 7, 1)) - 1) * 16
        |    + (strpos('0123456789abcdef', substring(h, 8, 1)) - 1)
        |    + 0.5) / 4294967296.0) / w AS key
        |  FROM d)
        |SELECT doc_id, source, w, round(key, 9) AS sample_key
        |FROM k ORDER BY key DESC, doc_id LIMIT 100""".stripMargin,

    // chunk starts replayed with the stepped generate_series; md5 over the
    // identical space-joined 20-token window
    "q89_passage_dedup" ->
      """WITH toks AS (
        |  SELECT doc_id, source, list_filter(string_split_regex(trim(regexp_replace(lower(text), '[^a-z ]', ' ', 'g')), '\s+'), x -> len(x) > 0) AS t
        |  FROM documents),
        |ch AS (
        |  SELECT doc_id, source, md5(array_to_string(t[i:i+19], ' ')) AS h
        |  FROM toks, LATERAL (SELECT unnest(generate_series(1, len(t) - 19, 20)) AS i) g
        |  WHERE len(t) >= 20),
        |counts AS (SELECT h, count(*) AS tot FROM ch GROUP BY 1)
        |SELECT source, count(*) AS n_chunks,
        |  CAST(sum(CASE WHEN tot >= 2 THEN 1 ELSE 0 END) AS BIGINT) AS dup_chunks,
        |  round(CAST(sum(CASE WHEN tot >= 2 THEN 1 ELSE 0 END) AS DOUBLE) / count(*), 4) AS dup_ratio
        |FROM ch JOIN counts USING (h)
        |GROUP BY 1 ORDER BY source""".stripMargin,

    "q90_tfidf_terms" ->
      """WITH toks AS (
        |  SELECT doc_id, source, list_filter(string_split_regex(trim(regexp_replace(lower(text), '[^a-z ]', ' ', 'g')), '\s+'), x -> len(x) > 0) AS t
        |  FROM documents),
        |occ AS (SELECT source, unnest(t) AS token FROM toks),
        |tf AS (SELECT source, token, count(*) AS tf FROM occ GROUP BY 1, 2),
        |dfq AS (
        |  SELECT token, count(*) AS df
        |  FROM (SELECT DISTINCT doc_id, token
        |        FROM (SELECT doc_id, unnest(t) AS token FROM toks))
        |  GROUP BY 1),
        |n AS (SELECT count(*) AS nd FROM documents),
        |sc AS (
        |  SELECT source, token, tf * ln(CAST(nd AS DOUBLE) / df) AS score
        |  FROM tf JOIN dfq USING (token), n),
        |rnk AS (
        |  SELECT source, token, score,
        |    row_number() OVER (PARTITION BY source ORDER BY score DESC, token) AS rk
        |  FROM sc)
        |SELECT source, CAST(rk AS INT) AS rk, token, round(score, 4) AS tfidf
        |FROM rnk WHERE rk <= 5 ORDER BY source, rk""".stripMargin,

    "q28_jaccard_pairs" ->
      """WITH toks AS (
        |  SELECT doc_id, list_filter(string_split_regex(trim(regexp_replace(lower(text), '[^a-z ]', ' ', 'g')), '\s+'), x -> len(x) > 0) AS t
        |  FROM documents),
        |shingles AS (
        |  SELECT DISTINCT doc_id, s
        |  FROM (SELECT doc_id, array_to_string(t[i:i+2], ' ') AS s
        |        FROM toks, LATERAL (SELECT unnest(generate_series(1, len(t)-2)) AS i) g
        |        WHERE len(t) >= 3)),
        |counts AS (SELECT doc_id, count(*) AS n FROM shingles GROUP BY 1),
        |pairs AS (
        |  SELECT a.doc_id d1, b.doc_id d2, count(*) shared
        |  FROM shingles a JOIN shingles b ON a.s = b.s AND a.doc_id < b.doc_id
        |  GROUP BY 1, 2)
        |SELECT p.d1, p.d2,
        |  round(p.shared / (c1.n + c2.n - p.shared), 4) AS jac
        |FROM pairs p JOIN counts c1 ON p.d1 = c1.doc_id
        |JOIN counts c2 ON p.d2 = c2.doc_id
        |WHERE p.shared / (c1.n + c2.n - p.shared) >= 0.3
        |ORDER BY 1, 2""".stripMargin,

    // the exact shingle self-join at the q29 verify threshold: the LSH
    // path must reproduce it pair-for-pair (banding recall ≈ 1 at 32×2,
    // pinned by the DedupSpec canary) — the same losslessness proof the
    // q38/q52/q55/q61 oracles already make through their pipelines
    "q29_minhash_lsh" ->
      """WITH toks AS (
        |  SELECT doc_id, list_filter(string_split_regex(trim(regexp_replace(lower(text), '[^a-z ]', ' ', 'g')), '\s+'), x -> len(x) > 0) AS t
        |  FROM documents),
        |shingles AS (
        |  SELECT DISTINCT doc_id, s
        |  FROM (SELECT doc_id, array_to_string(t[i:i+2], ' ') AS s
        |        FROM toks, LATERAL (SELECT unnest(generate_series(1, len(t)-2)) AS i) g
        |        WHERE len(t) >= 3)),
        |counts AS (SELECT doc_id, count(*) AS n FROM shingles GROUP BY 1),
        |pairs AS (
        |  SELECT a.doc_id d1, b.doc_id d2, count(*) shared
        |  FROM shingles a JOIN shingles b ON a.s = b.s AND a.doc_id < b.doc_id
        |  GROUP BY 1, 2)
        |SELECT p.d1, p.d2,
        |  round(p.shared / (c1.n + c2.n - p.shared), 4) AS jac
        |FROM pairs p JOIN counts c1 ON p.d1 = c1.doc_id
        |JOIN counts c2 ON p.d2 = c2.doc_id
        |WHERE p.shared / (c1.n + c2.n - p.shared) >= 0.5
        |ORDER BY 1, 2""".stripMargin,

    // hex→int spelled with strpos so it works on any DuckDB (no from_hex
    // dependency); bucket/65536.0 is exact binary division on both sides
    "q65_mixture_downsample" ->
      """WITH b AS (SELECT lang, count(*) AS n_docs FROM documents GROUP BY 1),
        |t AS (SELECT lang, n_docs,
        |        n_docs / CAST((SELECT sum(n_docs) FROM b) AS DOUBLE) AS share,
        |        1.0 / (SELECT count(*) FROM b) AS target_share FROM b),
        |r AS (SELECT lang, round(least(1.0, target_share / share), 4) AS sample_rate FROM t),
        |k AS (SELECT d.lang, d.doc_id, r.sample_rate,
        |        (((strpos('0123456789abcdef', substring(h,1,1))-1)*4096
        |         +(strpos('0123456789abcdef', substring(h,2,1))-1)*256
        |         +(strpos('0123456789abcdef', substring(h,3,1))-1)*16
        |         +(strpos('0123456789abcdef', substring(h,4,1))-1)) / 65536.0) < r.sample_rate AS keep
        |      FROM (SELECT lang, doc_id, substring(md5('sample:' || CAST(doc_id AS VARCHAR)), 1, 4) AS h
        |            FROM documents) d JOIN r USING(lang))
        |SELECT lang, count(*) AS n_docs, min(sample_rate) AS sample_rate,
        |  CAST(sum(CASE WHEN keep THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
        |  CAST(coalesce(sum(CASE WHEN keep THEN doc_id END), 0) AS BIGINT) AS id_checksum
        |FROM k GROUP BY 1 ORDER BY 1""".stripMargin,

    "q66_pii_scrub" ->
      """WITH aug AS (
        |  SELECT source,
        |    text || ' contact user' || CAST(doc_id AS VARCHAR) || '@example.com or +1-555-' ||
        |    lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0') || ' from 10.' || CAST(doc_id % 256 AS VARCHAR) || '.0.1' AS raw
        |  FROM documents),
        |c AS (
        |  SELECT source,
        |    len(regexp_extract_all(raw, '[A-Za-z0-9.]+@[A-Za-z0-9]+\.[A-Za-z]{2,}')) AS n_email,
        |    len(regexp_extract_all(raw, '\+1-555-\d{4}')) AS n_phone,
        |    len(regexp_extract_all(raw, '\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b')) AS n_ip,
        |    len(regexp_replace(regexp_replace(regexp_replace(raw,
        |      '[A-Za-z0-9.]+@[A-Za-z0-9]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
        |      '\+1-555-\d{4}', '<PHONE>', 'g'),
        |      '\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b', '<IP>', 'g')) AS scrubbed_len
        |  FROM aug)
        |SELECT source, count(*) AS n_docs,
        |  CAST(sum(n_email) AS BIGINT) AS n_emails,
        |  CAST(sum(n_phone) AS BIGINT) AS n_phones,
        |  CAST(sum(n_ip) AS BIGINT) AS n_ips,
        |  CAST(sum(scrubbed_len) AS BIGINT) AS scrubbed_chars
        |FROM c GROUP BY 1 ORDER BY 1""".stripMargin,

    "q67_bigram_surprisal" ->
      """WITH toks AS (
        |  SELECT doc_id, source, list_filter(string_split_regex(trim(regexp_replace(lower(text), '[^a-z ]', ' ', 'g')), '\s+'), x -> len(x) > 0) AS t
        |  FROM documents),
        |bg AS (
        |  SELECT doc_id, source, array_to_string(t[i:i+1], ' ') AS bg
        |  FROM toks, LATERAL (SELECT unnest(generate_series(1, len(t)-1)) AS i) g
        |  WHERE len(t) >= 2),
        |f2 AS (SELECT bg, count(*) AS c2 FROM bg GROUP BY 1),
        |f1 AS (SELECT split_part(bg, ' ', 1) AS w1, count(*) AS c1 FROM bg GROUP BY 1),
        |p AS (SELECT f2.bg, f2.c2 / CAST(f1.c1 AS DOUBLE) AS p
        |      FROM f2 JOIN f1 ON split_part(f2.bg, ' ', 1) = f1.w1),
        |per AS (
        |  SELECT b.doc_id, b.source, avg(-ln(p.p)) AS surprisal
        |  FROM bg b JOIN p ON b.bg = p.bg GROUP BY 1, 2)
        |SELECT source, count(*) AS n_docs,
        |  round(avg(surprisal), 4) AS avg_surprisal,
        |  round(max(surprisal), 4) AS max_surprisal
        |FROM per GROUP BY 1 ORDER BY 1""".stripMargin,

    // q67's bigram LM replayed per document, then the CCNet tercile split
    "q98_perplexity_buckets" ->
      """WITH toks AS (
        |  SELECT doc_id, lang, list_filter(string_split_regex(trim(regexp_replace(lower(text), '[^a-z ]', ' ', 'g')), '\s+'), x -> len(x) > 0) AS t
        |  FROM documents),
        |bg AS (
        |  SELECT doc_id, lang, array_to_string(t[i:i+1], ' ') AS bg
        |  FROM toks, LATERAL (SELECT unnest(generate_series(1, len(t)-1)) AS i) g
        |  WHERE len(t) >= 2),
        |f2 AS (SELECT bg, count(*) AS c2 FROM bg GROUP BY 1),
        |f1 AS (SELECT split_part(bg, ' ', 1) AS w1, count(*) AS c1 FROM bg GROUP BY 1),
        |p AS (SELECT f2.bg, f2.c2 / CAST(f1.c1 AS DOUBLE) AS p
        |      FROM f2 JOIN f1 ON split_part(f2.bg, ' ', 1) = f1.w1),
        |per AS (
        |  SELECT b.doc_id, b.lang, avg(-ln(p.p)) AS s
        |  FROM bg b JOIN p ON b.bg = p.bg GROUP BY 1, 2),
        |nt AS (
        |  SELECT lang, doc_id, s,
        |    ntile(3) OVER (PARTITION BY lang ORDER BY round(s, 6), doc_id) AS bucket
        |  FROM per)
        |SELECT lang, bucket, count(*) AS n_docs,
        |  round(avg(s), 4) AS avg_surprisal,
        |  round(max(s), 4) AS cutoff_surprisal,
        |  CAST(sum(doc_id) AS BIGINT) AS id_checksum
        |FROM nt GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,

    // all four gate chains replayed in one program: the q52 recursive
    // closure + q25 quality + q68 gram join + q98 LM terciles, then the
    // first-gate CASE and the per-lang funnel aggregation
    "q100_curation_funnel" ->
      """WITH RECURSIVE toks AS (
        |  SELECT doc_id, lang, list_filter(string_split_regex(trim(regexp_replace(lower(text), '[^a-z ]', ' ', 'g')), '\s+'), x -> len(x) > 0) AS t
        |  FROM documents),
        |shingles AS (
        |  SELECT DISTINCT doc_id, s
        |  FROM (SELECT doc_id, array_to_string(t[i:i+2], ' ') AS s
        |        FROM toks, LATERAL (SELECT unnest(generate_series(1, len(t)-2)) AS i) g
        |        WHERE len(t) >= 3)),
        |counts AS (SELECT doc_id, count(*) AS n FROM shingles GROUP BY 1),
        |p AS (
        |  SELECT a.doc_id d1, b.doc_id d2
        |  FROM shingles a JOIN shingles b ON a.s = b.s AND a.doc_id < b.doc_id
        |  JOIN counts c1 ON a.doc_id = c1.doc_id
        |  JOIN counts c2 ON b.doc_id = c2.doc_id
        |  GROUP BY a.doc_id, b.doc_id, c1.n, c2.n
        |  HAVING count(*) / (c1.n + c2.n - count(*)) >= 0.5),
        |edges AS (SELECT d1, d2 FROM p UNION ALL SELECT d2 AS d1, d1 AS d2 FROM p),
        |reach AS (
        |  SELECT d1 AS d, d1 AS r FROM edges
        |  UNION
        |  SELECT e.d2 AS d, reach.r FROM reach JOIN edges e ON e.d1 = reach.d),
        |comp AS (SELECT d, min(r) AS component FROM reach GROUP BY d),
        |raw AS (
        |  SELECT doc_id,
        |    list_filter(string_split_regex(trim(regexp_replace(lower(text), '[^a-z ]', ' ', 'g')), '\s+'), x -> len(x) > 0) AS qtoks,
        |    len(regexp_replace(text, '\s', '', 'g')) AS n_nonspace,
        |    len(regexp_replace(text, '[A-Za-z0-9\s]', '', 'g')) AS n_punct,
        |    len(string_split_regex(trim(text), '\s+')) AS n_tok
        |  FROM documents),
        |ratios AS (
        |  SELECT doc_id,
        |    CASE WHEN len(qtoks) = 0 THEN 0.0
        |      ELSE len(list_filter(qtoks, x -> x IN ('the','a','an','of','and','in','to','is','on','for'))) / CAST(len(qtoks) AS DOUBLE) END AS stop_r,
        |    CASE WHEN n_nonspace = 0 THEN 0.0
        |      ELSE n_punct / CAST(n_nonspace AS DOUBLE) END AS punct_r,
        |    n_tok FROM raw),
        |qual AS (
        |  SELECT doc_id,
        |    round(least(n_tok / 20.0, 1.0) * 0.4 +
        |      (1.0 - least(punct_r * 4, 1.0)) * 0.3 +
        |      least(stop_r * 5, 1.0) * 0.3, 6) AS q
        |  FROM ratios),
        |mw AS (
        |  SELECT c.component, c.d AS doc_id,
        |    row_number() OVER (PARTITION BY c.component ORDER BY qual.q DESC, c.d) AS rk,
        |    count(*) OVER (PARTITION BY c.component) AS nm
        |  FROM comp c JOIN qual ON c.d = qual.doc_id),
        |dd AS (SELECT doc_id FROM mw WHERE nm >= 2 AND rk > 1),
        |sp AS (SELECT doc_id,
        |         CASE WHEN substring(md5('split:' || CAST(doc_id AS VARCHAR)), 1, 1) IN ('c','d') THEN 'valid'
        |              WHEN substring(md5('split:' || CAST(doc_id AS VARCHAR)), 1, 1) IN ('e','f') THEN 'test'
        |              ELSE 'train' END AS split
        |       FROM documents),
        |g5 AS (SELECT DISTINCT doc_id, array_to_string(t[i:i+4], ' ') AS g
        |       FROM toks, LATERAL (SELECT unnest(generate_series(1, len(t)-4)) AS i) gg
        |       WHERE len(t) >= 5),
        |held AS (SELECT DISTINCT g FROM g5 JOIN sp USING(doc_id) WHERE sp.split <> 'train'),
        |contam AS (
        |  SELECT DISTINCT g5.doc_id FROM g5 JOIN sp USING(doc_id) JOIN held USING(g)
        |  WHERE sp.split = 'train'),
        |bg AS (
        |  SELECT doc_id, lang, array_to_string(t[i:i+1], ' ') AS bg
        |  FROM toks, LATERAL (SELECT unnest(generate_series(1, len(t)-1)) AS i) g
        |  WHERE len(t) >= 2),
        |f2 AS (SELECT bg, count(*) AS c2 FROM bg GROUP BY 1),
        |f1 AS (SELECT split_part(bg, ' ', 1) AS w1, count(*) AS c1 FROM bg GROUP BY 1),
        |bp AS (SELECT f2.bg, f2.c2 / CAST(f1.c1 AS DOUBLE) AS p
        |       FROM f2 JOIN f1 ON split_part(f2.bg, ' ', 1) = f1.w1),
        |per AS (
        |  SELECT b.doc_id, b.lang, avg(-ln(bp.p)) AS s
        |  FROM bg b JOIN bp ON b.bg = bp.bg GROUP BY 1, 2),
        |nt AS (
        |  SELECT doc_id,
        |    ntile(3) OVER (PARTITION BY lang ORDER BY round(s, 6), doc_id) AS bucket
        |  FROM per),
        |funnel AS (
        |  SELECT t.doc_id, t.lang, len(t.t) AS ntok,
        |    CASE WHEN dd.doc_id IS NOT NULL THEN 'dedup'
        |         WHEN qual.q < 0.72 THEN 'quality'
        |         WHEN contam.doc_id IS NOT NULL THEN 'contaminated'
        |         WHEN nt.bucket = 3 THEN 'lm_tail'
        |         ELSE 'kept' END AS reason
        |  FROM toks t JOIN sp ON t.doc_id = sp.doc_id
        |  JOIN qual ON t.doc_id = qual.doc_id
        |  LEFT JOIN dd ON t.doc_id = dd.doc_id
        |  LEFT JOIN contam ON t.doc_id = contam.doc_id
        |  LEFT JOIN nt ON t.doc_id = nt.doc_id
        |  WHERE sp.split = 'train')
        |SELECT lang, count(*) AS n_train_docs,
        |  CAST(sum(CASE WHEN reason = 'dedup' THEN 1 ELSE 0 END) AS BIGINT) AS n_drop_dedup,
        |  CAST(sum(CASE WHEN reason = 'quality' THEN 1 ELSE 0 END) AS BIGINT) AS n_drop_quality,
        |  CAST(sum(CASE WHEN reason = 'contaminated' THEN 1 ELSE 0 END) AS BIGINT) AS n_drop_contam,
        |  CAST(sum(CASE WHEN reason = 'lm_tail' THEN 1 ELSE 0 END) AS BIGINT) AS n_drop_tail,
        |  CAST(sum(CASE WHEN reason = 'kept' THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
        |  CAST(sum(CASE WHEN reason = 'kept' THEN ntok ELSE 0 END) AS BIGINT) AS kept_tokens,
        |  CAST(sum(CASE WHEN reason = 'kept' THEN doc_id ELSE 0 END) AS BIGINT) AS kept_id_checksum
        |FROM funnel GROUP BY 1 ORDER BY 1""".stripMargin,

    // the per-lang token census + alpha-renormalization replayed
    "q101_temperature_mixture" ->
      """WITH t AS (
        |  SELECT lang, len(list_filter(string_split_regex(trim(regexp_replace(lower(text), '[^a-z ]', ' ', 'g')), '\s+'), x -> len(x) > 0)) AS ntok
        |  FROM documents),
        |pl AS (SELECT lang, count(*) AS n_docs, sum(ntok) AS n_tokens
        |       FROM t GROUP BY 1),
        |x AS (SELECT lang, n_docs, CAST(n_tokens AS BIGINT) AS n_tokens,
        |        n_tokens / CAST(sum(n_tokens) OVER () AS DOUBLE) AS p FROM pl),
        |y AS (SELECT *, pow(p, 0.3) AS wgt FROM x),
        |z AS (SELECT lang, n_docs, n_tokens, p, wgt / sum(wgt) OVER () AS a FROM y)
        |SELECT lang, n_docs, n_tokens, round(p, 4) AS raw_share,
        |  round(a, 4) AS alpha_share, round(a / p, 4) AS sampling_factor
        |FROM z ORDER BY lang""".stripMargin,

    "q68_ngram_contamination" ->
      """WITH toks AS (
        |  SELECT doc_id, list_filter(string_split_regex(trim(regexp_replace(lower(text), '[^a-z ]', ' ', 'g')), '\s+'), x -> len(x) > 0) AS t
        |  FROM documents),
        |g AS (SELECT DISTINCT doc_id, array_to_string(t[i:i+4], ' ') AS g
        |      FROM toks, LATERAL (SELECT unnest(generate_series(1, len(t)-4)) AS i) gg
        |      WHERE len(t) >= 5),
        |sp AS (SELECT doc_id,
        |         CASE WHEN substring(md5('split:' || CAST(doc_id AS VARCHAR)), 1, 1) IN ('c','d') THEN 'valid'
        |              WHEN substring(md5('split:' || CAST(doc_id AS VARCHAR)), 1, 1) IN ('e','f') THEN 'test'
        |              ELSE 'train' END AS split
        |       FROM documents),
        |gs AS (SELECT g.doc_id, sp.split, g.g FROM g JOIN sp USING(doc_id)),
        |tr AS (SELECT DISTINCT g FROM gs WHERE split = 'train'),
        |j AS (SELECT gs.split, gs.doc_id, gs.g FROM gs JOIN tr USING(g) WHERE gs.split <> 'train')
        |SELECT split, count(DISTINCT g) AS n_shared_grams,
        |  count(DISTINCT doc_id) AS n_contaminated_docs
        |FROM j GROUP BY 1 ORDER BY 1""".stripMargin,

    // winnowing recomputed relationally (same Schleimer windows over the
    // same FNV k-gram hashes, compared as SIGNED longs exactly like the
    // Scala Array[Long] min) — verified bit-identical on the full sf0.01
    // fingerprint table before wiring in
    "q31_fingerprints" ->
      s"""WITH s AS (
        |  SELECT doc_id, regexp_replace(lower(text), '[^a-z]', '', 'g') AS s FROM documents),
        |h AS (
        |  SELECT doc_id, s, len(s) AS n,
        |    CASE WHEN len(s) >= 5
        |      THEN list_transform(generate_series(1, len(s)-4), i -> ${fnvS("substring(s, i, 5)")})
        |      ELSE NULL END AS hs
        |  FROM s),
        |w AS (
        |  SELECT doc_id,
        |    list_transform(generate_series(1, len(hs)-3), i -> list_min(hs[i:i+3])) AS wins
        |  FROM h WHERE n >= 5 AND len(hs) > 4),
        |big AS (
        |  SELECT doc_id, len(list_distinct(wins)) AS n_fps, list_min(wins) AS min_fp FROM w),
        |fewh AS (
        |  SELECT doc_id, 1 AS n_fps, list_min(hs) AS min_fp FROM h WHERE n >= 5 AND len(hs) <= 4),
        |small AS (
        |  SELECT doc_id, 1 AS n_fps, ${fnvS("s")} AS min_fp FROM h WHERE n < 5)
        |SELECT doc_id, CAST(n_fps AS INT) AS n_fps, CAST(min_fp AS BIGINT) AS min_fp
        |FROM (SELECT * FROM big UNION ALL SELECT * FROM fewh UNION ALL SELECT * FROM small)
        |ORDER BY doc_id""".stripMargin,

    // simhash recomputed relationally: per-token FNV (unsigned form), the
    // 64 bit-majority votes via a LATERAL bit explode, signature
    // reassembled as sum of 2^b, then the same 4×16-bit band self-join
    // and bit_count(xor) hamming verify as the Spark side
    "q30_simhash_pairs" ->
      s"""WITH toks AS (
        |  SELECT doc_id, unnest(list_filter(string_split_regex(trim(regexp_replace(lower(text), '[^a-z ]', ' ', 'g')), '\\s+'), x -> len(x) > 0)) AS tok
        |  FROM documents),
        |th AS (
        |  SELECT doc_id, tok, ${fnvU("tok")} AS hu FROM toks),
        |bits AS (
        |  SELECT doc_id, b, sum(CASE WHEN (hu // power(2::HUGEINT, b)::HUGEINT) % 2 = 1 THEN 1 ELSE -1 END) AS v
        |  FROM th, LATERAL (SELECT unnest(generate_series(0, 63)) AS b) g
        |  GROUP BY 1, 2),
        |sig AS (
        |  SELECT doc_id,
        |    CAST(sum(CASE WHEN v > 0 THEN power(2::HUGEINT, b)::HUGEINT ELSE 0::HUGEINT END) AS HUGEINT) AS su
        |  FROM bits GROUP BY 1),
        |ss AS (SELECT doc_id, (CASE WHEN su < $Half THEN CAST(su AS BIGINT) ELSE CAST(su - $U64 AS BIGINT) END) AS sim FROM sig),
        |banded AS (
        |  SELECT doc_id, sim, b,
        |    CAST(b AS VARCHAR) || ':' || CAST(((CASE WHEN sim < 0 THEN CAST(sim AS HUGEINT) + $U64 ELSE CAST(sim AS HUGEINT) END) // power(2::HUGEINT, b*16)::HUGEINT) % 65536 AS VARCHAR) AS bucket
        |  FROM ss, LATERAL (SELECT unnest(generate_series(0, 3)) AS b) g),
        |cand AS (
        |  SELECT DISTINCT a.doc_id AS d1, b.doc_id AS d2, a.sim AS s1, b.sim AS s2
        |  FROM banded a JOIN banded b ON a.bucket = b.bucket AND a.doc_id < b.doc_id)
        |SELECT d1, d2, CAST(bit_count(xor(s1, s2)) AS INT) AS hamming
        |FROM cand WHERE bit_count(xor(s1, s2)) <= $SimhashHammingMax
        |ORDER BY 1, 2""".stripMargin,

    // q124: the q30 chain verbatim, ending in the keep decision instead
    // of the pair list — kept = documents minus the d2 side of every
    // qualifying pair
    "q124_simhash_keep" ->
      s"""WITH toks AS (
        |  SELECT doc_id, unnest(list_filter(string_split_regex(trim(regexp_replace(lower(text), '[^a-z ]', ' ', 'g')), '\\s+'), x -> len(x) > 0)) AS tok
        |  FROM documents),
        |th AS (
        |  SELECT doc_id, tok, ${fnvU("tok")} AS hu FROM toks),
        |bits AS (
        |  SELECT doc_id, b, sum(CASE WHEN (hu // power(2::HUGEINT, b)::HUGEINT) % 2 = 1 THEN 1 ELSE -1 END) AS v
        |  FROM th, LATERAL (SELECT unnest(generate_series(0, 63)) AS b) g
        |  GROUP BY 1, 2),
        |sig AS (
        |  SELECT doc_id,
        |    CAST(sum(CASE WHEN v > 0 THEN power(2::HUGEINT, b)::HUGEINT ELSE 0::HUGEINT END) AS HUGEINT) AS su
        |  FROM bits GROUP BY 1),
        |ss AS (SELECT doc_id, (CASE WHEN su < $Half THEN CAST(su AS BIGINT) ELSE CAST(su - $U64 AS BIGINT) END) AS sim FROM sig),
        |banded AS (
        |  SELECT doc_id, sim, b,
        |    CAST(b AS VARCHAR) || ':' || CAST(((CASE WHEN sim < 0 THEN CAST(sim AS HUGEINT) + $U64 ELSE CAST(sim AS HUGEINT) END) // power(2::HUGEINT, b*16)::HUGEINT) % 65536 AS VARCHAR) AS bucket
        |  FROM ss, LATERAL (SELECT unnest(generate_series(0, 3)) AS b) g),
        |drops AS (
        |  SELECT DISTINCT b.doc_id
        |  FROM banded a JOIN banded b ON a.bucket = b.bucket AND a.doc_id < b.doc_id
        |  WHERE bit_count(xor(a.sim, b.sim)) <= $SimhashHammingMax)
        |SELECT lang, CAST(count(*) AS BIGINT) AS n_kept,
        |  CAST(sum(doc_id) AS BIGINT) AS id_checksum
        |FROM documents d
        |WHERE d.doc_id NOT IN (SELECT doc_id FROM drops)
        |GROUP BY lang ORDER BY lang""".stripMargin,

    // the lang-ID heuristic restated relationally: Han-script share via
    // \p{Han} (same script class in Java and RE2), char-3-gram hits
    // against the same literal profiles, argmax with the (count desc,
    // lang asc) tie-break spelled as a CASE cascade (de<en<es<fr).
    // Caveat pinned by TextFunctionsSpec: Scala indexes UTF-16 code
    // units, DuckDB characters — identical on BMP text (the corpus is
    // ASCII; real astral input would need the UDF's definition).
    "q26_langid" ->
      ("""WITH g AS (
        |  SELECT doc_id, lang,
        |    len(regexp_extract_all(text, '\p{Han}')) AS han,
        |    len(text) AS n, lower(text) AS lt
        |  FROM documents),
        |gr AS (
        |  SELECT doc_id, lang, han, n,
        |    CASE WHEN len(lt) >= 3
        |      THEN list_transform(generate_series(1, len(lt)-2), i -> substring(lt, i, 3))
        |      ELSE [] END AS grams
        |  FROM g),
        |sc AS (
        |  SELECT doc_id, lang, han, n, len(grams) AS ngrams,
        |    len(list_filter(grams, x -> x IN (PROF_EN))) AS s_en,
        |    len(list_filter(grams, x -> x IN (PROF_ES))) AS s_es,
        |    len(list_filter(grams, x -> x IN (PROF_DE))) AS s_de,
        |    len(list_filter(grams, x -> x IN (PROF_FR))) AS s_fr
        |  FROM gr),
        |pred AS (
        |  SELECT lang,
        |    CASE WHEN han * 2 > n THEN 'zh'
        |         WHEN ngrams = 0 THEN 'und'
        |         WHEN greatest(s_en, s_es, s_de, s_fr) = 0 THEN 'und'
        |         WHEN s_de >= s_en AND s_de >= s_es AND s_de >= s_fr THEN 'de'
        |         WHEN s_en >= s_es AND s_en >= s_fr THEN 'en'
        |         WHEN s_es >= s_fr THEN 'es'
        |         ELSE 'fr' END AS predicted
        |  FROM sc)
        |SELECT lang, predicted, count(*) AS n
        |FROM pred GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin
        .replace("PROF_EN", graft.functions.TextFunctions
          .langProfileSql("en"))
        .replace("PROF_ES", graft.functions.TextFunctions
          .langProfileSql("es"))
        .replace("PROF_DE", graft.functions.TextFunctions
          .langProfileSql("de"))
        .replace("PROF_FR", graft.functions.TextFunctions
          .langProfileSql("fr"))),

    "q76_heldout_perplexity" ->
      """WITH t AS (
        |  SELECT doc_id, lang,
        |    CASE WHEN substring(md5('split:' || CAST(doc_id AS VARCHAR)), 1, 1) IN ('c','d') THEN 'valid'
        |         WHEN substring(md5('split:' || CAST(doc_id AS VARCHAR)), 1, 1) IN ('e','f') THEN 'test'
        |         ELSE 'train' END AS split,
        |    unnest(list_filter(string_split_regex(trim(regexp_replace(lower(text), '[^a-z ]', ' ', 'g')), '\s+'), x -> len(x) > 0)) AS token
        |  FROM documents),
        |freq AS (SELECT token, count(*) AS tf FROM t WHERE split = 'train' GROUP BY 1),
        |tot AS (SELECT CAST(sum(tf) AS BIGINT) AS n, count(*) AS v FROM freq),
        |scored AS (
        |  SELECT t.doc_id, t.lang,
        |    (coalesce(f.tf, 0) + 1) / CAST(tot.n + tot.v + 1 AS DOUBLE) AS p
        |  FROM t LEFT JOIN freq f ON t.token = f.token, tot
        |  WHERE t.split = 'valid'),
        |per AS (
        |  SELECT doc_id, lang, avg(-ln(p)) AS surprisal
        |  FROM scored GROUP BY 1, 2)
        |SELECT lang, count(*) AS n_docs,
        |  round(avg(surprisal), 4) AS avg_surprisal,
        |  round(max(surprisal), 4) AS max_surprisal
        |FROM per GROUP BY 1 ORDER BY 1""".stripMargin,

    // full NB replay: q61's quality label + q53 split hex + q76's add-1
    // smoothing shape, per-class counts and priors recomputed from scratch
    "q92_nb_quality_classifier" ->
      """WITH tk AS (
        |  SELECT doc_id, list_filter(string_split_regex(trim(regexp_replace(lower(text), '[^a-z ]', ' ', 'g')), '\s+'), x -> len(x) > 0) AS t
        |  FROM documents),
        |base AS (
        |  SELECT d.doc_id, tk.t,
        |    CASE WHEN substring(md5('split:' || CAST(d.doc_id AS VARCHAR)), 1, 1) IN ('c','d') THEN 'valid'
        |         WHEN substring(md5('split:' || CAST(d.doc_id AS VARCHAR)), 1, 1) IN ('e','f') THEN 'test'
        |         ELSE 'train' END AS split,
        |    CASE WHEN round(least(len(string_split_regex(trim(d.text), '\s+')) / 20.0, 1.0) * 0.4 +
        |      (1.0 - least((CASE WHEN len(regexp_replace(d.text, '\s', '', 'g')) = 0 THEN 0.0
        |        ELSE len(regexp_replace(d.text, '[A-Za-z0-9\s]', '', 'g')) / CAST(len(regexp_replace(d.text, '\s', '', 'g')) AS DOUBLE) END) * 4, 1.0)) * 0.3 +
        |      least((CASE WHEN len(tk.t) = 0 THEN 0.0
        |        ELSE len(list_filter(tk.t, x -> x IN ('the','a','an','of','and','in','to','is','on','for'))) / CAST(len(tk.t) AS DOUBLE) END) * 5, 1.0) * 0.3, 6) >= 0.8
        |      THEN 'hi' ELSE 'lo' END AS cls
        |  FROM documents d JOIN tk ON d.doc_id = tk.doc_id),
        |toks AS (SELECT doc_id, split, cls, unnest(t) AS token FROM base),
        |tf AS (
        |  SELECT token,
        |    sum(CASE WHEN cls = 'hi' THEN 1 ELSE 0 END) AS tf_hi,
        |    sum(CASE WHEN cls = 'lo' THEN 1 ELSE 0 END) AS tf_lo
        |  FROM toks WHERE split = 'train' GROUP BY 1),
        |tot AS (SELECT CAST(sum(tf_hi) AS BIGINT) AS n_hi,
        |               CAST(sum(tf_lo) AS BIGINT) AS n_lo, count(*) AS v FROM tf),
        |pri AS (SELECT sum(CASE WHEN cls = 'hi' THEN 1 ELSE 0 END) AS d_hi,
        |               sum(CASE WHEN cls = 'lo' THEN 1 ELSE 0 END) AS d_lo
        |        FROM base WHERE split = 'train'),
        |sc AS (
        |  SELECT t.doc_id, t.cls,
        |    ln((coalesce(f.tf_hi, 0) + 1) / CAST(tot.n_hi + tot.v + 1 AS DOUBLE)) -
        |    ln((coalesce(f.tf_lo, 0) + 1) / CAST(tot.n_lo + tot.v + 1 AS DOUBLE)) AS lp
        |  FROM toks t LEFT JOIN tf f ON t.token = f.token, tot
        |  WHERE t.split = 'valid'),
        |per AS (
        |  SELECT doc_id, cls,
        |    sum(lp) + (SELECT ln(CAST(d_hi AS DOUBLE) / d_lo) FROM pri) AS margin
        |  FROM sc GROUP BY 1, 2)
        |SELECT cls AS true_class,
        |  CASE WHEN margin > 0 THEN 'hi' ELSE 'lo' END AS pred_class,
        |  count(*) AS n_docs, round(avg(margin), 4) AS avg_margin
        |FROM per GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,

    // The BPE trainer replayed as a recursive CTE carrying the word-type
    // vocabulary as a list of (freq, syms) structs. Each step: every
    // adjacent symbol pair scored with its group total (duplicates don't
    // move an argmax, which sidesteps list_distinct's no-structs limit),
    // struct-sorted by (-count, left, right) = the trainer's exact
    // tie-break; the winning merge is applied greedily left-to-right via
    // a list_reduce whose prepended empty-list init lets it skip
    // occurrences overlapping a kept merge (bpeApplyMerge's i+=2), and
    // the loop stops early when no pairs remain, exactly like the
    // trainer's done flag.
    "q74_bpe_merges" -> (bpeLoopCte +
      """
        |SELECT CAST(step AS INT) AS step, l AS "left", r AS "right", cnt AS pair_count
        |FROM loop WHERE step >= 1 ORDER BY step""".stripMargin),

    // q74's merge table APPLIED: a second recursive CTE encodes each
    // distinct word by replaying the merges in step order (same greedy
    // left-to-right kept-list expression), then the per-occurrence token
    // stream joins the word-type encodings and aggregates per source.
    "q75_bpe_encode" -> (bpeLoopCte +
      """,
        |mt AS (SELECT step, l, r FROM loop WHERE step >= 1),
        |enc AS (
        |  SELECT w, list_append(list_transform(generate_series(1, len(w)), i -> w[i:i]), '</w>') AS syms, 0 AS estep
        |  FROM words
        |  UNION ALL
        |  SELECT e.w,
        |    (SELECT
        |      flatten(list_transform(generate_series(1, len(e.syms)), i ->
        |        CASE WHEN list_contains(kept, i) THEN [m.l || m.r]
        |             WHEN list_contains(kept, i - 1) THEN CAST([] AS VARCHAR[])
        |             ELSE [e.syms[i]] END))
        |     FROM (SELECT list_reduce(
        |          list_prepend(CAST([] AS BIGINT[]), list_transform(
        |            list_filter(generate_series(1, len(e.syms) - 1),
        |              i -> e.syms[i] = m.l AND e.syms[i + 1] = m.r),
        |            x -> [x])),
        |          (acc, x) -> CASE WHEN len(acc) > 0 AND acc[len(acc)] = x[1] - 1
        |                           THEN acc ELSE list_concat(acc, x) END) AS kept) k),
        |    e.estep + 1
        |  FROM enc e JOIN mt m ON m.step = e.estep + 1
        |),
        |nsyms AS (
        |  SELECT w, len(syms) AS n_syms, len(w) + 1 AS n_chars
        |  FROM enc WHERE estep = (SELECT max(step) FROM mt)),
        |occ AS (
        |  SELECT source, w
        |  FROM (SELECT source, list_filter(string_split_regex(trim(regexp_replace(lower(text), '[^a-z ]', ' ', 'g')), '\s+'), x -> len(x) > 0) AS t FROM documents) d,
        |    LATERAL (SELECT unnest(t) AS w) u)
        |SELECT occ.source,
        |  count(*) AS n_words,
        |  CAST(sum(n.n_syms) AS BIGINT) AS total_symbols,
        |  round(avg(n.n_syms), 4) AS avg_symbols_per_word,
        |  round(CAST(sum(n.n_chars) AS DOUBLE) / CAST(sum(n.n_syms) AS DOUBLE), 4) AS chars_per_symbol
        |FROM occ JOIN nsyms n ON occ.w = n.w
        |GROUP BY 1 ORDER BY 1""".stripMargin),

    "q73_sequence_packing" ->
      """WITH d AS (
        |  SELECT doc_id, doc_id % 16 AS grp,
        |    CAST(len(string_split_regex(trim(text), '\s+')) AS BIGINT) AS ntok
        |  FROM documents),
        |c AS (
        |  SELECT grp, doc_id, ntok,
        |    sum(ntok) OVER (PARTITION BY grp ORDER BY doc_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
        |  FROM d),
        |s AS (
        |  SELECT grp, doc_id, ntok, cum,
        |    ((cum - ntok) // 2048) != ((cum - 1) // 2048) AS straddle
        |  FROM c)
        |SELECT grp, count(*) AS n_docs, CAST(sum(ntok) AS BIGINT) AS n_tokens,
        |  CAST((max(cum) + 2047) // 2048 AS BIGINT) AS n_packs,
        |  CAST(sum(CASE WHEN straddle THEN 1 ELSE 0 END) AS BIGINT) AS n_split_docs,
        |  CAST(coalesce(sum(CASE WHEN straddle THEN doc_id END), 0) AS BIGINT) AS split_id_checksum
        |FROM s GROUP BY 1 ORDER BY 1""".stripMargin,

    "q69_domain_cap" ->
      """WITH toks AS (
        |  SELECT doc_id, list_filter(string_split_regex(trim(regexp_replace(lower(text), '[^a-z ]', ' ', 'g')), '\s+'), x -> len(x) > 0) AS t
        |  FROM documents),
        |q AS (
        |  SELECT d.doc_id, d.source,
        |    len(string_split_regex(trim(d.text), '\s+')) AS n_tok,
        |    CASE WHEN len(tk.t) = 0 THEN 0.0
        |      ELSE len(list_filter(tk.t, x -> x IN ('the','a','an','of','and','in','to','is','on','for'))) / CAST(len(tk.t) AS DOUBLE) END AS stop_r,
        |    CASE WHEN len(regexp_replace(d.text, '\s', '', 'g')) = 0 THEN 0.0
        |      ELSE len(regexp_replace(d.text, '[A-Za-z0-9\s]', '', 'g')) / CAST(len(regexp_replace(d.text, '\s', '', 'g')) AS DOUBLE) END AS punct_r
        |  FROM documents d JOIN toks tk USING(doc_id)),
        |f AS (
        |  SELECT doc_id, source,
        |    round(least(n_tok / 20.0, 1.0) * 0.4 +
        |      (1.0 - least(punct_r * 4, 1.0)) * 0.3 +
        |      least(stop_r * 5, 1.0) * 0.3, 6) AS qual
        |  FROM q),
        |r AS (
        |  SELECT source, doc_id, qual,
        |    row_number() OVER (PARTITION BY source ORDER BY qual DESC, doc_id) AS rk
        |  FROM f)
        |SELECT source, count(*) AS n_kept,
        |  CAST(sum(doc_id) AS BIGINT) AS id_checksum,
        |  round(min(qual), 6) AS min_quality
        |FROM r WHERE rk <= 15 GROUP BY 1 ORDER BY 1""".stripMargin,

    "q70_token_budget" ->
      """WITH toks AS (
        |  SELECT doc_id, list_filter(string_split_regex(trim(regexp_replace(lower(text), '[^a-z ]', ' ', 'g')), '\s+'), x -> len(x) > 0) AS t
        |  FROM documents),
        |q AS (
        |  SELECT d.doc_id, d.lang,
        |    len(string_split_regex(trim(d.text), '\s+')) AS n_tok,
        |    CASE WHEN len(tk.t) = 0 THEN 0.0
        |      ELSE len(list_filter(tk.t, x -> x IN ('the','a','an','of','and','in','to','is','on','for'))) / CAST(len(tk.t) AS DOUBLE) END AS stop_r,
        |    CASE WHEN len(regexp_replace(d.text, '\s', '', 'g')) = 0 THEN 0.0
        |      ELSE len(regexp_replace(d.text, '[A-Za-z0-9\s]', '', 'g')) / CAST(len(regexp_replace(d.text, '\s', '', 'g')) AS DOUBLE) END AS punct_r
        |  FROM documents d JOIN toks tk USING(doc_id)),
        |f AS (
        |  SELECT doc_id, lang, n_tok,
        |    round(least(n_tok / 20.0, 1.0) * 0.4 +
        |      (1.0 - least(punct_r * 4, 1.0)) * 0.3 +
        |      least(stop_r * 5, 1.0) * 0.3, 6) AS qual
        |  FROM q),
        |c AS (
        |  SELECT lang, doc_id, n_tok,
        |    sum(n_tok) OVER (PARTITION BY lang ORDER BY qual DESC, doc_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
        |  FROM f)
        |SELECT lang, count(*) AS n_docs,
        |  CAST(sum(n_tok) AS BIGINT) AS total_tokens,
        |  CAST(sum(doc_id) AS BIGINT) AS id_checksum
        |FROM c WHERE cum <= 2000 GROUP BY 1 ORDER BY 1""".stripMargin,

    "q94_bm25_search" ->
      """WITH toks AS (
        |  SELECT doc_id, list_filter(string_split_regex(trim(regexp_replace(lower(text), '[^a-z ]', ' ', 'g')), '\s+'), x -> len(x) > 0) AS t
        |  FROM documents),
        |dfq AS (
        |  SELECT token, count(*) AS df
        |  FROM (SELECT DISTINCT doc_id, token
        |        FROM (SELECT doc_id, unnest(t) AS token FROM toks))
        |  GROUP BY 1),
        |qt AS (SELECT token, df FROM dfq WHERE len(token) >= 5
        |       ORDER BY df DESC, token LIMIT 10),
        |lens AS (SELECT doc_id, len(t) AS dl FROM toks),
        |ad AS (SELECT avg(dl) AS avgdl FROM lens),
        |n AS (SELECT count(*) AS nd FROM documents),
        |tf AS (
        |  SELECT token, df, doc_id, count(*) AS tf
        |  FROM (SELECT doc_id, unnest(t) AS token FROM toks) o
        |  JOIN qt USING (token)
        |  GROUP BY 1, 2, 3),
        |sc AS (
        |  SELECT token, doc_id,
        |    ln((CAST(nd AS DOUBLE) - df + 0.5) / (df + 0.5) + 1.0) *
        |      ((CAST(tf AS DOUBLE) * 2.2) /
        |       (CAST(tf AS DOUBLE) + 1.2 * (0.25 + 0.75 * (CAST(dl AS DOUBLE) / avgdl)))) AS score
        |  FROM tf JOIN lens USING (doc_id), ad, n)
        |SELECT token, CAST(rk AS INT) AS rk, doc_id, round(score, 4) AS bm25
        |FROM (SELECT token, doc_id, score,
        |        row_number() OVER (PARTITION BY token ORDER BY score DESC, doc_id) AS rk
        |      FROM sc) r
        |WHERE rk <= 5 ORDER BY token, rk""".stripMargin,

    // the hashed-feature LMs and per-doc log-ratio sums replayed
    "q102_dsir_weights" ->
      """WITH toks AS (
        |  SELECT doc_id, source, list_filter(string_split_regex(trim(regexp_replace(lower(text), '[^a-z ]', ' ', 'g')), '\s+'), x -> len(x) > 0) AS t
        |  FROM documents),
        |feats AS (
        |  SELECT doc_id, source, unnest(list_concat(t,
        |    list_transform(generate_series(1, len(t)-1), i -> array_to_string(t[i:i+1], ' ')))) AS f
        |  FROM toks WHERE len(t) >= 1),
        |fb AS (SELECT doc_id, source, substring(md5(f), 1, 2) AS b FROM feats),
        |census AS (
        |  SELECT b, count(*) AS rb,
        |    sum(CASE WHEN source IN ('src0','src1') THEN 1 ELSE 0 END) AS tb
        |  FROM fb GROUP BY 1),
        |tot AS (
        |  SELECT count(*) AS rtot,
        |    sum(CASE WHEN source IN ('src0','src1') THEN 1 ELSE 0 END) AS ttot
        |  FROM fb),
        |lm AS (
        |  SELECT b, ln((tb + 1) / CAST(ttot + 256 AS DOUBLE)) -
        |    ln((rb + 1) / CAST(rtot + 256 AS DOUBLE)) AS lam
        |  FROM census, tot),
        |dw AS (
        |  SELECT doc_id, source, sum(lam) AS w
        |  FROM fb JOIN lm USING(b) GROUP BY 1, 2)
        |SELECT source, count(*) AS n_docs,
        |  CAST(sum(CASE WHEN w > 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_selected,
        |  round(avg(w), 4) AS avg_logratio,
        |  round(sum(CASE WHEN w > 0 THEN 1 ELSE 0 END) / CAST(count(*) AS DOUBLE), 4) AS sel_rate
        |FROM dw GROUP BY 1 ORDER BY 1""".stripMargin,

    // the chunk census + distinct-doc boilerplate flag + retention replayed
    "q104_boilerplate_chunks" ->
      """WITH toks AS (
        |  SELECT doc_id, lang, list_filter(string_split_regex(trim(regexp_replace(lower(text), '[^a-z ]', ' ', 'g')), '\s+'), x -> len(x) > 0) AS t
        |  FROM documents),
        |ch AS (
        |  SELECT doc_id, lang, md5(array_to_string(t[i:i+9], ' ')) AS h
        |  FROM toks, LATERAL (SELECT unnest(generate_series(1, len(t)-9, 10)) AS i) g
        |  WHERE len(t) >= 10),
        |nd AS (SELECT h, count(DISTINCT doc_id) AS ndocs FROM ch GROUP BY 1),
        |per AS (
        |  SELECT ch.doc_id, ch.lang, count(*) AS nch,
        |    sum(CASE WHEN nd.ndocs >= 3 THEN 1 ELSE 0 END) AS nbp
        |  FROM ch JOIN nd USING(h) GROUP BY 1, 2)
        |SELECT lang, count(*) AS n_docs,
        |  CAST(sum(nch) AS BIGINT) AS n_chunks,
        |  CAST(sum(nbp) AS BIGINT) AS bp_chunks,
        |  round(avg(1.0 - nbp / CAST(nch AS DOUBLE)), 4) AS avg_retention
        |FROM per GROUP BY 1 ORDER BY 1""".stripMargin,

    // the per-source shingle sets, pairwise intersections, and Jaccard
    "q106_source_overlap" ->
      """WITH toks AS (
        |  SELECT doc_id, source, list_filter(string_split_regex(trim(regexp_replace(lower(text), '[^a-z ]', ' ', 'g')), '\s+'), x -> len(x) > 0) AS t
        |  FROM documents),
        |sh AS (SELECT DISTINCT source, s FROM (
        |  SELECT source, array_to_string(t[i:i+2], ' ') AS s
        |  FROM toks, LATERAL (SELECT unnest(generate_series(1, len(t)-2)) AS i) g
        |  WHERE len(t) >= 3)),
        |sz AS (SELECT source, count(*) AS n FROM sh GROUP BY 1),
        |inter AS (
        |  SELECT a.source AS src_a, b.source AS src_b, count(*) AS inter
        |  FROM sh a JOIN sh b ON a.s = b.s AND a.source < b.source
        |  GROUP BY 1, 2),
        |srcs AS (SELECT DISTINCT source FROM documents),
        |pairs AS (
        |  SELECT sa.source AS src_a, sb.source AS src_b,
        |    coalesce(na.n, 0) AS na, coalesce(nb.n, 0) AS nb
        |  FROM srcs sa JOIN srcs sb ON sa.source < sb.source
        |  LEFT JOIN sz na ON na.source = sa.source
        |  LEFT JOIN sz nb ON nb.source = sb.source)
        |SELECT p.src_a, p.src_b, coalesce(i.inter, 0) AS inter,
        |  CASE WHEN p.na + p.nb - coalesce(i.inter, 0) > 0
        |    THEN round(coalesce(i.inter, 0) /
        |      CAST(p.na + p.nb - coalesce(i.inter, 0) AS DOUBLE), 4)
        |    ELSE 0.0 END AS jac
        |FROM pairs p LEFT JOIN inter i
        |  ON p.src_a = i.src_a AND p.src_b = i.src_b
        |ORDER BY p.src_a, p.src_b""".stripMargin,

    // the gram df census + per-doc uniqueness ratio replayed
    "q107_ngram_novelty" ->
      """WITH toks AS (
        |  SELECT doc_id, lang, list_filter(string_split_regex(trim(regexp_replace(lower(text), '[^a-z ]', ' ', 'g')), '\s+'), x -> len(x) > 0) AS t
        |  FROM documents),
        |g AS (SELECT DISTINCT doc_id, lang, array_to_string(t[i:i+4], ' ') AS g
        |      FROM toks, LATERAL (SELECT unnest(generate_series(1, len(t)-4)) AS i) gg
        |      WHERE len(t) >= 5),
        |df AS (SELECT g, count(*) AS df FROM g GROUP BY 1),
        |per AS (
        |  SELECT doc_id, lang, count(*) AS ng,
        |    sum(CASE WHEN df = 1 THEN 1 ELSE 0 END) AS uniq
        |  FROM g JOIN df USING(g) GROUP BY 1, 2)
        |SELECT lang, count(*) AS n_docs,
        |  round(avg(uniq / CAST(ng AS DOUBLE)), 4) AS avg_novelty,
        |  CAST(sum(CASE WHEN uniq / CAST(ng AS DOUBLE) < 0.5 THEN 1 ELSE 0 END) AS BIGINT) AS n_derivative
        |FROM per GROUP BY 1 ORDER BY 1""".stripMargin,

    // the per-lang census, rank window, and least-squares fit replayed
    "q108_zipf_fit" ->
      """WITH toks AS (
        |  SELECT doc_id, lang, list_filter(string_split_regex(trim(regexp_replace(lower(text), '[^a-z ]', ' ', 'g')), '\s+'), x -> len(x) > 0) AS t
        |  FROM documents),
        |tf AS (SELECT lang, unnest(t) AS token FROM toks),
        |c AS (SELECT lang, token, count(*) AS f FROM tf GROUP BY 1, 2),
        |r AS (SELECT lang, token, f,
        |        row_number() OVER (PARTITION BY lang ORDER BY f DESC, token) AS rk
        |      FROM c),
        |top AS (SELECT lang, ln(CAST(rk AS DOUBLE)) AS x, ln(CAST(f AS DOUBLE)) AS y
        |        FROM r WHERE rk <= 100),
        |m AS (SELECT lang, avg(x) AS mx, avg(y) AS my, count(*) AS n FROM top GROUP BY 1)
        |SELECT t.lang, CAST(m.n AS BIGINT) AS n_ranks,
        |  CASE WHEN sum((x - mx) * (x - mx)) > 0
        |    THEN round(-(sum((x - mx) * (y - my)) / sum((x - mx) * (x - mx))), 4)
        |    ELSE 0.0 END AS zipf_alpha,
        |  CASE WHEN sum((x - mx) * (x - mx)) > 0
        |    THEN round(my - (sum((x - mx) * (y - my)) / sum((x - mx) * (x - mx))) * mx, 4)
        |    ELSE 0.0 END AS ln_c
        |FROM top t JOIN m USING(lang)
        |GROUP BY t.lang, m.n, mx, my ORDER BY 1""".stripMargin,

    // the q25 quality formula + two-pass Pearson sums replayed
    "q109_len_quality_corr" ->
      """WITH raw AS (
        |  SELECT doc_id, source,
        |    list_filter(string_split_regex(trim(regexp_replace(lower(text), '[^a-z ]', ' ', 'g')), '\s+'), x -> len(x) > 0) AS qtoks,
        |    len(regexp_replace(text, '\s', '', 'g')) AS n_nonspace,
        |    len(regexp_replace(text, '[A-Za-z0-9\s]', '', 'g')) AS n_punct,
        |    len(string_split_regex(trim(text), '\s+')) AS n_tok
        |  FROM documents),
        |q AS (
        |  SELECT doc_id, source, CAST(n_tok AS DOUBLE) AS x,
        |    round(least(n_tok / 20.0, 1.0) * 0.4 +
        |      (1.0 - least((CASE WHEN n_nonspace = 0 THEN 0.0
        |        ELSE n_punct / CAST(n_nonspace AS DOUBLE) END) * 4, 1.0)) * 0.3 +
        |      least((CASE WHEN len(qtoks) = 0 THEN 0.0
        |        ELSE len(list_filter(qtoks, t -> t IN ('the','a','an','of','and','in','to','is','on','for'))) / CAST(len(qtoks) AS DOUBLE) END) * 5, 1.0) * 0.3, 6) AS y
        |  FROM raw),
        |m AS (SELECT source, avg(x) AS mx, avg(y) AS my, count(*) AS n FROM q GROUP BY 1)
        |SELECT q.source, CAST(m.n AS BIGINT) AS n_docs,
        |  CASE WHEN sum((x - mx) * (x - mx)) * sum((y - my) * (y - my)) > 0
        |    THEN round(sum((x - mx) * (y - my)) /
        |      sqrt(sum((x - mx) * (x - mx)) * sum((y - my) * (y - my))), 4)
        |    ELSE 0.0 END AS len_quality_r
        |FROM q JOIN m USING(source)
        |GROUP BY q.source, m.n, mx, my ORDER BY 1""".stripMargin,

    // the corpus-LM per-doc surprisal + quality formula + Pearson replayed
    "q110_surprisal_quality_corr" ->
      """WITH toks AS (
        |  SELECT doc_id, lang, list_filter(string_split_regex(trim(regexp_replace(lower(text), '[^a-z ]', ' ', 'g')), '\s+'), x -> len(x) > 0) AS t
        |  FROM documents),
        |bg AS (
        |  SELECT doc_id, lang, array_to_string(t[i:i+1], ' ') AS bg
        |  FROM toks, LATERAL (SELECT unnest(generate_series(1, len(t)-1)) AS i) g
        |  WHERE len(t) >= 2),
        |f2 AS (SELECT bg, count(*) AS c2 FROM bg GROUP BY 1),
        |f1 AS (SELECT split_part(bg, ' ', 1) AS w1, count(*) AS c1 FROM bg GROUP BY 1),
        |p AS (SELECT f2.bg, f2.c2 / CAST(f1.c1 AS DOUBLE) AS p
        |      FROM f2 JOIN f1 ON split_part(f2.bg, ' ', 1) = f1.w1),
        |sur AS (
        |  SELECT b.doc_id, b.lang, avg(-ln(p.p)) AS x
        |  FROM bg b JOIN p ON b.bg = p.bg GROUP BY 1, 2),
        |raw AS (
        |  SELECT doc_id,
        |    list_filter(string_split_regex(trim(regexp_replace(lower(text), '[^a-z ]', ' ', 'g')), '\s+'), x -> len(x) > 0) AS qtoks,
        |    len(regexp_replace(text, '\s', '', 'g')) AS n_nonspace,
        |    len(regexp_replace(text, '[A-Za-z0-9\s]', '', 'g')) AS n_punct,
        |    len(string_split_regex(trim(text), '\s+')) AS n_tok
        |  FROM documents),
        |qual AS (
        |  SELECT doc_id,
        |    round(least(n_tok / 20.0, 1.0) * 0.4 +
        |      (1.0 - least((CASE WHEN n_nonspace = 0 THEN 0.0
        |        ELSE n_punct / CAST(n_nonspace AS DOUBLE) END) * 4, 1.0)) * 0.3 +
        |      least((CASE WHEN len(qtoks) = 0 THEN 0.0
        |        ELSE len(list_filter(qtoks, t -> t IN ('the','a','an','of','and','in','to','is','on','for'))) / CAST(len(qtoks) AS DOUBLE) END) * 5, 1.0) * 0.3, 6) AS y
        |  FROM raw),
        |q AS (SELECT sur.doc_id, sur.lang, sur.x, qual.y
        |      FROM sur JOIN qual ON sur.doc_id = qual.doc_id),
        |m AS (SELECT lang, avg(x) AS mx, avg(y) AS my, count(*) AS n FROM q GROUP BY 1)
        |SELECT q.lang, CAST(m.n AS BIGINT) AS n_docs,
        |  CASE WHEN sum((x - mx) * (x - mx)) * sum((y - my) * (y - my)) > 0
        |    THEN round(sum((x - mx) * (y - my)) /
        |      sqrt(sum((x - mx) * (x - mx)) * sum((y - my) * (y - my))), 4)
        |    ELSE 0.0 END AS surprisal_quality_r
        |FROM q JOIN m USING(lang)
        |GROUP BY q.lang, m.n, mx, my ORDER BY 1""".stripMargin,

    // the stride-1 window census, >= 2-doc dup flag, gaps-and-islands
    // longest run, and per-lang span report replayed
    "q117_dup_spans" ->
      """WITH toks AS (
        |  SELECT doc_id, lang, list_filter(string_split_regex(trim(regexp_replace(lower(text), '[^a-z ]', ' ', 'g')), '\s+'), x -> len(x) > 0) AS t
        |  FROM documents),
        |w AS (
        |  SELECT doc_id, lang, i, md5(array_to_string(t[i:i+9], ' ')) AS h
        |  FROM toks, LATERAL (SELECT unnest(generate_series(1, len(t)-9)) AS i) g
        |  WHERE len(t) >= 10),
        |nd AS (SELECT h, count(DISTINCT doc_id) AS ndocs FROM w GROUP BY 1),
        |dup AS (
        |  SELECT w.doc_id, w.lang, w.i
        |  FROM w JOIN nd USING(h) WHERE nd.ndocs >= 2),
        |runs AS (
        |  SELECT doc_id, grp, count(*) AS run FROM (
        |    SELECT doc_id,
        |      i - row_number() OVER (PARTITION BY doc_id ORDER BY i) AS grp
        |    FROM dup)
        |  GROUP BY 1, 2),
        |per AS (SELECT doc_id, max(run) AS maxrun FROM runs GROUP BY 1),
        |aud AS (SELECT doc_id, lang FROM toks WHERE len(t) >= 10),
        |spans AS (
        |  SELECT a.doc_id, a.lang,
        |    CASE WHEN p.maxrun IS NULL THEN 0 ELSE p.maxrun + 9 END AS span
        |  FROM aud a LEFT JOIN per p ON a.doc_id = p.doc_id)
        |SELECT lang, count(*) AS n_docs,
        |  CAST(sum(CASE WHEN span >= 20 THEN 1 ELSE 0 END) AS BIGINT) AS n_flagged,
        |  round(avg(span), 4) AS avg_span,
        |  CAST(max(span) AS BIGINT) AS max_span
        |FROM spans GROUP BY 1 ORDER BY 1""".stripMargin,

    // the Bloom build + probe replayed bit-for-bit: q68's gram/split
    // CTEs, m from the same count, positions via the strpos hex
    // polynomial (hex8 — the q65 idiom widened to 32 bits), lanes and
    // probes with the identical 32-bit shift arithmetic
    "q120_bloom_decontaminate" ->
      s"""WITH toks AS (
        |  SELECT doc_id, list_filter(string_split_regex(trim(regexp_replace(lower(text), '[^a-z ]', ' ', 'g')), '\\s+'), x -> len(x) > 0) AS t
        |  FROM documents),
        |g AS (SELECT DISTINCT doc_id, array_to_string(t[i:i+4], ' ') AS g
        |      FROM toks, LATERAL (SELECT unnest(generate_series(1, len(t)-4)) AS i) gg
        |      WHERE len(t) >= 5),
        |sp AS (SELECT doc_id,
        |         CASE WHEN substring(md5('split:' || CAST(doc_id AS VARCHAR)), 1, 1) IN ('c','d') THEN 'valid'
        |              WHEN substring(md5('split:' || CAST(doc_id AS VARCHAR)), 1, 1) IN ('e','f') THEN 'test'
        |              ELSE 'train' END AS split
        |       FROM documents),
        |gs AS (SELECT g.doc_id, sp.split, g.g FROM g JOIN sp USING(doc_id)),
        |bench AS (SELECT DISTINCT g FROM gs WHERE split <> 'train'),
        |mm AS (SELECT CAST(1 AS BIGINT) << CAST(ceil(log2(16.0 * count(*))) AS INT) AS m
        |       FROM bench),
        |pos AS (
        |  SELECT b.g, ${hex8("substring(md5('bloom:' || b.g), 8 * i.i + 1, 8)")} % mm.m AS p
        |  FROM bench b, generate_series(0, 3) i(i), mm),
        |words AS (
        |  SELECT p // 32 AS w, bit_or(CAST(1 AS BIGINT) << CAST(p % 32 AS INT)) AS bits
        |  FROM pos GROUP BY 1),
        |probe AS (
        |  SELECT gs.doc_id, gs.g, ${hex8("substring(md5('bloom:' || gs.g), 8 * i.i + 1, 8)")} % mm.m AS p
        |  FROM gs, generate_series(0, 3) i(i), mm
        |  WHERE gs.split = 'train'),
        |hits AS (
        |  SELECT pr.doc_id, pr.g,
        |    min(CASE WHEN (COALESCE(w.bits, 0) & (CAST(1 AS BIGINT) << CAST(pr.p % 32 AS INT))) <> 0 THEN 1 ELSE 0 END) AS hit
        |  FROM probe pr LEFT JOIN words w ON w.w = pr.p // 32
        |  GROUP BY 1, 2),
        |ex AS (SELECT gs.doc_id, gs.g, 1 AS ex FROM gs JOIN bench USING(g)
        |       WHERE gs.split = 'train')
        |SELECT h.doc_id, count(*) AS n_grams,
        |  CAST(sum(h.hit) AS BIGINT) AS n_bloom_hits,
        |  CAST(sum(COALESCE(e.ex, 0)) AS BIGINT) AS n_exact_hits,
        |  CAST(sum(h.hit) - sum(COALESCE(e.ex, 0)) AS BIGINT) AS n_false_pos,
        |  (sum(h.hit) > 0) AS contaminated
        |FROM hits h LEFT JOIN ex e ON e.doc_id = h.doc_id AND e.g = h.g
        |GROUP BY 1 ORDER BY 1""".stripMargin,

    // the q120 replay minus the exact-audit join — build, positions,
    // lanes, and probes are the identical CTEs
    "q123_bloom_probe" ->
      s"""WITH toks AS (
        |  SELECT doc_id, list_filter(string_split_regex(trim(regexp_replace(lower(text), '[^a-z ]', ' ', 'g')), '\\s+'), x -> len(x) > 0) AS t
        |  FROM documents),
        |g AS (SELECT DISTINCT doc_id, array_to_string(t[i:i+4], ' ') AS g
        |      FROM toks, LATERAL (SELECT unnest(generate_series(1, len(t)-4)) AS i) gg
        |      WHERE len(t) >= 5),
        |sp AS (SELECT doc_id,
        |         CASE WHEN substring(md5('split:' || CAST(doc_id AS VARCHAR)), 1, 1) IN ('c','d') THEN 'valid'
        |              WHEN substring(md5('split:' || CAST(doc_id AS VARCHAR)), 1, 1) IN ('e','f') THEN 'test'
        |              ELSE 'train' END AS split
        |       FROM documents),
        |gs AS (SELECT g.doc_id, sp.split, g.g FROM g JOIN sp USING(doc_id)),
        |bench AS (SELECT DISTINCT g FROM gs WHERE split <> 'train'),
        |mm AS (SELECT CAST(1 AS BIGINT) << CAST(ceil(log2(16.0 * count(*))) AS INT) AS m
        |       FROM bench),
        |pos AS (
        |  SELECT b.g, ${hex8("substring(md5('bloom:' || b.g), 8 * i.i + 1, 8)")} % mm.m AS p
        |  FROM bench b, generate_series(0, 3) i(i), mm),
        |words AS (
        |  SELECT p // 32 AS w, bit_or(CAST(1 AS BIGINT) << CAST(p % 32 AS INT)) AS bits
        |  FROM pos GROUP BY 1),
        |probe AS (
        |  SELECT gs.doc_id, gs.g, ${hex8("substring(md5('bloom:' || gs.g), 8 * i.i + 1, 8)")} % mm.m AS p
        |  FROM gs, generate_series(0, 3) i(i), mm
        |  WHERE gs.split = 'train'),
        |hits AS (
        |  SELECT pr.doc_id, pr.g,
        |    min(CASE WHEN (COALESCE(w.bits, 0) & (CAST(1 AS BIGINT) << CAST(pr.p % 32 AS INT))) <> 0 THEN 1 ELSE 0 END) AS hit
        |  FROM probe pr LEFT JOIN words w ON w.w = pr.p // 32
        |  GROUP BY 1, 2)
        |SELECT doc_id, count(*) AS n_grams,
        |  CAST(sum(hit) AS BIGINT) AS n_bloom_hits,
        |  (sum(hit) > 0) AS contaminated
        |FROM hits GROUP BY 1 ORDER BY 1""".stripMargin,

    // hash → shard → per-(epoch, shard) rank → order checksum replayed;
    // all-integer outputs, engine-exact
    "q121_epoch_shuffle_manifest" ->
      s"""WITH d AS (
        |  SELECT doc_id,
        |    CAST(len(string_split_regex(trim(text), '\\s+')) AS BIGINT) AS ntok
        |  FROM documents),
        |k AS (
        |  SELECT d.doc_id, d.ntok, CAST(i.i AS INT) AS epoch,
        |    md5('shuffle:' || CAST(i.i AS VARCHAR) || ':' || CAST(d.doc_id AS VARCHAR)) AS h
        |  FROM d, generate_series(0, 2) i(i)),
        |sh AS (
        |  SELECT doc_id, ntok, epoch, h,
        |    ${hexPoly("substring(h, 1, 4)", 4)} % 8 AS shard
        |  FROM k),
        |p AS (
        |  SELECT epoch, shard, doc_id, ntok,
        |    row_number() OVER (PARTITION BY epoch, shard ORDER BY h, doc_id) AS pos
        |  FROM sh)
        |SELECT epoch, shard, count(*) AS n_docs,
        |  CAST(sum(ntok) AS BIGINT) AS n_tokens,
        |  min_by(doc_id, pos) AS first_doc,
        |  max_by(doc_id, pos) AS last_doc,
        |  CAST(sum(pos * (doc_id % 997)) AS BIGINT) AS order_checksum
        |FROM p GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,

    // all five Gopher rules replayed on the raw word arrays; the
    // repetition census as the same (doc, bigram) group + per-doc max
    "q122_gopher_rules" ->
      """WITH d AS (
        |  SELECT doc_id, lang, len(trim(text)) AS n_chars,
        |    string_split_regex(trim(text), '\s+') AS w
        |  FROM documents),
        |b AS (
        |  SELECT doc_id, lang, n_chars, w, len(w) AS n_words,
        |    CAST(list_aggregate(list_transform(w, x -> len(x)), 'sum') AS BIGINT) AS sum_len,
        |    len(list_filter(w, x -> regexp_matches(x, '[a-zA-Z]'))) AS n_alpha,
        |    len(list_filter(['the','be','to','of','and','that','have','with'],
        |      s -> list_contains(list_transform(w, x -> lower(x)), s))) AS n_stop
        |  FROM d),
        |g AS (
        |  SELECT doc_id, t.g FROM b,
        |    LATERAL (SELECT unnest(list_transform(generate_series(1, len(w)-1),
        |      i -> w[i] || ' ' || w[i+1])) AS g) t
        |  WHERE len(w) >= 2),
        |rep AS (
        |  SELECT doc_id, MAX(c * glen) AS rep_mass FROM (
        |    SELECT doc_id, g, count(*) AS c, len(g) AS glen FROM g GROUP BY 1, 2)
        |  GROUP BY 1),
        |r AS (
        |  SELECT b.lang, b.doc_id,
        |    (n_words >= 50 AND n_words <= 100000) AS r_wc,
        |    (CAST(sum_len AS DOUBLE)/n_words >= 3.0
        |     AND CAST(sum_len AS DOUBLE)/n_words <= 10.0) AS r_wlen,
        |    (CAST(n_alpha AS DOUBLE)/n_words >= 0.8) AS r_alpha,
        |    (n_stop >= 1) AS r_stop,
        |    (CAST(COALESCE(rep.rep_mass, 0) AS DOUBLE)/n_chars <= 0.2) AS r_rep
        |  FROM b LEFT JOIN rep USING(doc_id)),
        |k AS (
        |  SELECT lang, doc_id, r_wc, r_wlen, r_alpha, r_stop, r_rep,
        |    (r_wc AND r_wlen AND r_alpha AND r_stop AND r_rep) AS keep
        |  FROM r)
        |SELECT lang, count(*) AS n_docs,
        |  CAST(sum(CASE WHEN NOT r_wc THEN 1 ELSE 0 END) AS BIGINT) AS fail_word_count,
        |  CAST(sum(CASE WHEN NOT r_wlen THEN 1 ELSE 0 END) AS BIGINT) AS fail_word_len,
        |  CAST(sum(CASE WHEN NOT r_alpha THEN 1 ELSE 0 END) AS BIGINT) AS fail_alpha,
        |  CAST(sum(CASE WHEN NOT r_stop THEN 1 ELSE 0 END) AS BIGINT) AS fail_stopwords,
        |  CAST(sum(CASE WHEN NOT r_rep THEN 1 ELSE 0 END) AS BIGINT) AS fail_repetition,
        |  CAST(sum(CASE WHEN keep THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
        |  CAST(COALESCE(sum(CASE WHEN keep THEN doc_id END), 0) AS BIGINT) AS kept_id_checksum
        |FROM k GROUP BY 1 ORDER BY 1""".stripMargin
  )
}
