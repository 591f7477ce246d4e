package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.operators.{IndexMaintenance, VectorQueries}

/** Incremental IVF index maintenance: stream-append a segment and the
  * index refreshes for O(delta) with frozen centroids (recall
  * preserved), while a genuinely drifted append trips the drift
  * detector and warm-start retrains — the dynamic half of the
  * persisted-artifact story the corpus-fingerprinted store models
  * statically.
  */
class IndexMaintenanceSpec extends AnyFunSuite with TempDirs {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  private val dir = "/root/testdata/sf0.001"

  // base = 80% of the corpus (queries vec_id < 20 included); delta = the
  // held-out 20%, arriving later as an appended segment
  private def split() = {
    val e = Tables.embeddings(spark, dir)
    (e.filter(col("vec_id") < 20 || col("vec_id") % 5 =!= 3),
      e.filter(col("vec_id") >= 20 && col("vec_id") % 5 === 3)
        .select(col("vec_id"), col("embedding")))
  }

  test("cell stats are exact sufficient statistics and merge additively") {
    val (base, _) = split()
    val idx = IndexMaintenance.buildIvf(base)
    val stats = idx.stats.collect()
    assert(stats.map(_.getAs[Long]("n")).sum == base.count(),
      "stats counts don't cover the corpus")
    // splitting the inverted file in two and merging the halves' stats
    // must reproduce the whole-file stats (up to fp reassociation)
    val h1 = IndexMaintenance.cellStats(idx.assigned.filter(col("vec_id") % 2 === 0))
    val h2 = IndexMaintenance.cellStats(idx.assigned.filter(col("vec_id") % 2 === 1))
    val merged = IndexMaintenance.mergeStats(h1, h2).collect()
      .map(r => r.getAs[Int]("cell") ->
        (r.getAs[Long]("n"), r.getSeq[Double](r.fieldIndex("sumvec")))).toMap
    stats.foreach { r =>
      val (n, sv) = merged(r.getAs[Int]("cell"))
      assert(n == r.getAs[Long]("n"))
      r.getSeq[Double](r.fieldIndex("sumvec")).zip(sv).foreach { case (a, b) =>
        assert(math.abs(a - b) < 1e-9, s"sum drifted: $a vs $b")
      }
    }
    // the built index's residual drift (Lloyd never converges) is the
    // baseline the refresh judges against — small, and carried on the
    // index. The bound moved 0.2 → 0.25 with the r15 sample-bounded
    // trainer (16 training vectors per cell at this 404-vector corpus):
    // a slightly larger residual is the declared price of the bounded
    // build law, and the detector judges appends RELATIVE to this
    // carried baseline, so its sensitivity is unchanged (measured
    // 0.2014 here, vs ~0.19 under full-corpus training).
    assert(idx.baselineDrift == IndexMaintenance.maxDrift(idx.stats, idx.centroids))
    assert(idx.baselineDrift < 0.25, s"baseline residual too large: ${idx.baselineDrift}")
  }

  test("in-distribution append refreshes incrementally and preserves recall") {
    val (base, delta) = split()
    val idx = IndexMaintenance.buildIvf(base)
    val (idx2, report) = IndexMaintenance.refreshIvf(idx, delta)
    assert(report.mode == "incremental",
      s"in-distribution delta should not retrain: $report")
    assert(report.newVectors == delta.count())
    assert(report.maxDrift - report.baselineDrift <= report.driftThreshold)
    val e = Tables.embeddings(spark, dir)
    assert(idx2.assigned.count() == e.count(), "inverted file lost rows")
    assert(idx2.stats.collect().map(_.getAs[Long]("n")).sum == e.count(),
      "refreshed stats don't cover the corpus — the NEXT refresh would misjudge drift")

    // recall over the FULL corpus: the refreshed index must match what a
    // from-scratch rebuild on base+delta achieves, and clear the same
    // floor the q46 family pins
    def pairs(df: org.apache.spark.sql.DataFrame): Set[(Long, Long)] =
      df.select("q_id", "neighbor_id").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
    val brute = pairs(VectorQueries.defs("q33_ann_bruteforce")(spark, dir))
    val refreshed = pairs(VectorQueries.ivfSearch(
      idx2.assigned, idx2.centroids, e, nprobe = 3, k = 5))
    val rebuilt = pairs {
      val full = IndexMaintenance.buildIvf(e)
      VectorQueries.ivfSearch(full.assigned, full.centroids, e, nprobe = 3, k = 5)
    }
    val recallRefreshed = (refreshed & brute).size.toDouble / brute.size
    val recallRebuilt = (rebuilt & brute).size.toDouble / brute.size
    // absolute floor = the q63 bound on this weakly-clustered synthetic
    // corpus (q46's own pin is 0.35); the RELATIVE bound below is the
    // real claim — refresh must not lose recall vs a full rebuild
    assert(recallRefreshed >= 0.45, s"refreshed recall $recallRefreshed")
    assert(recallRefreshed >= recallRebuilt - 0.05,
      s"refresh lost recall vs rebuild: $recallRefreshed vs $recallRebuilt")
  }

  test("streaming admission feeds incremental refresh — the composed index-freshness path") {
    // the 100 TB loop: EmbeddingAdmission dedups the arriving stream,
    // and ONLY the admitted vectors enter the index via refreshIvf —
    // dup clones never reach the inverted file, and the index stays
    // queryable without a rebuild
    import graft.streaming.EmbeddingAdmission
    val store = tmp("fresh_store")
    val kept = tmp("fresh_kept")
    val e = Tables.embeddings(spark, dir)
    val (baseAll, deltaAll) = split()

    // epoch 0: bootstrap — admit the base corpus into the store
    EmbeddingAdmission.admit(
      baseAll.select(col("vec_id"), col("embedding")), 0L, store, kept)
    val kept0 = spark.read.parquet(s"$kept/epoch=0")
    // epoch 1: the stream brings fresh vectors PLUS exact clones of
    // admitted base vectors under new ids — the gate must drop them
    val clones = kept0.limit(3)
      .select((col("vec_id") + 2000000L).as("vec_id"), col("embedding"))
    EmbeddingAdmission.admit(
      deltaAll.unionByName(clones), 1L, store, kept, threshold = 0.999)
    val kept1 = spark.read.parquet(s"$kept/epoch=1")
    assert(kept1.filter(col("vec_id") >= 2000000L).count() == 0,
      "a clone survived the admission gate")
    assert(kept1.count() > 0, "admission dropped the whole delta")

    // the index lives on the ADMITTED corpus: build on epoch 0, refresh
    // with epoch 1 — labels rejoined from the source table
    val lbl = e.select(col("vec_id"), col("label"))
    val idx = IndexMaintenance.buildIvf(kept0.join(lbl, "vec_id"))
    val (idx2, report) = IndexMaintenance.refreshIvf(idx, kept1)
    assert(report.mode == "incremental", report.toString)
    assert(idx2.assigned.count() == kept0.count() + kept1.count())
    assert(idx2.assigned.filter(col("vec_id") >= 2000000L).count() == 0,
      "a clone leaked into the inverted file")
    // the refreshed index answers queries over the admitted corpus at
    // rebuild-grade recall
    val admitted = kept0.unionByName(kept1).join(lbl, "vec_id")
    def pairs(df: org.apache.spark.sql.DataFrame): Set[(Long, Long)] =
      df.select("q_id", "neighbor_id").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
    val refreshed = pairs(VectorQueries.ivfSearch(
      idx2.assigned, idx2.centroids, admitted, nprobe = 3, k = 5))
    val rebuilt = pairs {
      val full = IndexMaintenance.buildIvf(admitted)
      VectorQueries.ivfSearch(full.assigned, full.centroids, admitted,
        nprobe = 3, k = 5)
    }
    assert(refreshed.nonEmpty)
    // judge BOTH against exact search over the admitted corpus (probing
    // every cell = exact regardless of centroid geometry): the refreshed
    // and rebuilt indexes have DIFFERENT Lloyd geometries, so their
    // answer sets legitimately diverge — what must hold is that the
    // refreshed index reaches rebuild-grade recall vs ground truth
    val brute = pairs(VectorQueries.ivfSearch(
      idx2.assigned, idx2.centroids, admitted, nprobe = 10, k = 5))
    val recallRefreshed = (refreshed & brute).size.toDouble / brute.size
    val recallRebuilt = (rebuilt & brute).size.toDouble / brute.size
    assert(recallRefreshed >= 0.45, s"refreshed recall $recallRefreshed")
    assert(recallRefreshed >= recallRebuilt - 0.1,
      s"refresh lost recall vs rebuild: $recallRefreshed vs $recallRebuilt")
  }

  test("PQ code refresh: delta encodes against the frozen codebook; distortion flags misfit") {
    val e = Tables.embeddings(spark, dir)
    val base = e.filter(col("vec_id") % 5 =!= 3)
    val delta = e.filter(col("vec_id") % 5 === 3)
      .select(col("vec_id"), col("embedding"))
    val baseSv = VectorQueries.pqSubvecs(VectorQueries.pqNormalize(base))
      .localCheckpoint() // the spec recomputes distortion from it below
    val idx = IndexMaintenance.buildPq(baseSv)
    val (cb, codes) = (idx.codebook, idx.codes)
    // the persisted build-time distortion IS the from-scratch recompute —
    // the refresh path may trust the stored constant forever after
    assert(idx.baseDistortion == IndexMaintenance.pqDistortion(baseSv, cb),
      "persisted base distortion drifted from a from-scratch recompute")
    val deltaSv = VectorQueries.pqSubvecs(VectorQueries.pqNormalize(delta))
    val (idx2, dDelta) = IndexMaintenance.refreshPqCodes(idx, deltaSv)
    val (all, dBase) = (idx2.codes, idx2.baseDistortion)
    assert(dBase == idx.baseDistortion, "refresh recomputed the base constant")
    // every delta vector got its 8 codes; base codes untouched
    assert(all.count() == codes.count() + deltaSv.count())
    assert(all.join(codes, Seq("vec_id", "sub", "code"), "left_semi").count()
      == codes.count(), "refresh rewrote existing codes")
    // in-distribution delta quantizes about as well as the base corpus
    assert(dDelta > 0 && dBase > 0)
    assert(dDelta < dBase * 1.3,
      s"in-distribution delta misfit: $dDelta vs base $dBase")
    // a genuinely alien delta — all mass concentrated in ONE subspace
    // (unit-norm subvector where the trained centroids carry ~1/√8 of
    // the norm each) — shows clearly worse distortion: the retrain
    // signal. (A collapsed-direction delta is NOT alien to PQ: identical
    // vectors quantize trivially, measured same-as-base distortion.)
    val alien = delta.select(col("vec_id"),
      expr("""transform(sequence(0, 63), j -> cast(
               CASE WHEN j < 8 THEN
                 CASE WHEN pmod(vec_id + j, 2) = 0 THEN 1.0 ELSE -1.0 END
               ELSE 0.0 END AS float))""").as("embedding"))
    val alienSv = VectorQueries.pqSubvecs(VectorQueries.pqNormalize(alien))
    val dAlien = IndexMaintenance.pqDistortion(alienSv, cb)
    // measured 1.58x on this corpus (deterministic md5-seeded codebook,
    // so the margin is stable run-to-run)
    assert(dAlien > dBase * 1.5,
      s"alien delta not flagged: $dAlien vs base $dBase")
  }

  test("SRP refresh: row-local under the frozen width; width boundary signals rebuild") {
    val (base, delta) = split()
    val baseE = base.select(col("vec_id"), col("embedding"))
    val idx0 = IndexMaintenance.buildSrp(baseE)
    // in-range append: refreshed bands == a from-scratch rebuild over
    // base ⊎ delta, bit-for-bit (the widths agree at these sizes, so
    // rebuild and frozen-width refresh must hash identically)
    val (idx1, rep1) = IndexMaintenance.refreshSrp(idx0, delta)
    assert(rep1.mode == "incremental", rep1.toString)
    val rebuilt = IndexMaintenance.buildSrp(baseE.unionByName(delta))
    assert(rebuilt.bits == idx0.bits, "test premise: widths must agree")
    def bandSet(df: org.apache.spark.sql.DataFrame): Set[(Long, Int, Long)] =
      df.select(col("vec_id"), col("t"), col("b")).collect()
        .map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSet
    assert(bandSet(idx1.bands) == bandSet(rebuilt.bands),
      "frozen-width refresh diverged from rebuild")
    // base rows reused verbatim — the delta is the only newly hashed set
    assert(idx1.bands.join(idx0.bands.select(col("vec_id")).distinct(), "vec_id")
      .count() == idx0.bands.count())

    // width-boundary append: a delta that grows the corpus past the next
    // power of two sizes a WIDER bucket space — the refresh still hashes
    // the delta under the FROZEN width (candidates stay correct; mixing
    // widths would split the bucket space) and reports "rebuild"
    val bigDelta = Tables.embeddings(spark, dir)
      .select((col("vec_id") + 100000L).as("vec_id"), col("embedding"))
      .unionByName(Tables.embeddings(spark, dir)
        .select((col("vec_id") + 200000L).as("vec_id"), col("embedding")))
    val (idx2, rep2) = IndexMaintenance.refreshSrp(idx1, bigDelta)
    assert(rep2.mode == "rebuild" && rep2.widthNow > rep2.frozenWidth,
      rep2.toString)
    assert(idx2.bits == idx0.bits, "refresh silently changed the frozen width")
    val expectedDelta = bandSet(
      graft.operators.VectorQueries.srpBandRows(bigDelta, idx0.bits))
    assert(bandSet(idx2.bands.filter(col("vec_id") >= 100000L)) == expectedDelta,
      "delta was not hashed under the frozen width")
  }

  test("a drifted append trips the detector and warm-start retrains") {
    val (base, delta) = split()
    val idx = IndexMaintenance.buildIvf(base)
    // the drifted segment: every vector collapsed toward one new
    // direction the corpus never had (scaled down + constant offset) —
    // whatever cell catches it has its mean dragged off the frozen
    // centroid. Kept SMALL enough (40 of ~444) that the grown corpus
    // still sizes the frozen nlist: this test pins the pure WARM-START
    // retrain; the resized path has its own test below.
    val drifted = delta.orderBy("vec_id").limit(40)
      .select((col("vec_id") + 1000000L).as("vec_id"),
        expr("transform(embedding, x -> cast(x * 0.1 + 0.5 as float))").as("embedding"))
    val (idx3, report) = IndexMaintenance.refreshIvf(idx, drifted)
    assert(report.mode == "retrain", s"drift not detected: $report")
    assert(report.nlistNow == report.nlist,
      s"test premise broken — sizing boundary crossed: $report")
    assert(report.maxDrift - report.baselineDrift > report.driftThreshold)
    assert(idx3.assigned.count() == base.count() + drifted.count())
    // the retrained centroids moved: at least one frozen centroid has no
    // bit-identical twin in the new table
    val before = idx.centroids.collect().map((r => r.getSeq[Float](r.fieldIndex("centroid")))).toSet
    val after = idx3.centroids.collect().map((r => r.getSeq[Float](r.fieldIndex("centroid")))).toSet
    assert(before != after, "retrain returned the frozen centroids unchanged")
    // and the refreshed stats stay exact for the next round
    assert(idx3.stats.collect().map(_.getAs[Long]("n")).sum ==
      base.count() + drifted.count())
  }

  test("semantic-dedup refresh equals rebuild bit-for-bit under frozen centroids") {
    val (base, delta) = split()
    val idxB = IndexMaintenance.buildIvf(base)
    val (idx2, rep) = IndexMaintenance.refreshIvf(idxB, delta)
    assert(rep.mode == "incremental")
    val st0 = IndexMaintenance.buildSemDedup(idxB)
    val (refreshed, semRep) = IndexMaintenance.refreshSemDedup(st0, idx2, delta)
    assert(semRep.mode == "incremental",
      s"frozen centroids misread as a retrain: $semRep")
    val rebuilt = IndexMaintenance.buildSemDedup(idx2)
    def ids(df: org.apache.spark.sql.DataFrame): Set[Long] =
      df.select("vec_id").collect().map(_.getLong(0)).toSet
    assert(ids(rebuilt.dropped).nonEmpty,
      "no duplicates on the grown roster — the equality below proves nothing")
    assert(ids(refreshed.dropped) == ids(rebuilt.dropped),
      s"drop sets diverged: extra=${ids(refreshed.dropped) -- ids(rebuilt.dropped)} " +
        s"missing=${ids(rebuilt.dropped) -- ids(refreshed.dropped)}")
    def roster(df: org.apache.spark.sql.DataFrame) =
      df.select("vec_id", "cell", "csim").collect()
        .map(r => (r.getLong(0), r.getInt(1), r.getDouble(2))).toSet
    assert(roster(refreshed.members) == roster(rebuilt.members),
      "member rosters diverged — delta assignment or csim drifted from the builder's")
  }

  test("semantic-dedup append can oust a MORE prototypical base twin") {
    import spark.implicits._
    // two clean 2-vector-wide clusters; within-cluster cosines top out at
    // 0.707, so tau=0.95 finds nothing at build time
    val base = Seq(
      (0L, Array(1f, 0f, 0f, 0f), 0),
      (1L, Array(0.707f, 0.707f, 0f, 0f), 0),
      (2L, Array(0f, 1f, 0f, 0f), 0),
      (3L, Array(0f, 0f, 1f, 0f), 1),
      (4L, Array(0f, 0f, 0.707f, 0.707f), 1),
      (5L, Array(0f, 0f, 0f, 1f), 1)
    ).toDF("vec_id", "embedding", "label")
    val idx = IndexMaintenance.buildIvf(base)
    val st = IndexMaintenance.buildSemDedup(idx, tau = 0.95)
    assert(st.dropped.count() == 0, "planted base should hold no dups at 0.95")
    // the appended vector is a near-copy of vec 1 (cos ≈ 0.9999) sitting
    // slightly OFF the cell centroid — the keep rule preserves diversity,
    // so the base twin (csim ≈ 1.0, the most prototypical member) loses
    val delta = Seq((10L, Array(0.69f, 0.72f, 0f, 0f)))
      .toDF("vec_id", "embedding")
    val (st2, _) = IndexMaintenance.refreshSemDedup(st, idx, delta)
    val dropped = st2.dropped.collect().map(_.getLong(0)).toSet
    assert(dropped == Set(1L),
      s"expected the OLD prototypical twin dropped, got $dropped")
    // and the additive refresh still equals a rebuild on the grown index
    val (idx2, rep) = IndexMaintenance.refreshIvf(idx, delta)
    assert(rep.mode == "incremental", s"one in-cluster vector tripped drift: $rep")
    val rebuilt = IndexMaintenance.buildSemDedup(idx2, tau = 0.95)
    assert(rebuilt.dropped.collect().map(_.getLong(0)).toSet == dropped)
  }

  test("corpus growth surfaces the nlist occupancy signal; a drifted growth retrains resized") {
    val e = Tables.embeddings(spark, dir)
    // a small bootstrap slice: 100 vectors size nlist = 2 cells
    val base = e.filter(col("vec_id") < 100)
    val idx = IndexMaintenance.buildIvf(base)
    assert(idx.centroids.count() == VectorQueries.ivfNlist(100).toLong)
    // an IN-DISTRIBUTION 4× growth — fresh-id exact copies of the base,
    // so cell means cannot move and the refresh stays incremental — but
    // the report must carry the occupancy signal (the grown corpus
    // sizes 10 cells, the index froze 2), the caller's cue to rebuild
    // at the new width
    val grow = (1 to 4)
      .map(k => base.select((col("vec_id") + lit(5000L * k)).as("vec_id"),
        col("embedding")))
      .reduce(_ unionByName _)
    val (idx2, rep) = IndexMaintenance.refreshIvf(idx, grow)
    assert(rep.mode == "incremental", rep.toString)
    assert(rep.nlist == idx.centroids.count() &&
      rep.nlistNow == VectorQueries.ivfNlist(500).toLong &&
      rep.nlistNow > rep.nlist,
      s"occupancy signal missing: $rep")
    // acting on the signal = a from-scratch build over the grown roster,
    // which sizes exactly nlistNow
    val rebuilt = IndexMaintenance.buildIvf(
      base.unionByName(grow.withColumn("label", lit(0))
        .select(base.columns.map(col): _*)))
    // seeded at nlistNow; the trained table may run a cell or two short
    // (exact-copy growth duplicates seeds and Lloyd empties the loser —
    // ordinary k-means behavior), but it must clearly outgrow the stale
    // width
    val rebuiltCells = rebuilt.centroids.count()
    assert(rebuiltCells > rep.nlist && rebuiltCells <= rep.nlistNow,
      s"rebuild did not resize: $rebuiltCells vs $rep")
    // a DRIFTED 4× growth trips the detector AND the sizing at once: the
    // retrain must re-seed at the new width, not warm-start 2 stale
    // centroids over a 5× corpus — and say so
    val drifted = e.filter(col("vec_id") >= 100)
      .select((col("vec_id") + 9000L).as("vec_id"),
        expr("transform(embedding, x -> cast(x * 0.1 + 0.5 as float))").as("embedding"))
    val (idx3, rep3) = IndexMaintenance.refreshIvf(idx, drifted)
    assert(rep3.mode == "retrain_resized", rep3.toString)
    assert(idx3.centroids.count() == rep3.nlistNow,
      s"retrain kept the stale nlist: ${idx3.centroids.count()} vs ${rep3.nlistNow}")
    assert(idx3.assigned.count() == 500L)
  }

  test("semantic-dedup refresh detects a retrained index and rebuilds, reported") {
    val (base, delta) = split()
    val idx = IndexMaintenance.buildIvf(base)
    val st = IndexMaintenance.buildSemDedup(idx)
    assert(st.centroidFp == IndexMaintenance.centroidFingerprint(idx.centroids))
    // force the retrain path with the drifted-segment shape (same recipe
    // as the drift-detector test): the refreshed index's geometry moved,
    // so the state's fingerprint no longer matches
    val drifted = delta.select((col("vec_id") + 1000000L).as("vec_id"),
      expr("transform(embedding, x -> cast(x * 0.1 + 0.5 as float))").as("embedding"))
    val (idxR, ivfRep) = IndexMaintenance.refreshIvf(idx, drifted)
    assert(ivfRep.mode.startsWith("retrain"), s"precondition: $ivfRep")
    val (stR, semRep) = IndexMaintenance.refreshSemDedup(st, idxR, drifted)
    assert(semRep.mode == "rebuild",
      s"stale geometry not detected: $semRep")
    assert(semRep.stateFp != semRep.indexFp)
    // the rebuilt state IS a from-scratch build over the retrained index:
    // same drop set, same roster csims, re-pinned fingerprint
    val scratch = IndexMaintenance.buildSemDedup(idxR)
    def ids(df: org.apache.spark.sql.DataFrame): Set[Long] =
      df.select("vec_id").collect().map(_.getLong(0)).toSet
    assert(ids(stR.dropped) == ids(scratch.dropped))
    assert(stR.centroidFp == scratch.centroidFp)
    // and the fingerprint itself is order-independent: a reshuffled
    // centroid table fingerprints identically
    assert(IndexMaintenance.centroidFingerprint(
      idxR.centroids.repartition(7).sortWithinPartitions(col("centroid")(0)))
      == stR.centroidFp)
  }
}
