package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.operators.{CorpusStatsMaintenance, DedupMaintenance, IndexMaintenance, VectorQueries}
import graft.streaming.{EmbeddingAdmission, NearDupAdmission, QuoteAdmission, SemanticAdmission}

/** The composed steady-state loop a 100 TB deployment actually runs:
  * segments arrive through the LEDGER write path, the streaming
  * admission gates dedup them, and ONLY the admitted rows drive
  * incremental maintenance of the serving artifacts — the dedup pair
  * graph/labels (DedupMaintenance.refresh), the lexical index and LM
  * count tables (CorpusStatsMaintenance), the IVF inverted file
  * (IndexMaintenance.refreshIvf), and the PQ code table
  * (IndexMaintenance.refreshPqCodes against the build-time base
  * distortion). The in-distribution epochs refresh incrementally
  * (labels and censuses bit-identical to a full rebuild); a final,
  * genuinely drifted epoch trips the IVF drift detector into a
  * warm-start retrain AND the PQ misfit ratio into a codebook retrain.
  */
class MaintenanceSoakSpec extends AnyFunSuite with TempDirs {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  private val dir = "/root/testdata/sf0.001"

  // ledger round-trip: docs as (key=doc_id, value=utf8 text), embeddings
  // as (key=vec_id, value=comma-joined floats) — the wire format is the
  // test's, the segment/offset semantics are the ledger's
  private def appendDocs(topic: String, docs: DataFrame): Unit =
    docs.select(lit(0).as("partition"), col("doc_id").cast("string").as("key"),
        col("text").cast("binary").as("value"))
      .write.format("graft-ledger").option("path", topic).mode("append").save()

  private def readDocs(topic: String, ledgerId: Long): DataFrame =
    spark.read.format("graft-ledger").option("path", topic).load()
      .filter(col("ledger_id") === ledgerId)
      .select(col("key").cast("long").as("doc_id"),
        col("value").cast("string").as("text"))

  private def appendVecs(topic: String, vecs: DataFrame): Unit =
    vecs.select(lit(0).as("partition"), col("vec_id").cast("string").as("key"),
        array_join(transform(col("embedding"), x => x.cast("string")), ",")
          .cast("binary").as("value"))
      .write.format("graft-ledger").option("path", topic).mode("append").save()

  private def readVecs(topic: String, ledgerId: Long): DataFrame =
    spark.read.format("graft-ledger").option("path", topic).load()
      .filter(col("ledger_id") === ledgerId)
      .select(col("key").cast("long").as("vec_id"),
        expr("transform(split(cast(value as string), ','), x -> cast(x as float))")
          .as("embedding"))

  private def labelSet(df: DataFrame): Set[(Long, Long)] =
    df.select("doc_id", "component").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet

  test("ledger segments -> admission gates -> incremental index/graph refresh, with one drift retrain") {
    val docTopic = tmp("soak_docledger")
    val vecTopic = tmp("soak_vecledger")
    val docStore = tmp("soak_docstore")
    val docKept = tmp("soak_dockept")
    val quoteStore = tmp("soak_quotestore")
    val quoteKept = tmp("soak_quotekept")
    val vecStore = tmp("soak_vecstore")
    val vecKept = tmp("soak_veckept")

    val allDocs = Tables.documents(spark, dir).select(col("doc_id"), col("text"))
    val allVecs = Tables.embeddings(spark, dir)
    val lbl = allVecs.select(col("vec_id"), col("label"))

    // ---- epoch 0: bootstrap over the base slice --------------------------
    appendDocs(docTopic, allDocs.filter(col("doc_id") % 5 =!= 3))
    appendVecs(vecTopic, allVecs.filter(col("vec_id") % 5 =!= 3)
      .select(col("vec_id"), col("embedding")))
    // two-gate doc funnel, exactly the CurationAdmission ordering: the
    // near-dup LSH gate first, the verbatim-quote gate over its
    // survivors — downstream maintenance rides the FINAL admitted set
    NearDupAdmission.admit(readDocs(docTopic, 0L), 0L, docStore, docKept)
    QuoteAdmission.admit(spark.read.parquet(s"$docKept/epoch=0")
      .select("doc_id", "text"), 0L, quoteStore, quoteKept)
    EmbeddingAdmission.admit(readVecs(vecTopic, 0L), 0L, vecStore, vecKept)
    val docs0 = spark.read.parquet(s"$quoteKept/epoch=0")
      .select("doc_id", "text").localCheckpoint()
    val vecs0 = spark.read.parquet(s"$vecKept/epoch=0")
      .select("vec_id", "embedding").localCheckpoint()

    var graph = DedupMaintenance.build(docs0)
    var lex = CorpusStatsMaintenance.buildLex(docs0)
    var lm = CorpusStatsMaintenance.buildLm(docs0)
    var nb = CorpusStatsMaintenance.buildNb(docs0)
    var spans = CorpusStatsMaintenance.buildSpans(docs0)
    // the q120 decontamination bitset over the admitted corpus's
    // held-out-split grams (the benchmark side grows as epochs admit)
    def benchGrams(docs: org.apache.spark.sql.DataFrame) = docs
      .select(explode(array_distinct(graft.functions.TextFunctions
        .wordNgramsUdf(5)(col("text")))).as("g"),
        graft.functions.TextFunctions.splitAssign(col("doc_id")).as("split"))
      .filter(col("split") =!= "train").select(col("g")).distinct()
    var bloom = CorpusStatsMaintenance.buildBloom(benchGrams(docs0))
    var ivf = IndexMaintenance.buildIvf(vecs0.join(lbl, "vec_id"))
    var srp = IndexMaintenance.buildSrp(vecs0)
    val sv0 = VectorQueries.pqSubvecs(VectorQueries.pqNormalize(vecs0))
      .localCheckpoint()
    var pq = IndexMaintenance.buildPq(sv0)
    assert(pq.baseDistortion > 0)
    var sem = IndexMaintenance.buildSemDedup(ivf)

    // the streaming SemDeDup gate rides the SAME frozen trained geometry
    // as the offline state: epoch-0 vectors seed its store, every
    // admitted epoch flows through it, and the end-state store must hold
    // NO within-cell pair at its tau — the gate's whole contract,
    // checked globally below
    val semStore = tmp("soak_semstore")
    val semKept = tmp("soak_semkept")
    val semTau = 0.35 // the q119 near-dup band on this corpus
    val semGeom = SemanticAdmission.Geometry.pin(ivf.centroids, semStore)
    SemanticAdmission.admit(vecs0, 0L, semGeom, semStore, semKept,
      tau = semTau)

    var admittedDocs = docs0
    var admittedVecs = vecs0

    // the incrementally-maintained duplicated-span report (doc_id ->
    // maxrun), updated per epoch by re-scoring ONLY the affected docs —
    // pinned doc-for-doc against a full rebuild every epoch
    def runsMap(df: org.apache.spark.sql.DataFrame): Map[Long, Long] =
      df.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    var spanReport = runsMap(CorpusStatsMaintenance.spanRuns(spans))

    // a deterministic epoch-0-admitted doc with enough tokens to quote
    // from — the cross-segment quote plants below copy ITS tokens, so an
    // appended segment must flip this OLD doc's span verdict
    import graft.functions.TextFunctions.tokens
    val quotee = docs0.withColumn("t", tokens(col("text")))
      .filter(size(col("t")) >= 40).orderBy("doc_id").limit(1)
      .select(col("doc_id"), col("t")).localCheckpoint()
    val quoteeId = quotee.collect().head.getLong(0)

    // ---- epochs 1..2: in-distribution segments with planted clones ------
    (1 to 2).foreach { ep =>
      val sliceD = allDocs.filter(col("doc_id") % 5 === 3 &&
        col("doc_id") % 2 === (ep % 2))
      val cloneD = admittedDocs.orderBy("doc_id").limit(1)
        .select((col("doc_id") + 100000L * ep).as("doc_id"), col("text"))
      // planted quotes of the epoch-0 doc `quotee` (unique letter-only
      // filler so no other window collides):
      //  - 25 consecutive tokens -> the quote gate must DROP it (>= 20)
      //  - 12 consecutive tokens -> passes the gate (< 20) but flips the
      //    OLD doc's duplicated-span verdict — the cross-segment flip
      // letter-only filler (tokens() strips digits) that differs per
      // epoch: identical plants across epochs would be near-dups of each
      // other and never reach the quote gate
      val epc = ('a' + ep).toChar
      val fillQ = (c: Char, n: Int) => (0 until n)
        .map(i => s"q$c$epc${('a' + i).toChar}${('z' - i).toChar}").mkString(" ")
      val longQuoteId = 310000L + ep
      val shortQuoteId = 320000L + ep
      val quoteLong = quotee.select(lit(longQuoteId).as("doc_id"),
        concat(lit(fillQ('l', 8)), lit(" "),
          array_join(slice(col("t"), 3, 25), " "),
          lit(" "), lit(fillQ('m', 8))).as("text"))
      val quoteShort = quotee.select(lit(shortQuoteId).as("doc_id"),
        concat(lit(fillQ('s', 8)), lit(" "),
          array_join(slice(col("t"), 3, 12), " "),
          lit(" "), lit(fillQ('t', 8))).as("text"))
      appendDocs(docTopic,
        sliceD.unionByName(cloneD).unionByName(quoteLong).unionByName(quoteShort))
      val sliceV = allVecs.filter(col("vec_id") % 5 === 3 &&
          col("vec_id") % 2 === (ep % 2))
        .select(col("vec_id"), col("embedding"))
      val cloneV = admittedVecs.orderBy("vec_id").limit(1)
        .select((col("vec_id") + 100000L * ep).as("vec_id"), col("embedding"))
      appendVecs(vecTopic, sliceV.unionByName(cloneV))

      NearDupAdmission.admit(readDocs(docTopic, ep.toLong), ep.toLong,
        docStore, docKept)
      val nearDupKept = spark.read.parquet(s"$docKept/epoch=$ep")
        .select("doc_id", "text").localCheckpoint()
      QuoteAdmission.admit(nearDupKept, ep.toLong, quoteStore, quoteKept)
      EmbeddingAdmission.admit(readVecs(vecTopic, ep.toLong), ep.toLong,
        vecStore, vecKept, threshold = 0.999)
      val keptD = spark.read.parquet(s"$quoteKept/epoch=$ep")
        .select("doc_id", "text").localCheckpoint()
      val keptV = spark.read.parquet(s"$vecKept/epoch=$ep")
        .select("vec_id", "embedding").localCheckpoint()
      assert(keptD.filter(col("doc_id") >= 100000L &&
        col("doc_id") < 300000L).count() == 0,
        s"epoch $ep: a cloned doc slipped the text gate")
      // the quote plants are NOT near-dups (25/12 shared tokens out of
      // ~56+): they must reach the quote gate, which drops exactly the
      // long one — per-window store coverage, across segments
      val ndIds = nearDupKept.filter(col("doc_id") >= 300000L)
        .collect().map(_.getLong(0)).toSet
      assert(ndIds == Set(longQuoteId, shortQuoteId),
        s"epoch $ep: quote plants did not reach the quote gate: $ndIds")
      val qIds = keptD.filter(col("doc_id") >= 300000L)
        .collect().map(_.getLong(0)).toSet
      assert(qIds == Set(shortQuoteId),
        s"epoch $ep: quote gate verdicts wrong (kept $qIds)")
      assert(keptV.filter(col("vec_id") >= 100000L).count() == 0,
        s"epoch $ep: a cloned vector slipped the embedding gate")
      assert(keptD.count() > 0 && keptV.count() > 0)

      // dedup graph: incremental refresh == full rebuild, bit-for-bit
      graph = DedupMaintenance.refresh(graph, keptD)
      admittedDocs = admittedDocs.unionByName(keptD)
      assert(labelSet(graph.labels) ==
        labelSet(DedupMaintenance.build(admittedDocs).labels),
        s"epoch $ep: refreshed labels diverged from a rebuild")

      // lexical index + LM counts + NB statistics ride the same
      // admitted epochs
      lex = CorpusStatsMaintenance.refreshLex(lex, keptD)
      lm = CorpusStatsMaintenance.refreshLm(lm, keptD)
      nb = CorpusStatsMaintenance.refreshNb(nb, keptD)
      val (bloom2, bloomRep) =
        CorpusStatsMaintenance.refreshBloom(bloom, benchGrams(keptD))
      assert(bloomRep.mode == "incremental", s"epoch $ep: $bloomRep")
      bloom = bloom2
      // dup-span census: refresh names the affected docs; re-score ONLY
      // those and splice into the carried report — per epoch, census and
      // report must equal a from-scratch rebuild exactly
      val spanRe = CorpusStatsMaintenance.refreshSpans(spans, keptD)
      spans = spanRe.index
      val affectedIds = spanRe.affected.collect().map(_.getLong(0)).toSet
      assert(affectedIds.contains(quoteeId) && affectedIds.contains(shortQuoteId),
        s"epoch $ep: cross-segment quote did not mark the quoted doc as " +
          s"affected ($affectedIds)")
      spanReport = spanReport.filterNot(kv => affectedIds(kv._1)) ++
        runsMap(CorpusStatsMaintenance.spanRuns(spans, Some(spanRe.affected)))
      val rebuiltSpans = CorpusStatsMaintenance.buildSpans(admittedDocs)
      assert(spans.census.collect().map(r => r.getString(0) -> r.getLong(1)).toMap
        == rebuiltSpans.census.collect().map(r => r.getString(0) -> r.getLong(1)).toMap,
        s"epoch $ep: refreshed span census diverged from rebuild")
      assert(spanReport == runsMap(CorpusStatsMaintenance.spanRuns(rebuiltSpans)),
        s"epoch $ep: incremental span report diverged from rebuild")
      // the flip itself: the OLD epoch-0 doc now reports a duplicated
      // run of exactly the planted 12-token quote (12 - 10 + 1 windows)
      assert(spanReport.get(quoteeId).contains(3L),
        s"epoch $ep: quoted doc's verdict ${spanReport.get(quoteeId)} != Some(3)")

      // IVF: in-distribution appends stay incremental (frozen centroids)
      val (ivf2, report) = IndexMaintenance.refreshIvf(ivf, keptV)
      assert(report.mode == "incremental", s"epoch $ep: $report")
      ivf = ivf2
      admittedVecs = admittedVecs.unionByName(keptV)
      assert(ivf.assigned.count() == admittedVecs.count())

      // semantic dedup: the drop set is a plain union over pairs, so an
      // admitted epoch refreshes it additively under the same frozen
      // centroids the IVF refresh just preserved — and the fingerprint
      // gate must agree those centroids ARE frozen
      val (sem2, semRep) = IndexMaintenance.refreshSemDedup(sem, ivf, keptV)
      assert(semRep.mode == "incremental", s"epoch $ep: $semRep")
      sem = sem2

      // the streaming gate admits the same epoch under the same frozen
      // geometry (incremental refresh never moves centroids, so the
      // store's fingerprint pin holds across epochs)
      SemanticAdmission.admit(keptV, ep.toLong,
        SemanticAdmission.Geometry.pin(ivf.centroids, semStore),
        semStore, semKept, tau = semTau)

      // SRP: row-local append under the frozen width (no boundary at
      // these sizes, so the report must say incremental)
      val (srp2, srpRep) = IndexMaintenance.refreshSrp(srp, keptV)
      assert(srpRep.mode == "incremental", s"epoch $ep: $srpRep")
      srp = srp2

      // PQ: delta encodes against the frozen codebook; the misfit test
      // reads the BUILD-TIME constant, no base pass
      val svD = VectorQueries.pqSubvecs(VectorQueries.pqNormalize(keptV))
      val (pq2, dDelta) = IndexMaintenance.refreshPqCodes(pq, svD)
      assert(pq2.baseDistortion == pq.baseDistortion)
      assert(dDelta < pq.baseDistortion * 1.3,
        s"epoch $ep: in-distribution delta flagged as misfit: " +
          s"$dDelta vs ${pq.baseDistortion}")
      pq = pq2
    }

    // after the in-distribution epochs, the maintained text statistics
    // equal a from-scratch rebuild over everything admitted — exact,
    // not approximate (additive censuses + row-local per-doc tables)
    val lexRebuilt = CorpusStatsMaintenance.buildLex(admittedDocs)
    assert(lex.df.collect().map(r => r.getString(0) -> r.getLong(1)).toMap ==
      lexRebuilt.df.collect().map(r => r.getString(0) -> r.getLong(1)).toMap,
      "maintained df census diverged from rebuild")
    val lmRebuilt = CorpusStatsMaintenance.buildLm(admittedDocs)
    assert(lm.c2.collect().map(r => r.getString(0) -> r.getLong(1)).toMap ==
      lmRebuilt.c2.collect().map(r => r.getString(0) -> r.getLong(1)).toMap,
      "maintained bigram counts diverged from rebuild")
    val nbRebuilt = CorpusStatsMaintenance.buildNb(admittedDocs)
    assert(nb.tf.collect().map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
      == nbRebuilt.tf.collect().map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap,
      "maintained NB token census diverged from rebuild")
    assert((nb.dHi, nb.dLo) == (nbRebuilt.dHi, nbRebuilt.dLo),
      "maintained NB priors diverged from rebuild")
    val srpRebuilt = IndexMaintenance.buildSrp(admittedVecs)
    assert(srpRebuilt.bits == srp.bits &&
      srp.bands.select("vec_id", "t", "b").collect().map(_.toSeq).toSet ==
        srpRebuilt.bands.select("vec_id", "t", "b").collect().map(_.toSeq).toSet,
      "maintained SRP band tables diverged from rebuild")
    val semRebuilt = IndexMaintenance.buildSemDedup(ivf)
    def semIds(df: org.apache.spark.sql.DataFrame): Set[Long] =
      df.select("vec_id").collect().map(_.getLong(0)).toSet
    assert(semIds(semRebuilt.dropped).nonEmpty,
      "no semantic dups among admitted vectors — the soak equality proves nothing")
    assert(semIds(sem.dropped) == semIds(semRebuilt.dropped),
      "maintained semantic-dedup drop set diverged from rebuild")
    val bloomRebuilt = CorpusStatsMaintenance.buildBloomAt(
      benchGrams(admittedDocs), bloom.m)
    def laneMap(df: org.apache.spark.sql.DataFrame): Map[Long, Long] =
      df.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(laneMap(bloom.words) == laneMap(bloomRebuilt),
      "maintained decontamination bitset diverged from rebuild at the frozen width")
    val spansRebuilt = CorpusStatsMaintenance.buildSpans(admittedDocs)
    assert(spans.census.collect().map(r => r.getString(0) -> r.getLong(1)).toMap ==
      spansRebuilt.census.collect().map(r => r.getString(0) -> r.getLong(1)).toMap,
      "maintained dup-span census diverged from rebuild")

    // the streaming gate's global contract: the admitted semantic store
    // holds NO within-cell pair at tau — every duplicate was caught
    // either in-batch or against the store, across all three epochs —
    // and the gate genuinely dropped vectors (the invariant isn't vacuous)
    {
      import graft.functions.expressions.VectorExpressions.cosineSim
      val members = spark.read.parquet(s"$semStore/members")
      val survivors = members.count()
      assert(survivors < admittedVecs.count(),
        "semantic gate dropped nothing — lower tau so the check means something")
      val pairs = members.alias("a").join(members.alias("b"),
          col("a.cell") === col("b.cell") && col("a.vec_id") < col("b.vec_id"))
        .filter(cosineSim(col("a.embedding"), col("b.embedding")) >= semTau)
        .count()
      assert(pairs == 0, s"$pairs semantic-dup pairs admitted")
    }

    // ---- bloom width resize: a new eval suite crosses the boundary ------
    // the bitset's staleness axis is its width (sized 16× grams at
    // build); a benchmark addition big enough to cross the power-of-two
    // boundary must RAISE the rebuild signal, the acted-on rebuild must
    // resize, and the lifecycle must continue cleanly under the new
    // frozen width — the same signal → rebuild → carry-on pattern the
    // IVF-drift and PQ-misfit stages below exercise
    val gramsToCross = bloom.m / 16 - bloom.grams + 16
    assert(gramsToCross > 0, "soak epochs already crossed the width boundary")
    val evalSuite = spark.range(gramsToCross)
      .selectExpr("concat('ev ', cast(id as string), ' wq zx vk') AS g")
      .localCheckpoint()
    val (bloomUp, upRep) = CorpusStatsMaintenance.refreshBloom(bloom, evalSuite)
    assert(upRep.mode == "rebuild",
      s"boundary crossing did not raise the rebuild signal: $upRep")
    assert(upRep.widthNow > upRep.frozenWidth, upRep.toString)
    // the un-acted refresh is still sound at the frozen (now undersized)
    // width — the signal is about FP rate, never correctness
    assert(bloomUp.m == bloom.m)
    // act on the signal: from-scratch rebuild over every decontamination
    // gram admitted so far plus the new suite — the width grows
    val allBench = benchGrams(admittedDocs).unionByName(evalSuite)
    bloom = CorpusStatsMaintenance.buildBloom(allBench)
    assert(bloom.m > upRep.frozenWidth,
      s"rebuild kept the undersized width: ${bloom.m} vs ${upRep.frozenWidth}")
    // and refreshes keep working under the NEW frozen width: one more
    // delta, incremental verdict, bitset equal to a frozen-width rebuild
    val tailSuite = spark.range(50)
      .selectExpr("concat('tl ', cast(id as string), ' mq rb hy') AS g")
      .localCheckpoint()
    val (bloomTail, tailRep) = CorpusStatsMaintenance.refreshBloom(bloom, tailSuite)
    assert(tailRep.mode == "incremental", s"post-resize refresh: $tailRep")
    assert(laneMap(bloomTail.words) == laneMap(CorpusStatsMaintenance
        .buildBloomAt(allBench.unionByName(tailSuite), bloom.m)),
      "post-resize refreshed bitset diverged from a frozen-width rebuild")

    // ---- epoch 3: a genuinely drifted segment ---------------------------
    // vectors dragged toward a direction the corpus never had, with ~99%
    // of their mass in ONE subspace (IVF drift + PQ misfit) — but each
    // keeps its own 0.3x variation, so the segment is diverse enough to
    // pass the admission gate (mutual cos ≈ 0.986 < the 0.999 threshold)
    val drifted = allVecs.filter(col("vec_id") % 5 === 3 && col("vec_id") % 2 === 1)
      .select((col("vec_id") + 900000L).as("vec_id"),
        expr("""transform(embedding, (x, j) -> cast(
                 CASE WHEN j < 8 THEN x * 0.3 + 0.9
                 ELSE x * 0.3 END AS float))""").as("embedding"))
    appendVecs(vecTopic, drifted)
    EmbeddingAdmission.admit(readVecs(vecTopic, 3L), 3L, vecStore, vecKept,
      threshold = 0.999)
    val keptDrift = spark.read.parquet(s"$vecKept/epoch=3")
      .select("vec_id", "embedding").localCheckpoint()
    assert(keptDrift.count() > 0, "drifted segment entirely dropped")

    val (ivfRetrained, driftReport) = IndexMaintenance.refreshIvf(ivf, keptDrift)
    // this drifted epoch also pushes occupancy past the sizing boundary
    // (8 → 11 cells), so the retrain both moves geometry AND resizes
    assert(driftReport.mode.startsWith("retrain"),
      s"drifted segment did not trip the IVF detector: $driftReport")

    // the retrain moved the centroid geometry, so the semantic-dedup
    // state's fingerprint gate must fire: the refresh reports "rebuild"
    // and its result is a from-scratch pass over the retrained index —
    // never an additive merge of csims scored under two geometries
    val (semAfter, semDriftRep) =
      IndexMaintenance.refreshSemDedup(sem, ivfRetrained, keptDrift)
    assert(semDriftRep.mode == "rebuild",
      s"retrained centroids not detected: $semDriftRep")
    val semFromScratch = IndexMaintenance.buildSemDedup(ivfRetrained)
    assert(semIds(semAfter.dropped) == semIds(semFromScratch.dropped),
      "post-retrain semantic-dedup state diverged from a from-scratch build")
    assert(semAfter.centroidFp == semFromScratch.centroidFp &&
      semAfter.centroidFp != sem.centroidFp,
      "rebuild did not re-pin the state to the retrained geometry")
    // and the STREAMING gate refuses the retrained geometry outright —
    // its store was scored under the frozen centroids, so binding the
    // moved ones must fail loudly, not mix csims
    val geomErr = intercept[IllegalStateException] {
      SemanticAdmission.Geometry.pin(ivfRetrained.centroids, semStore)
    }
    assert(geomErr.getMessage.contains("retrained"), geomErr.getMessage)

    val svDrift = VectorQueries.pqSubvecs(VectorQueries.pqNormalize(keptDrift))
    val (_, dAlien) = IndexMaintenance.refreshPqCodes(pq, svDrift)
    assert(dAlien > pq.baseDistortion * 1.3,
      s"PQ misfit not flagged: $dAlien vs ${pq.baseDistortion}")
    // the flagged misfit is what triggers the codebook retrain — rebuild
    // over admitted+drifted and confirm the NEW codebook fits the drifted
    // data it was retrained to cover
    val svAll = sv0.unionByName(svDrift)
    val pqRetrained = IndexMaintenance.buildPq(svAll)
    val dAfter = IndexMaintenance.pqDistortion(svDrift, pqRetrained.codebook)
    assert(dAfter < dAlien,
      s"codebook retrain did not improve drifted-segment fit: $dAfter vs $dAlien")
  }
}
