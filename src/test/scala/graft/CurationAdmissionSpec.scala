package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.streaming.CurationAdmission

/** Streaming curation admission: the q100 funnel in micro-batch form —
  * quality gate, frozen-reference-LM gate, near-dup gate, per-epoch
  * audit accounting, idempotent retries.
  */
class CurationAdmissionSpec extends AnyFunSuite with TempDirs {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  private val corpus = "/root/testdata/sf0.001"

  /** Spark jobs of one steady-state micro-batch with all five gates
    * armed (the job-budget test's second epoch). */
  private val JobsPerBatch = 26

  /** Generated classes compiled by a steady-state micro-batch (the third
    * epoch of the compile test): a regression ceiling over the measured
    * counts, not a target. It catches a plan that embeds per-batch
    * values or a batch whose generated classes outgrow the codegen
    * cache; how many classes a batch compiles also depends on where
    * the cache's segments place them, which varies from JVM to JVM. */
  private val SteadyStateCompiles = 140

  // a doc whose quality is high (>= 20 alpha tokens, no punctuation,
  // stopword-rich) but whose bigrams are ALL absent from the reference
  // corpus: every bigram pays the punk penalty ln(n_bigrams + 1), far
  // above any per-lang tail cutoff → must drop at the LM gate
  private val nonsense = (Seq("the", "a", "of", "and", "in", "to", "is",
    "on", "for", "an") ++ (1 to 14).map(i => s"zzqword$i")).mkString(" ")

  // junk punctuation doc → quality gate (punct ratio ~1 kills the score)
  private val junk = "!!! ??? ### $$$ %%% ^^^ &&& *** ((( ))) @@@ ~~~"

  /** Reference artifacts loaded driver-side: (bigram LM, per-lang
    * cutoffs, unseen-bigram penalty). ONE loader for every test so the
    * replicas cannot drift from each other.
    */
  private def loadRef(ref: String)
      : (Map[String, Double], Map[String, Double], Double) = {
    val lm = spark.read.parquet(s"$ref/lm").collect()
      .map(r => r.getString(0) -> r.getDouble(1)).toMap
    val cuts = spark.read.parquet(s"$ref/cutoffs").collect()
      .map(r => r.getAs[String]("lang") -> r.getAs[Double]("cut")).toMap
    val punk = spark.read.parquet(s"$ref/params").head.getDouble(0)
    (lm, cuts, punk)
  }

  /** The references bound the way a stream binds them at start. */
  private def bound(ref: String, bench: Option[String] = None) =
    CurationAdmission.Reference.load(spark, ref, bench)

  /** Driver-side replay of the LM gate's per-doc score. */
  private def scoreWith(lm: Map[String, Double], punk: Double)(
      text: String): Option[Double] = {
    val t = text.toLowerCase.replaceAll("[^a-z ]", " ").trim
      .split("\\s+").filter(_.nonEmpty)
    if (t.length < 2) None
    else Some(t.sliding(2).map(w => -math.log(
      lm.getOrElse(w.mkString(" "), punk))).sum / (t.length - 1))
  }

  /** Distinctness in the DEDUP GATE'S OWN metric — normalized 3-gram
    * shingle jaccard well under the 0.5 drop threshold (a raw word-set
    * heuristic can misclassify: two docs sharing a verbatim phrase may
    * differ in enough stray tokens to pass it while their shingle
    * jaccard still trips the gate).
    */
  private def shingleDistinct(a: String, b: String): Boolean = {
    val sa = graft.functions.TextFunctions.wordNgramsScala(a, 3).toSet
    val sb = graft.functions.TextFunctions.wordNgramsScala(b, 3).toSet
    sa.isEmpty || sb.isEmpty ||
      (sa & sb).size.toDouble / (sa | sb).size < 0.4
  }

  test("funnel gates fire by reason, audit conserves, retry is idempotent") {
    val ref = tmp("cur_ref")
    val store = tmp("cur_store")
    val kept = tmp("cur_kept")
    val audit = tmp("cur_audit")

    CurationAdmission.buildReference(spark, corpus, ref)
    assert(spark.read.parquet(s"$ref/lm").count() > 0)
    val (lm, cuts, punk) = loadRef(ref)
    assert(cuts.nonEmpty && cuts.values.forall(_ > 0))
    assert(-math.log(punk) > cuts.values.max,
      "the unseen-bigram penalty must exceed every tail cutoff for the nonsense fixture to be deterministic")

    // batch 0: real corpus docs that pass quality AND sit below their
    // lang's cutoff (selected by replaying the gates), plus the two
    // planted failures
    import graft.functions.TextFunctions._
    val candidates = Tables.documents(spark, corpus)
      .filter(qualityScore(col("text")) >= 0.72)
      .select("doc_id", "lang", "text").collect()
    val score = scoreWith(lm, punk) _
    val good = candidates.foldLeft(Vector.empty[org.apache.spark.sql.Row]) {
      (acc, r) =>
        val ok = acc.length < 3 &&
          score(r.getAs[String]("text")).exists(s =>
            s < cuts(r.getAs[String]("lang")) - 0.05) &&
          acc.forall(p => shingleDistinct(p.getAs[String]("text"),
            r.getAs[String]("text")))
        if (ok) acc :+ r else acc
    }
    assert(good.length == 3, "corpus no longer yields 3 clean admission fixtures")

    import spark.implicits._
    val batch0 = good.map(r => (r.getAs[Long]("doc_id"),
      r.getAs[String]("lang"), r.getAs[String]("text"))).toSeq ++
      Seq((9001L, "en", junk), (9002L, "en", nonsense))
    val row0 = CurationAdmission.admit(batch0.toDF("doc_id", "lang", "text"),
      0L, bound(ref), store, kept, audit)
    assert(row0.getAs[Long]("n_in") == 5)
    assert(row0.getAs[Long]("drop_quality") == 1, row0.toString)
    assert(row0.getAs[Long]("drop_lm") == 1, row0.toString)
    assert(row0.getAs[Long]("drop_dedup") == 0, row0.toString)
    assert(row0.getAs[Long]("drop_quote") == 0, row0.toString)
    assert(row0.getAs[Long]("admitted") == 3, row0.toString)
    // the audit row carries the dedup store's stamped fan-out (r16
    // lifecycle) — and ONLY the fan-out: byte-level width is
    // time-varying across retries, so it lives in the gates' returned
    // signals, keeping this row retry-deterministic
    assert(row0.getAs[Int]("store_k") ==
      graft.streaming.AdmissionStore.DefaultBuckets, row0.toString)
    val kept0 = spark.read.parquet(s"$kept/epoch=0").select("doc_id")
      .collect().map(_.getLong(0)).toSet
    assert(kept0 == good.map(_.getAs[Long]("doc_id")).toSet)

    // batch 1: an exact clone of an admitted doc (new id) + one fresh
    // clean doc → dedup gate fires exactly once
    val fresh = candidates.filter { r =>
      val id = r.getAs[Long]("doc_id")
      !good.exists(_.getAs[Long]("doc_id") == id) &&
        score(r.getAs[String]("text")).exists(s =>
          s < cuts(r.getAs[String]("lang")) - 0.05) &&
        // must not near-duplicate a batch-0 admission — judged in the
        // gate's own shingle-jaccard metric
        good.forall(g => shingleDistinct(g.getAs[String]("text"),
          r.getAs[String]("text")))
    }.take(1)
    assume(fresh.length == 1, "no sufficiently-distinct fresh doc at this SF")
    val clone = (9100L, good.head.getAs[String]("lang"),
      good.head.getAs[String]("text"))
    val batch1 = Seq(clone,
      (fresh.head.getAs[Long]("doc_id"), fresh.head.getAs[String]("lang"),
        fresh.head.getAs[String]("text")))
    val row1 = CurationAdmission.admit(batch1.toDF("doc_id", "lang", "text"),
      1L, bound(ref), store, kept, audit)
    assert(row1.getAs[Long]("drop_dedup") == 1, row1.toString)
    // an exact clone is attributed to DEDUP, not the quote gate (the
    // batch funnel's first-gate-catches order)
    assert(row1.getAs[Long]("drop_quote") == 0, row1.toString)
    assert(row1.getAs[Long]("admitted") == 1, row1.toString)

    // batch 2: a doc QUOTING 30 consecutive verbatim tokens of an
    // admitted doc — passes quality, the LM (its bigrams are the
    // corpus's own), and the near-dup gate (jaccard vs a long source
    // stays under threshold), but must trip the QUOTE gate. The
    // fixture is found by replaying the upstream gates, like `good`.
    val admittedDocs = (good.map(r => (r.getAs[String]("lang"),
      r.getAs[String]("text"))) :+
      ((fresh.head.getAs[String]("lang"), fresh.head.getAs[String]("text"))))
      .toVector
    def toksOf(t: String): Array[String] =
      t.toLowerCase.replaceAll("[^a-z ]", " ").trim
        .split("\\s+").filter(_.nonEmpty)
    val snippets = admittedDocs.flatMap { case (lang, text) =>
      val tk = toksOf(text)
      (0 to tk.length - 30).map(k => (lang, tk.slice(k, k + 30).mkString(" ")))
    }
    val quals = snippets.map(_._2).toDF("text")
      .select(graft.functions.TextFunctions.qualityScore(col("text")))
      .collect().map(_.getDouble(0))
    val quoteFixture = snippets.zip(quals).collectFirst {
      case ((lang, sn), q)
          if q >= 0.72 && score(sn).exists(s => s < cuts(lang) - 0.05) &&
            admittedDocs.forall { case (_, t) => shingleDistinct(t, sn) } =>
        (lang, sn)
    }
    assume(quoteFixture.isDefined,
      "corpus yields no quality+LM-passing 30-token quote fixture")
    val (qlang, snippet) = quoteFixture.get
    val row2 = CurationAdmission.admit(
      Seq((9200L, qlang, snippet)).toDF("doc_id", "lang", "text"),
      2L, bound(ref), store, kept, audit)
    assert(row2.getAs[Long]("drop_quote") == 1 &&
      row2.getAs[Long]("drop_dedup") == 0 &&
      row2.getAs[Long]("drop_quality") == 0 &&
      row2.getAs[Long]("drop_lm") == 0 &&
      row2.getAs[Long]("admitted") == 0, row2.toString)

    // audit conservation on every epoch row
    spark.read.parquet(audit).collect().foreach { r =>
      assert(r.getAs[Long]("n_in") == r.getAs[Long]("drop_quality") +
        r.getAs[Long]("drop_lm") + r.getAs[Long]("drop_dedup") +
        r.getAs[Long]("drop_quote") +
        r.getAs[Long]("admitted"), s"audit row does not conserve: $r")
    }

    // retried epoch: identical audit, no double admission
    val row1r = CurationAdmission.admit(batch1.toDF("doc_id", "lang", "text"),
      1L, bound(ref), store, kept, audit)
    assert(row1r == row1, s"retry diverged: $row1r vs $row1")
    val keptAll = spark.read.parquet(kept).select("doc_id")
      .collect().map(_.getLong(0))
    assert(keptAll.length == keptAll.distinct.length,
      "retry double-admitted a document")
  }

  test("armed decontamination gate drops benchmark-quoting docs, attributed last") {
    val ref = tmp("cur5_ref")
    val store = tmp("cur5_store")
    val kept = tmp("cur5_kept")
    val audit = tmp("cur5_audit")
    val deconRef = tmp("cur5_decon")
    CurationAdmission.buildReference(spark, corpus, ref)
    val (lm, cuts, punk) = loadRef(ref)
    val score = scoreWith(lm, punk) _

    // two corpus docs that pass quality, sit below their lang's LM
    // cutoff, and are mutually shingle-distinct (so only the decon gate
    // can separate them)
    import graft.functions.TextFunctions._
    val candidates = Tables.documents(spark, corpus)
      .filter(qualityScore(col("text")) >= 0.72)
      .select("doc_id", "lang", "text").collect()
    val picks = candidates.foldLeft(Vector.empty[org.apache.spark.sql.Row]) {
      (acc, r) =>
        val ok = acc.length < 2 &&
          score(r.getAs[String]("text")).exists(s =>
            s < cuts(r.getAs[String]("lang")) - 0.05) &&
          acc.forall(p => shingleDistinct(p.getAs[String]("text"),
            r.getAs[String]("text")))
        if (ok) acc :+ r else acc
    }
    assert(picks.length == 2, "corpus no longer yields 2 clean fixtures")
    val e = picks(0); val g = picks(1)

    // the frozen eval suite IS doc e's text: every one of e's 5-grams is
    // a benchmark gram (hit fraction 1.0 — the maximal contamination),
    // while g's fraction is only the Bloom FP floor
    import spark.implicits._
    val suiteGrams = Seq(e.getAs[String]("text")).toDF("text")
      .select(explode(array_distinct(wordNgramsUdf(5)(col("text")))).as("g"))
      .distinct()
    graft.streaming.DecontaminationAdmission.buildReference(suiteGrams, deconRef)

    val batch = Seq(
      (9100L, e.getAs[String]("lang"), e.getAs[String]("text")),
      (9101L, g.getAs[String]("lang"), g.getAs[String]("text")))
      .toDF("doc_id", "lang", "text")
    val row = CurationAdmission.admit(batch, 0L, bound(ref, Some(deconRef)),
      store, kept, audit)
    assert(row.getAs[Long]("n_in") == 2 &&
      row.getAs[Long]("drop_quality") == 0 &&
      row.getAs[Long]("drop_lm") == 0 &&
      row.getAs[Long]("drop_dedup") == 0 &&
      row.getAs[Long]("drop_quote") == 0, row.toString)
    assert(row.getAs[Long]("drop_decon") == 1, row.toString)
    assert(row.getAs[Long]("admitted") == 1, row.toString)
    assert(spark.read.parquet(s"$kept/epoch=0").select("doc_id")
      .collect().map(_.getLong(0)).toSet == Set(9101L))

    // retried epoch reproduces the verdicts
    val rowR = CurationAdmission.admit(batch, 0L, bound(ref, Some(deconRef)),
      store, kept, audit)
    assert(rowR.getAs[Long]("drop_decon") == 1 &&
      rowR.getAs[Long]("admitted") == 1, rowR.toString)

    // unarmed control: the same batch through a four-gate funnel admits
    // BOTH docs — the fifth gate is the only thing separating them
    val store2 = tmp("cur5_store2")
    val kept2 = tmp("cur5_kept2")
    val audit2 = tmp("cur5_audit2")
    val row2 = CurationAdmission.admit(batch, 0L, bound(ref), store2, kept2, audit2)
    assert(row2.getAs[Long]("drop_decon") == 0 &&
      row2.getAs[Long]("admitted") == 2, row2.toString)
  }

  test("a batch dropped wholesale at dedup does not kill the funnel") {
    val ref = tmp("curw_ref")
    val store = tmp("curw_store")
    val kept = tmp("curw_kept")
    val audit = tmp("curw_audit")
    CurationAdmission.buildReference(spark, corpus, ref)
    val (lm, cuts, punk) = loadRef(ref)
    val score = scoreWith(lm, punk) _
    import graft.functions.TextFunctions._
    val pick = Tables.documents(spark, corpus)
      .filter(qualityScore(col("text")) >= 0.72)
      .select("doc_id", "lang", "text").collect()
      .find(r => score(r.getAs[String]("text")).exists(s =>
        s < cuts(r.getAs[String]("lang")) - 0.05)).get
    import spark.implicits._
    val doc = (pick.getAs[Long]("doc_id"), pick.getAs[String]("lang"),
      pick.getAs[String]("text"))
    val row0 = CurationAdmission.admit(Seq(doc).toDF("doc_id", "lang", "text"),
      0L, bound(ref), store, kept, audit)
    assert(row0.getAs[Long]("admitted") == 1, row0.toString)
    // epoch 1: NOTHING but exact clones of the admitted doc (pure
    // re-sends — routine in a deployed stream). Every doc drops at
    // dedup, the later gates see an empty survivor set, and the funnel
    // must account the epoch and carry on
    val clones = Seq((8001L, doc._2, doc._3), (8002L, doc._2, doc._3))
    val row1 = CurationAdmission.admit(
      clones.toDF("doc_id", "lang", "text"), 1L, bound(ref), store, kept, audit)
    assert(row1.getAs[Long]("n_in") == 2 &&
      row1.getAs[Long]("drop_dedup") == 2 &&
      row1.getAs[Long]("admitted") == 0, row1.toString)
    // and epoch 2 still works end-to-end after the empty epoch
    val row2 = CurationAdmission.admit(
      Seq((8003L, doc._2, doc._3)).toDF("doc_id", "lang", "text"),
      2L, bound(ref), store, kept, audit)
    assert(row2.getAs[Long]("drop_dedup") == 1 &&
      row2.getAs[Long]("admitted") == 0, row2.toString)
  }

  test("multi-epoch drive: conservation holds, clones stay blocked across compaction") {
    import spark.implicits._
    import graft.functions.TextFunctions._
    val ref = tmp("cur_ref3")
    val store = tmp("cur_store3")
    val kept = tmp("cur_kept3")
    val audit = tmp("cur_audit3")
    CurationAdmission.buildReference(spark, corpus, ref)
    val (lm, cuts, punk) = loadRef(ref)
    val score = scoreWith(lm, punk) _
    // greedy pool of mutually-distinct clean docs (pass quality + LM,
    // distinctness in the gate's own shingle metric)
    val pool = Tables.documents(spark, corpus)
      .filter(qualityScore(col("text")) >= 0.72)
      .select("doc_id", "lang", "text").collect()
      .foldLeft(Vector.empty[(Long, String, String)]) { (acc, r) =>
        val text = r.getAs[String]("text")
        val ok = score(text).exists(s =>
          s < cuts(r.getAs[String]("lang")) - 0.05) &&
          acc.forall { case (_, _, p) => shingleDistinct(p, text) }
        if (ok) acc :+ ((r.getAs[Long]("doc_id"), r.getAs[String]("lang"), text))
        else acc
      }
    val epochs = math.min(10, (pool.length - 1) / 2)
    assume(epochs >= 4, s"clean pool too small for a multi-epoch drive: ${pool.length}")
    var admittedTotal = 0L
    (0 until epochs).foreach { e =>
      // mid-drive maintenance: compaction must not unblock clones
      if (e == epochs / 2)
        graft.streaming.NearDupAdmission.compact(spark, store)
      val fresh = pool.slice(1 + 2 * e, 3 + 2 * e)
      val batch = fresh ++ Seq(
        (if (e == 0) pool.head._1 else 50000L + e, pool.head._2, pool.head._3),
        (60000L + e, "en", junk))
      val row = CurationAdmission.admit(
        batch.toDF("doc_id", "lang", "text"), e.toLong, bound(ref), store, kept, audit)
      val (nIn, dq, dl, dd, dquo, adm) = (row.getAs[Long]("n_in"),
        row.getAs[Long]("drop_quality"), row.getAs[Long]("drop_lm"),
        row.getAs[Long]("drop_dedup"), row.getAs[Long]("drop_quote"),
        row.getAs[Long]("admitted"))
      assert(nIn == dq + dl + dd + dquo + adm,
        s"epoch $e does not conserve: $row")
      assert(dq == 1, s"epoch $e: junk not dropped at quality: $row")
      if (e == 0) assert(adm == 3 && dd == 0, s"epoch 0 unexpected: $row")
      else assert(dd >= 1, s"epoch $e: the epoch-0 clone was not dedup-dropped: $row")
      admittedTotal += adm
    }
    // the admitted corpus is exactly the distinct pool docs that went in
    val keptIds = spark.read.parquet(kept).select("doc_id")
      .collect().map(_.getLong(0))
    assert(keptIds.length == keptIds.distinct.length, "a doc was admitted twice")
    assert(keptIds.length.toLong == admittedTotal,
      "kept store disagrees with audit accounting")
    assert(!keptIds.exists(_ >= 50000L), "a clone id slipped into the corpus")
    // audit has one row per epoch
    assert(spark.read.parquet(audit).count() == epochs)
  }

  test("streaming wrapper drives the funnel through foreachBatch") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val ref = tmp("cur_ref2")
    val store = tmp("cur_store2")
    val kept = tmp("cur_kept2")
    val audit = tmp("cur_audit2")
    val ckpt = tmp("cur_ckpt2")
    CurationAdmission.buildReference(spark, corpus, ref)

    // a clean doc under an UNKNOWN lang code: it passes quality but has
    // no reference cutoff, so the LM gate must drop it (conservative)
    val unknownLang = Tables.documents(spark, corpus)
      .filter(graft.functions.TextFunctions.qualityScore(col("text")) >= 0.72)
      .select("text").head.getString(0)

    val mem = MemoryStream[(Long, String, String)]
    val q = CurationAdmission.stream(
      mem.toDF().toDF("doc_id", "lang", "text"),
      ref, store, kept, audit, ckpt)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
    mem.addData((9001L, "en", junk), (9002L, "en", nonsense),
      (9003L, "xx", unknownLang))
    val run = q.start(); run.awaitTermination(120000)
    val a = spark.read.parquet(audit).head
    assert(a.getAs[Long]("n_in") == 3 && a.getAs[Long]("admitted") == 0 &&
      a.getAs[Long]("drop_lm") == 2, a.toString)
  }

  private def jobsOf[T](tag: String)(body: => T): (T, Int) =
    SparkJobs.of(spark, tag)(body)

  test("a micro-batch runs a pinned number of Spark jobs; the returned audit row is the persisted one") {
    import spark.implicits._
    import graft.functions.TextFunctions._
    val ref = tmp("curj_ref"); val deconRef = tmp("curj_decon")
    val store = tmp("curj_store"); val kept = tmp("curj_kept")
    val audit = tmp("curj_audit")
    CurationAdmission.buildReference(spark, corpus, ref)
    val pool = Tables.documents(spark, corpus)
      .filter(qualityScore(col("text")) >= 0.72)
      .select("doc_id", "lang", "text").orderBy("doc_id").limit(9)
      .as[(Long, String, String)].collect().toSeq
    assert(pool.length == 9, "corpus no longer yields 9 quality docs")
    // the planted benchmark doc: the eval suite is its text
    graft.streaming.DecontaminationAdmission.buildReference(
      Seq(pool(8)._3).toDF("text")
        .select(explode(array_distinct(wordNgramsUdf(5)(col("text")))).as("g"))
        .distinct(), deconRef)
    val refs = bound(ref, Some(deconRef))
    // epoch 0 creates the stores; epoch 1 is the steady state every
    // later batch of a stream repeats: fresh docs, a clone of an epoch-0
    // doc, junk and the planted doc, with every store read armed
    val epoch0 = pool.take(4) :+ ((9001L, "en", junk))
    val epoch1 = pool.slice(4, 9) ++ Seq((9100L, pool(0)._2, pool(0)._3),
      (9002L, "en", junk))
    jobsOf("curation-epoch-0") {
      CurationAdmission.admit(epoch0.toDF("doc_id", "lang", "text"), 0L, refs,
        store, kept, audit)
    }
    val (row, jobs) = jobsOf("curation-epoch-1") {
      CurationAdmission.admit(epoch1.toDF("doc_id", "lang", "text"), 1L, refs,
        store, kept, audit)
    }
    assert(row.getAs[Long]("n_in") == 7 && row.getAs[Long]("drop_quality") >= 1 &&
      row.getAs[Long]("drop_dedup") + row.getAs[Long]("drop_lm") >= 1, row.toString)
    // every count is an observation on a checkpoint the funnel runs
    // anyway, the references are bound, the near-dup survivors arrive in
    // memory: a reintroduced count(), re-read or schema inference shows
    // up here as a higher number
    assert(jobs == JobsPerBatch, s"a micro-batch ran $jobs Spark jobs, pinned $JobsPerBatch")

    // the row admit returns (built on the driver) is the row it persisted
    val persisted = CurationAdmission.readAudits(spark, audit)
      .filter(col("epoch") === 1L).collect()
    assert(persisted.length == 1)
    val p = persisted.head
    assert(row.schema.fieldNames.toSet == p.schema.fieldNames.toSet,
      s"${row.schema} vs ${p.schema}")
    row.schema.fields.foreach { f =>
      assert(f.dataType == p.schema(f.name).dataType, s"type of ${f.name}")
      assert(row.getAs[Any](f.name) == p.getAs[Any](f.name), s"value of ${f.name}")
    }
  }

  test("a steady-state micro-batch reuses the funnel's generated code") {
    import spark.implicits._
    import graft.functions.TextFunctions._
    val ref = tmp("curc_ref"); val deconRef = tmp("curc_decon")
    val store = tmp("curc_store"); val kept = tmp("curc_kept")
    val audit = tmp("curc_audit")
    CurationAdmission.buildReference(spark, corpus, ref)
    val (lm, cuts, punk) = loadRef(ref)
    val score = scoreWith(lm, punk) _
    def admissible(lang: String, text: String) =
      score(text).exists(_ < cuts(lang) - 0.05)
    // mutually distinct clean docs
    val pool = Tables.documents(spark, corpus)
      .filter(qualityScore(col("text")) >= 0.72)
      .select("doc_id", "lang", "text").orderBy("doc_id")
      .as[(Long, String, String)].collect()
      .foldLeft(Vector.empty[(Long, String, String)]) { case (acc, d @ (_, lang, text)) =>
        if (admissible(lang, text) && acc.forall(p => shingleDistinct(p._3, text)))
          acc :+ d
        else acc
      }
    assume(pool.length >= 9, s"clean pool too small: ${pool.length}")
    // a 25-token quote of one of `srcs` (the gate drops quotes of 20
    // tokens) that passes the LM and the near-dup gate against every
    // pool doc and every earlier quote (the near-dup store keeps the
    // fingerprints of quote-dropped docs)
    def quoteOf(srcs: Seq[(Long, String, String)], earlier: Seq[String]) = {
      val q = srcs.iterator.flatMap { case (_, lang, text) =>
        val t = text.toLowerCase.replaceAll("[^a-z ]", " ").trim.split("\\s+")
        (0 to t.length - 25).iterator.map(k => (lang, t.slice(k, k + 25).mkString(" ")))
      }.find { case (lang, sn) =>
        admissible(lang, sn) && (pool.map(_._3) ++ earlier).forall(shingleDistinct(_, sn))
      }
      assume(q.isDefined, "no quote fixture")
      q.get
    }
    val quote1 = quoteOf(pool.take(3), Nil)
    val quotes = Seq(quote1, quoteOf(pool.take(5), Seq(quote1._2)))
    val planted = Seq(pool(7), pool(8))
    graft.streaming.DecontaminationAdmission.buildReference(
      planted.map(_._3).toDF("text")
        .select(explode(array_distinct(wordNgramsUdf(5)(col("text")))).as("g"))
        .distinct(), deconRef)
    val refs = bound(ref, Some(deconRef))
    // epoch 0 creates the stores; epochs 1 and 2 repeat the steady
    // state: fresh docs, a clone, a quote of an admitted doc, junk, a
    // nonsense doc and a planted benchmark doc, so every gate drops
    def steady(e: Int) = pool.slice(2 * e + 1, 2 * e + 3) ++ Seq(
      (9100L + e, pool(2 * e)._2, pool(2 * e)._3),
      (9200L + e, quotes(e - 1)._1, quotes(e - 1)._2),
      (9300L + e, "en", junk), (9400L + e, "en", nonsense),
      planted(e - 1).copy(_1 = 9500L + e))
    val epochs = Seq(pool.take(3) :+ ((9001L, "en", junk)), steady(1), steady(2))
    val runs = epochs.zipWithIndex.map { case (docs, e) =>
      SparkJobs.compilesOf(jobsOf(s"curation-compiles-$e") {
        CurationAdmission.admit(docs.toDF("doc_id", "lang", "text"), e.toLong,
          refs, store, kept, audit)
      })
    }
    runs.drop(1).foreach { case ((row, _), _) =>
      assert(row.getAs[Long]("n_in") == 7 && row.getAs[Long]("drop_quality") == 1 &&
        row.getAs[Long]("drop_lm") == 1 && row.getAs[Long]("drop_dedup") == 1 &&
        row.getAs[Long]("drop_quote") == 1 && row.getAs[Long]("drop_decon") == 1 &&
        row.getAs[Long]("admitted") == 2, row.toString)
    }
    val ((_, jobs), compiles) = runs(2)
    info(s"compiles per epoch ${runs.map(_._2).mkString(", ")}; steady-state jobs $jobs")
    // the third epoch runs the plans the second one compiled: a plan
    // that embeds per-batch values, or a batch whose generated classes
    // outgrow the codegen cache, shows up here as a higher number
    assert(compiles <= SteadyStateCompiles,
      s"a steady-state micro-batch compiled $compiles classes, bound $SteadyStateCompiles")
  }

  test("references are bound at stream start: a rewrite under a bound reference fails loudly") {
    import spark.implicits._
    val ref = tmp("curb_ref")
    CurationAdmission.buildReference(spark, corpus, ref)
    val refs = bound(ref)
    val batch = Seq((9001L, "en", nonsense)).toDF("doc_id", "lang", "text")
    CurationAdmission.buildReference(spark, corpus, ref) // rewritten in place
    val e = intercept[Exception] {
      CurationAdmission.admit(batch, 0L, refs, tmp("curb_store"),
        tmp("curb_kept"), tmp("curb_audit"))
    }
    val chain = Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
      .map(t => s"${t.getClass.getName}: ${t.getMessage}").mkString(" / ")
    assert(chain.contains("FILE_NOT_EXIST") || chain.contains("FileNotFound"), chain)
    // a fresh binding reads the rewritten model
    val row = CurationAdmission.admit(batch, 0L, bound(ref), tmp("curb_store"),
      tmp("curb_kept"), tmp("curb_audit"))
    assert(row.getAs[Long]("drop_lm") == 1, row.toString)
  }

  test("readAudits reads mixed pre-/post-store_k audit tables under the pinned schema") {
    // pre-r16 audit epochs have no store_k column; a root read's
    // inferred schema then depends on which file wins — readAudits pins
    // the schema and defaults the missing column to 0 (r16 ADVICE)
    val audit = tmp("cur_audit3")
    def row(storeK: Option[Int]) = {
      val base = spark.range(1).select(
        lit(10L).as("n_in"), lit(1L).as("drop_quality"),
        lit(2L).as("drop_lm"), lit(3L).as("drop_dedup"),
        lit(0L).as("drop_quote"), lit(0L).as("drop_decon"),
        lit(4L).as("admitted"))
      storeK.map(k => base.withColumn("store_k", lit(k))).getOrElse(base)
    }
    row(None).write.parquet(s"$audit/epoch=0") // pre-r16 epoch
    row(Some(64)).write.parquet(s"$audit/epoch=1")
    val rows = CurationAdmission.readAudits(spark, audit)
      .orderBy("epoch").collect()
    assert(rows.length == 2)
    assert(rows(0).getAs[Int]("store_k") == 0, rows(0).toString)
    assert(rows(1).getAs[Int]("store_k") == 64, rows(1).toString)
    assert(rows.forall(r => r.getAs[Long]("n_in") == 10L &&
      r.getAs[Long]("admitted") == 4L))
  }
}
