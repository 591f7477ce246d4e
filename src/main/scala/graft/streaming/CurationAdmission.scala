package graft.streaming

import org.apache.spark.sql.{DataFrame, Observation, Row, SparkSession}
import org.apache.spark.sql.catalyst.expressions.GenericRowWithSchema
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.DataStreamWriter
import org.apache.spark.sql.types.{IntegerType, LongType, StructField, StructType}
import graft.functions.TextFunctions._
import graft.operators.CorpusStatsMaintenance

/** Streaming curation admission — the streaming twin of the q100 batch
  * funnel: every micro-batch of incoming documents passes the same gate
  * sequence a pretraining-data pipeline applies before a doc may enter
  * the corpus, with per-epoch drop accounting:
  *
  *   1. quality   — q25 composite score below the floor (row-local);
  *   2. lm_tail   — per-doc mean bigram surprisal above the per-lang
  *                  tail cutoff of a FROZEN reference LM (trained once
  *                  offline by [[buildReference]] — a stream must score
  *                  against a fixed model, not a model that drifts with
  *                  every batch). A scoreable doc whose language has NO
  *                  reference cutoff also drops here (conservative: it
  *                  cannot be judged against the frozen model, and an
  *                  unknown/garbled lang code is exactly what this gate
  *                  exists to stop). Docs with < 2 tokens have no LM
  *                  score and pass, as in q100;
  *   3. dedup     — near-duplicates the admitted store or a lower-id
  *                  batch sibling (delegated to [[NearDupAdmission]],
  *                  whose band store and idempotent epoch layout this
  *                  funnel reuses unchanged);
  *   4. quote     — contains a verbatim quote (>= quoteSpan consecutive
  *                  tokens, q117's span semantics) of the admitted
  *                  corpus or a lower-id batch sibling (delegated to
  *                  [[QuoteAdmission]] — the streaming analogue of
  *                  q100's q68 contamination gate). Runs AFTER dedup so
  *                  an exact clone is attributed to dedup, a contained
  *                  quote to this gate, matching the batch funnel's
  *                  first-gate-catches attribution;
  *   5. decon     — OPTIONAL (armed by `benchRefPath`): Bloom
  *                  hit-fraction overlap with the frozen benchmark
  *                  bitset (q120/q123's judgment — the q100
  *                  held-out-contamination stage in its 100 TB form,
  *                  delegated to [[DecontaminationAdmission]]'s
  *                  artifacts). Runs last so every upstream gate keeps
  *                  its attribution.
  *
  * Scale shape: the quality gate is row-local column math; the LM gate
  * is a shuffle join on the bigram key (the LM table is O(V²)-unbounded
  * — q67's rationale — so it is deliberately NOT broadcast) plus a
  * broadcast of the per-lang cutoff table (bounded by languages); the
  * dedup gate inherits NearDupAdmission's bucket-join shape; the quote
  * gate joins the window-hash census on its key and runs its islands
  * window per doc. Per-epoch audit rows overwrite a deterministic
  * `epoch=<batchId>` dir, so a retried batch reproduces its accounting
  * instead of double-counting.
  */
object CurationAdmission {

  /** Train the frozen reference artifacts from a bootstrap corpus:
    * `lm/` (bg, p) conditional bigram probabilities, `cutoffs/`
    * (lang, cut) tail-tercile surprisal boundaries (the q98 bucket-2/3
    * edge), and `params/` (punk) — the unseen-bigram penalty
    * probability 1/(n_bigrams + 1), pinned at train time so scoring is
    * deterministic forever after.
    */
  def buildReference(s: SparkSession, corpusDir: String, refPath: String): Unit = {
    // ONE definition of tokenizer + LM math, shared with the batch
    // funnel's artifact (TextQueries.corpusBigramLm) — the stream must
    // score against the same model family it twins
    val (bg, lm) = graft.operators.TextQueries.corpusBigramLm(s, corpusDir)
    lm.write.mode("overwrite").parquet(s"$refPath/lm")
    val per = CorpusStatsMaintenance.meanSurprisal(bg, lm, "doc_id", "lang")
      .localCheckpoint() // ccnetTerciles reads it census-, tie- and assignment-side
    // tail cutoff = the q98 bucket-2/3 edge under the same (round-6 s,
    // doc_id) rank key, via the SAME two-phase broadcast-cutoff tercile
    // the batch funnel uses (TextQueries.ccnetTerciles) — no task ever
    // sorts a language's whole bootstrap corpus, and the stream's gate
    // can never drift from the batch gate it twins
    graft.operators.TextQueries.ccnetTerciles(per)
      .filter(col("bucket") <= 2)
      .groupBy(col("lang")).agg(max(col("s")).as("cut"))
      .write.mode("overwrite").parquet(s"$refPath/cutoffs")
    val nbg = bg.count()
    s.range(1).select((lit(1.0) / (lit(nbg) + lit(1)).cast("double")).as("punk"))
      .write.mode("overwrite").parquet(s"$refPath/params")
    // release the per-doc checkpoint once the reference artifacts are on
    // disk, so a long-lived session that trains the reference and then
    // drives admission doesn't pin it forever (bg is a lazy plan over the
    // lexdocs artifact: nothing of its own to release)
    graft.ArtifactStore.releaseCheckpoints(per)
  }

  /** The frozen references one stream judges against, bound once: the
    * bigram LM and per-lang cutoffs as frames over the reference files
    * (their file listing and schema are fixed at [[Reference.load]]),
    * the unseen-bigram penalty `punk`, and — when the fifth gate is
    * armed — the benchmark Bloom bitset. */
  final case class Reference(lm: DataFrame, cuts: DataFrame, punk: Double,
      bench: Option[CorpusStatsMaintenance.BloomIndex])

  object Reference {
    /** Load the artifacts [[buildReference]] (and, for `benchRefPath`,
      * [[DecontaminationAdmission.buildReference]]) wrote. */
    def load(s: SparkSession, refPath: String,
        benchRefPath: Option[String] = None): Reference =
      Reference(graft.Tables.readParquet(s, s"$refPath/lm"),
        graft.Tables.readParquet(s, s"$refPath/cutoffs"),
        graft.Tables.readParquet(s, s"$refPath/params").head.getDouble(0),
        benchRefPath.map(DecontaminationAdmission.readReference(s, _)))
  }

  /** The audit row's columns, ONE definition for the row [[admit]]
    * builds and writes and the pinned schema [[readAudits]] reads with.
    * The epoch value lives ONLY in the partition directory — writing it
    * as a data column too would be shadowed (and silently retyped to
    * int) by partition discovery on any root read of the audit table. */
  private val AuditSchema = StructType(Seq(
    StructField("n_in", LongType), StructField("drop_quality", LongType),
    StructField("drop_lm", LongType), StructField("drop_dedup", LongType),
    StructField("drop_quote", LongType), StructField("drop_decon", LongType),
    StructField("admitted", LongType), StructField("store_k", IntegerType)))

  /** One epoch of the funnel. `batch` = (doc_id, lang, text). Returns the
    * audit row it also persists: (epoch, n_in, drop_quality, drop_lm,
    * drop_dedup, drop_quote, drop_decon, admitted, store_k) — store_k
    * is the dedup store's stamped fan-out (0 when the epoch appended
    * nothing); the byte-level width signal is returned by the gates
    * themselves, not persisted (the audit row must stay
    * retry-deterministic and store bytes grow between a write and a
    * late retry).
    *
    * `ref.bench`, when set, arms a FIFTH gate — benchmark
    * decontamination (the batch funnel q100's held-out-overlap stage in
    * its 100 TB Bloom form, [[DecontaminationAdmission]]'s judgment
    * verbatim): a doc whose distinct-5-gram Bloom hit fraction against
    * the frozen eval-suite bitset exceeds `maxHitFrac` drops, attributed
    * LAST (a clone of a contaminated doc is a dedup drop — first gate
    * catches). None keeps the four-gate funnel byte-identical.
    *
    * Every gate count is a named `Dataset.observe` metric on the
    * checkpoint that materialises that gate's survivors anyway, so
    * counting costs no Spark job; the near-dup survivors arrive in
    * memory from [[NearDupAdmission.judge]]. The LM verdict rides on the
    * near-dup gate's first checkpoint and the decontamination verdict on
    * the quote gate's: each drop-id set is anti-joined in its gate's
    * order and counted after its join, so attribution stays
    * first-gate-catches.
    */
  def admit(batch: DataFrame, batchId: Long, ref: Reference,
            storePath: String, keptPath: String, auditPath: String,
            qualityFloor: Double = 0.72, quoteSpan: Int = 20,
            maxHitFrac: Double = 0.05): Row = {
    val s = batch.sparkSession
    def obs(name: String) = Observation(s"curation.$name:$batchId")
    def passing(df: DataFrame, o: Observation, name: String) =
      df.observe(o, count(lit(1)).as(name))
    def n(o: Observation) = AdmissionStore.observed(o).getLong(0)

    // gate 1: the row-local quality score, counted on the checkpoint
    // that reads the micro-batch once (gates 1 and 2 both read it)
    val qualityObs = obs("quality_ok")
    val scored = batch
      .withColumn("q", qualityScore(col("text")))
      .observe(qualityObs, count(lit(1)).as("n_in"),
        count(when(col("q") >= qualityFloor, true)).as("quality_ok"))
      .localCheckpoint()
    val quality = AdmissionStore.observed(qualityObs)
    val nIn = quality.getLong(0)
    val qualOk = scored.filter(col("q") >= qualityFloor)
    val dropQuality = nIn - quality.getLong(1)

    // gate 2, the LM gate against the frozen reference: shuffle join on
    // the bigram key; unseen bigrams pay the pinned punk penalty.
    // The SAME bigram stream the reference LM was trained on
    // (bigramStream) — a drifted inline copy here would silently miss
    // the whole LM and punk-drop all traffic
    val surprisal = CorpusStatsMaintenance.bigramStream(
        qualOk.select(col("doc_id"), col("lang"), tokens(col("text")).as("t")),
        "lang")
      .join(ref.lm, Seq("bg"), "left")
      .withColumn("p", coalesce(col("p"), lit(ref.punk)))
      .groupBy(col("doc_id"), col("lang"))
      .agg(avg(-log(col("p"))).as("s"))
    // LEFT join: a doc whose language has no reference cutoff cannot be
    // scored against the frozen model — it DROPS (conservative; an
    // unknown/garbled lang code is exactly the doc this gate exists to
    // stop, since all its bigrams pay punk and max out surprisal)
    val lmDropIds = surprisal.join(broadcast(ref.cuts), Seq("lang"), "left")
      .filter(col("cut").isNull || col("s") > col("cut"))
      .select(col("doc_id"))
    // its survivors are counted on the dedup gate's own checkpoint
    val lmObs = obs("lm_ok")
    val lmOk = passing(qualOk.join(
      AdmissionGate.broadcastIfSmall(lmDropIds, nIn - dropQuality),
      Seq("doc_id"), "left_anti"), lmObs, "lm_ok")

    // dedup gate: the near-dup admission component, store shared as-is;
    // its survivors come back in memory, counted. The width signals ride
    // into this epoch's audit row (max bucket bytes across the gate's
    // tables vs the layout target — the SRP/Bloom width-report pattern,
    // r16 lifecycle): the stream's own accounting says when the store
    // has outgrown its fan-out, instead of an operator discovering it
    // from degraded pruning.
    val dedup = NearDupAdmission.judge(
      lmOk.select(col("doc_id"), col("text")), batchId, storePath)
    val nAfterLm = n(lmObs)
    val dropLm = (nIn - dropQuality) - nAfterLm
    val dedupKept = dedup.survivors
    val dropDedup = nAfterLm - dedup.admitted

    // verbatim-quote gate (the streaming analogue of q100's q68
    // contamination gate, q117's span semantics): AFTER dedup, matching
    // the batch funnel's attribution — an exact clone is a dedup drop,
    // not a quote drop. The final survivor set is the epoch's kept dir,
    // and only FINAL survivors publish window census. Known subtlety, by
    // design: the near-dup store has already accumulated fingerprints of
    // docs the quote gate then drops — a future near-variant of a
    // quote-dropped doc stays blocked (conservative; the quoted content
    // cannot re-enter via a paraphrase of the dropped doc either).
    val wins = QuoteAdmission.windowsOf(dedupKept, storePath)
    val quoteDropIds = QuoteAdmission.quoteDrops(wins, batchId, quoteSpan)

    // benchmark decontamination gate (armed by ref.bench): the SAME
    // per-doc judgment DecontaminationAdmission runs (ONE definition —
    // hitFractions; see its doc for why a fraction, not any-hit). It
    // judges each doc on its own, so it judges the dedup survivors in
    // the quote gate's plan, and its drop ids are anti-joined after the
    // quote gate's: upstream gates keep their attribution. Drops land
    // before the census publish, so the quote store only ever covers
    // FINAL survivors. Unarmed, the four-gate funnel runs no extra join.
    val quoteObs = obs("quote_ok")
    val afterQuote = passing(dedupKept.join(
      AdmissionGate.broadcastIfSmall(quoteDropIds, dedup.admitted),
      Seq("doc_id"), "left_anti"), quoteObs, "quote_ok")
    val deconObs = ref.bench.map(_ => obs("decon_ok"))
    val finalKept = ref.bench.zip(deconObs).fold(afterQuote) { case (bloom, o) =>
      val dropIds = DecontaminationAdmission.hitFractions(dedupKept, bloom)
        .filter(col("frac") > maxHitFrac).select(col("doc_id"))
      passing(afterQuote.join(AdmissionGate.broadcastIfSmall(dropIds, dedup.admitted),
        Seq("doc_id"), "left_anti"), o, "decon_ok")
    }.localCheckpoint()
    val nAfterQuote = n(quoteObs)
    val dropQuote = dedup.admitted - nAfterQuote
    val admitted = deconObs.fold(nAfterQuote)(n)
    val dropDecon = nAfterQuote - admitted
    AdmissionGate.keep(finalKept, keptPath, batchId)
    QuoteAdmission.publishCensus(wins,
      AdmissionGate.broadcastIfSmall(finalKept.select(col("doc_id")), admitted),
      batchId, storePath)

    // the audit row stays RETRY-DETERMINISTIC (a replayed epoch must
    // reproduce it bit-for-bit — the spec's idempotence contract), so
    // it carries only the stamped fan-out K; the byte-level width
    // figure is time-varying (the store keeps growing between a write
    // and its retry) and lives in the gates' RETURNED signals and
    // maintain() reports instead. Scope, stated: K itself only moves
    // under an offline re-bucket, which is documented as
    // not-concurrent-with-the-stream — a retry AFTER a mid-outage
    // re-bucket legitimately reports the new K (the store it actually
    // wrote into), the one sanctioned divergence
    val storeK = if (dedup.signals.isEmpty) 0 else dedup.signals.map(_.k).max
    val audit = Row(nIn, dropQuality, dropLm, dropDedup, dropQuote,
      dropDecon, admitted, storeK)
    s.createDataFrame(java.util.List.of(audit), AuditSchema)
      .write.mode("overwrite").parquet(s"$auditPath/epoch=$batchId")
    new GenericRowWithSchema((batchId +: audit.toSeq).toArray,
      StructType(StructField("epoch", LongType) +: AuditSchema.fields))
  }

  /** Read an audit table under the PINNED schema — the one safe way to
    * read audits that span the r16 `store_k` addition: parquet root
    * reads don't merge schemas by default, so a mixed table would
    * surface store_k as null-or-absent depending on which file supplied
    * the inferred schema (NPE-on-getAs at worst). The explicit schema
    * makes pre-store_k epochs read as null, coalesced to 0 — "0 = the
    * epoch appended nothing" already means "no fan-out observed", which
    * is exactly true of an epoch written before the stamp existed. */
  def readAudits(s: SparkSession, auditPath: String): DataFrame =
    s.read.schema(AuditSchema.add("epoch", LongType)) // the partition column, by name
      .parquet(auditPath).na.fill(0, Seq("store_k"))

  /** Wire as a streaming sink over a (doc_id, lang, text) stream.
    *
    * The references are bound at stream start ([[Reference.load]]), not
    * re-read per batch: every micro-batch of one run judges against the
    * same model. A reference rewrite (a new [[buildReference]] into
    * `refPath` or `benchRefPath`) takes effect at the next start; a
    * rewrite under a running stream fails its next batch loudly on the
    * replaced files (the bound frames still list the files they were
    * loaded with) instead of mixing two models in one run.
    */
  def stream(docs: DataFrame, refPath: String, storePath: String,
             keptPath: String, auditPath: String, checkpoint: String,
             qualityFloor: Double = 0.72, quoteSpan: Int = 20,
             benchRefPath: Option[String] = None,
             maxHitFrac: Double = 0.05): DataStreamWriter[Row] = {
    val ref = Reference.load(docs.sparkSession, refPath, benchRefPath)
    AdmissionGate.wire(docs, checkpoint) { (batch, id) =>
      admit(batch, id, ref, storePath, keptPath, auditPath,
        qualityFloor, quoteSpan, maxHitFrac)
    }
  }
}
