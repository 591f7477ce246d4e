package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.functions.TextFunctions.{qualityScore, splitAssign, tokens, tokenBigrams, wordNgramsUdf}

/** Incremental maintenance of the lexical-index and corpus-LM artifact
  * families — the text-statistics member of the maintenance triad
  * ([[IndexMaintenance]] for ANN, [[DedupMaintenance]] for the pair
  * graph). When a stream appends a document segment, these artifacts
  * must refresh for O(delta), not O(corpus).
  *
  * Why that is possible without approximation: every table in the two
  * families is either
  *
  *   - ROW-LOCAL per doc (tokenized corpus, distinct 5-gram shingle
  *     relation): the delta's rows are computed alone and appended —
  *     base rows are untouched by construction; or
  *   - an ADDITIVE census (document-frequency census, bigram/unigram
  *     count tables): census(base ⊎ delta) = census(base) ⊎+ census
  *     (delta), merged by key-wise addition — an O(delta + touched
  *     keys) shuffle, never a corpus re-scan.
  *
  * So a refresh is provably EQUAL to a from-scratch rebuild (the spec
  * pins it bit-for-bit), not an approximation of one — the same
  * contract DedupMaintenance makes for labels.
  *
  * The one subtlety is LM SCORING policy, and it is a declared choice
  * the engine's two paths already embody: the streaming admission gate
  * scores against a FROZEN reference LM (CurationAdmission's
  * `buildReference`), so appended counts never move it; the batch
  * corpus-snapshot path re-derives conditional probabilities from the
  * merged counts (vocab-bounded arithmetic — [[BigramLm.lm]]), under
  * which a pre-existing doc's surprisal legitimately CHANGES. Scoring
  * delta docs only ([[scoreDocs]] over the delta) is the steady-state
  * cost; a report that must reflect the new model for every doc pays
  * the full re-score, exactly as CCNet re-runs its scoring pass per
  * corpus snapshot.
  *
  * Assumes append-only deltas with fresh doc ids (the streaming-ingest
  * contract NearDupAdmission enforces upstream).
  */
object CorpusStatsMaintenance {

  /** The persisted lexical-index artifacts: `docs` = (doc_id, t) the
    * tokenized corpus, `df` = (token, df) the document-frequency
    * census, `grams` = (doc_id, g) the distinct per-doc 5-gram shingle
    * relation — the staging tables behind q94/q99/q103 (BM25), q68/q107
    * (verbatim overlap), and the funnel's contamination gate. */
  final case class LexIndex(docs: DataFrame, df: DataFrame, grams: DataFrame)

  /** The persisted corpus-LM SUFFICIENT STATISTICS: `c2` = (bg, c2)
    * bigram counts, `c1` = (w1, c1) first-token counts. The conditional
    * LM (bg, p = c2/c1) is DERIVED vocab-bounded math, not a stored
    * table — so the counts are the only thing a refresh must maintain,
    * and they merge additively. */
  final case class BigramLm(c2: DataFrame, c1: DataFrame) {
    /** Conditional bigram probabilities under the current counts. */
    def lm: DataFrame = c2
      .withColumn("w1", substring_index(col("bg"), " ", 1))
      .join(c1, "w1")
      .select(col("bg"), (col("c2") / col("c1").cast("double")).as("p"))
  }

  private def tokenized(docs: DataFrame): DataFrame = docs
    .select(col("doc_id"), tokens(col("text")).as("t"))

  private def bigrams(docs: DataFrame): DataFrame = bigramStream(tokenized(docs))

  private def gramRelation(docs: DataFrame): DataFrame = docs
    .select(col("doc_id"),
      explode(array_distinct(wordNgramsUdf(5)(col("text")))).as("g"))

  // ---- the text-statistics kernels, one lazy definition each, called by
  // ---- the TextQueries artifact builders, this module and the funnel ----

  /** THE document-frequency census (token, df) of a tokenized (…, t)
    * frame — born distinct by the row-local `array_distinct`. */
  def dfCensus(toks: DataFrame): DataFrame = toks
    .select(explode(array_distinct(col("t"))).as("token"))
    .groupBy(col("token")).agg(count(lit(1)).as("df"))

  /** THE bigram stream (doc_id, carried…, bg) of a tokenized (doc_id,
    * carried…, t) frame; docs with < 2 tokens have no bigrams. */
  def bigramStream(toks: DataFrame, carried: String*): DataFrame = toks
    .filter(size(col("t")) >= 2)
    .select((col("doc_id") +: carried.map(col)) :+
      explode(tokenBigrams(col("t"))).as("bg"): _*)

  /** THE LM counts (c2 per bigram, c1 per first token) of a bigram stream. */
  def lmCounts(bg: DataFrame): BigramLm = BigramLm(
    bg.groupBy(col("bg")).agg(count(lit(1)).as("c2")),
    bg.groupBy(substring_index(col("bg"), " ", 1).as("w1"))
      .agg(count(lit(1)).as("c1")))

  /** THE mean surprisal `s` = avg(−ln p) per `keys` of a bigram stream
    * inner-joined with a conditional LM (bg, p). */
  def meanSurprisal(bg: DataFrame, lm: DataFrame, keys: String*): DataFrame =
    bg.join(lm, "bg")
      .groupBy(keys.map(col): _*)
      .agg(avg(-log(col("p"))).as("s"))

  /** Key-wise additive merge of two censuses sharing (key, count). */
  private def mergeCensus(a: DataFrame, b: DataFrame, key: String,
      cnt: String): DataFrame =
    a.unionByName(b).groupBy(col(key)).agg(sum(col(cnt)).as(cnt))

  /** From-scratch lexical index over (doc_id, text) — used for the
    * bootstrap AND as the refresh's equivalence oracle. */
  def buildLex(docs: DataFrame): LexIndex = {
    val toks = tokenized(docs).localCheckpoint()
    LexIndex(toks, dfCensus(toks).localCheckpoint(),
      gramRelation(docs).localCheckpoint())
  }

  /** Refresh for an appended `delta` (doc_id, text) with fresh ids:
    * the delta is tokenized/shingled ALONE (row-local), and the df
    * census merges by addition — base docs are never re-read. The
    * per-doc tables come back as LAZY unions over the materialized
    * segments (only the DELTA's rows are newly checkpointed): copying
    * the base rows into fresh storage would make the "incremental"
    * refresh O(corpus) — exactly the segment model the admission
    * stores' epoch directories use, where compaction (= a rebuild) is
    * a separate, deliberate maintenance action once the segment count
    * grows. Only the censuses — vocabulary-bounded, never corpus-sized
    * — are re-materialized per refresh. */
  def refreshLex(base: LexIndex, delta: DataFrame): LexIndex = {
    val toksD = tokenized(delta).localCheckpoint()
    LexIndex(
      base.docs.unionByName(toksD),
      mergeCensus(base.df, dfCensus(toksD), "token", "df").localCheckpoint(),
      base.grams.unionByName(gramRelation(delta).localCheckpoint()))
  }

  /** From-scratch LM count tables, persisted as mergeable counts — the
    * kernels TextQueries.corpusBigramLm calls. */
  def buildLm(docs: DataFrame): BigramLm = {
    val counts = lmCounts(bigrams(docs).localCheckpoint())
    BigramLm(counts.c2.localCheckpoint(), counts.c1.localCheckpoint())
  }

  /** Additive count refresh for an appended `delta` (doc_id, text):
    * the delta's bigram stream is censused alone and merged key-wise —
    * O(delta + touched vocab keys), no base re-scan. */
  def refreshLm(base: BigramLm, delta: DataFrame): BigramLm = {
    val countsD = lmCounts(bigrams(delta).localCheckpoint())
    BigramLm(
      mergeCensus(base.c2, countsD.c2, "bg", "c2").localCheckpoint(),
      mergeCensus(base.c1, countsD.c1, "w1", "c1").localCheckpoint())
  }

  /** Per-doc mean bigram surprisal of `docs` under `lm` — the q67/q98
    * scoring kernel; score the DELTA under the refreshed LM in steady
    * state, or the whole corpus when a snapshot report must reflect the
    * new model (the CCNet policy; see object doc). */
  def scoreDocs(docs: DataFrame, lm: DataFrame): DataFrame =
    meanSurprisal(bigrams(docs), lm, "doc_id")

  // ---- NB quality-classifier family (q92's sufficient statistics) ----

  /** THE labeled-tokenized corpus transform (doc_id, split, cls, toks)
    * over raw (…, doc_id, text) docs — one definition shared by the q92
    * artifact builder ([[TextQueries.nbQualityScored]]'s `nblabeled`
    * store entry) and the incremental NB maintenance below, so the
    * labeling threshold and split policy can never drift between the
    * batch snapshot and the maintained counts.
    */
  def nbLabeled(docs: DataFrame): DataFrame = docs
    .withColumn("split", splitAssign(col("doc_id")))
    .withColumn("cls",
      when(qualityScore(col("text")) >= 0.8, "hi").otherwise("lo"))
    .select(col("doc_id"), col("split"), col("cls"),
      tokens(col("text")).as("toks"))

  /** The multinomial-NB SUFFICIENT STATISTICS: `docs` = the labeled
    * tokenized corpus (row-local per doc), `tf` = (token, tf_hi, tf_lo)
    * TRAIN-split per-class occurrence counts — a two-column additive
    * census — and the class priors `dHi`/`dLo` (train doc counts,
    * plain additive longs). Everything q92's scorer derives (class
    * totals, vocabulary size, the (0+1)-smoothed per-type log-ratio
    * model, the UNK constant, the prior log-odds) is vocab-bounded
    * arithmetic over exactly these counts, so maintaining them additively
    * maintains the classifier: identical counts ⇒ identical model ⇒
    * identical margins, with no approximation step anywhere.
    */
  final case class NbStats(docs: DataFrame, tf: DataFrame,
      dHi: Long, dLo: Long)

  /** THE train-split per-class token census (token, tf_hi, tf_lo) of a
    * [[nbLabeled]] corpus — q92's model counts and the maintained `tf`. */
  def nbTf(labeled: DataFrame): DataFrame = labeled
    .filter(col("split") === "train")
    .select(explode(col("toks")).as("token"), col("cls"))
    .groupBy(col("token"))
    .agg(sum(when(col("cls") === "hi", 1L).otherwise(0L)).as("tf_hi"),
      sum(when(col("cls") === "lo", 1L).otherwise(0L)).as("tf_lo"))

  private def nbPriors(labeled: DataFrame): (Long, Long) = {
    // sum() over an empty frame is NULL, and an empty delta segment is
    // legal — coalesce to 0 so the additive merge stays total
    val r = labeled.filter(col("split") === "train")
      .agg(coalesce(sum(when(col("cls") === "hi", 1L).otherwise(0L)), lit(0L)),
        coalesce(sum(when(col("cls") === "lo", 1L).otherwise(0L)), lit(0L)))
      .collect().head
    (r.getLong(0), r.getLong(1))
  }

  /** From-scratch NB statistics over (…, doc_id, text) docs — bootstrap
    * AND the refresh's equivalence oracle. */
  def buildNb(docs: DataFrame): NbStats = {
    val labeled = nbLabeled(docs).localCheckpoint()
    val (dHi, dLo) = nbPriors(labeled)
    NbStats(labeled, nbTf(labeled).localCheckpoint(), dHi, dLo)
  }

  /** Refresh for an appended `delta` with fresh ids: the delta is
    * labeled/tokenized ALONE (row-local; the corpus table comes back as
    * a lazy union over the materialized segments, like the lexical
    * per-doc tables), the per-class token census merges by key-wise
    * addition over both count columns, and the priors add — O(delta +
    * touched vocab keys), never a base re-scan. */
  def refreshNb(base: NbStats, delta: DataFrame): NbStats = {
    val labeledD = nbLabeled(delta).localCheckpoint()
    val (dHi, dLo) = nbPriors(labeledD)
    val tf = base.tf.unionByName(nbTf(labeledD))
      .groupBy(col("token"))
      .agg(sum(col("tf_hi")).as("tf_hi"), sum(col("tf_lo")).as("tf_lo"))
      .localCheckpoint()
    NbStats(base.docs.unionByName(labeledD), tf,
      base.dHi + dHi, base.dLo + dLo)
  }

  // ---- duplicated-span audit family (q117's staging tables) ----

  /** q117's staging tables: `wins` = the stride-1 10-token window
    * relation (doc_id, i, h) — ROW-LOCAL per doc; `census` = (h, ndocs)
    * DISTINCT-DOC counts per window hash. The census is additive across
    * segments for a subtler reason than the df census: distinct counts
    * don't sum in general, but segment doc-id sets are DISJOINT (the
    * fresh-ids ingest contract), so |docs(h)| over base ⊎ delta is
    * exactly the key-wise sum of per-segment distinct counts. */
  final case class SpanIndex(wins: DataFrame, census: DataFrame)

  /** A span refresh names the docs whose verdicts may have MOVED: unlike
    * the df/LM censuses (whose consumers re-score explicitly), the span
    * audit flags docs, and an appended segment can flip an OLD doc's flag
    * (a window unique yesterday is duplicated once a new doc quotes it).
    * `affected` = every delta doc plus every base doc sharing a window
    * hash with the delta — provably the only docs whose spans can differ
    * from the previous report. */
  final case class SpanRefresh(index: SpanIndex, affected: DataFrame)

  /** THE stride-1 window-hash relation (doc_id, i, h) over (doc_id,
    * text) docs — the one definition of the span-dedup key, shared by
    * this census, the streaming quote gate
    * ([[graft.streaming.QuoteAdmission]]), and pinned against q117's
    * inline form by the maintenance/gate specs: a tokenizer, width, or
    * hash-separator change lands everywhere or nowhere.
    */
  def windowHashes(docs: DataFrame, window: Int = 10): DataFrame = docs
    .select(col("doc_id"), tokens(col("text")).as("t"))
    .filter(size(col("t")) >= window)
    .select(col("doc_id"),
      explode(sequence(lit(1), size(col("t")) - (window - 1))).as("i"),
      col("t"))
    .select(col("doc_id"), col("i"),
      md5(array_join(slice(col("t"), col("i"), lit(window)), " ")).as("h"))

  private def spanCensus(wins: DataFrame): DataFrame = wins
    .select(col("h"), col("doc_id")).distinct()
    .groupBy(col("h")).agg(count(lit(1)).as("ndocs"))

  /** From-scratch span index over (doc_id, text) — bootstrap AND the
    * refresh's equivalence oracle. */
  def buildSpans(docs: DataFrame): SpanIndex = {
    val w = windowHashes(docs).localCheckpoint()
    SpanIndex(w, spanCensus(w).localCheckpoint())
  }

  /** Refresh for an appended `delta` (doc_id, text) with fresh ids: the
    * delta is windowed alone (row-local, appended lazily like the
    * lexical per-doc tables), the census merges by key-wise addition,
    * and the touched-hash set names the affected docs — O(delta +
    * touched keys + affected rows), never a base re-window. */
  def refreshSpans(base: SpanIndex, delta: DataFrame): SpanRefresh = {
    val winsD = windowHashes(delta).localCheckpoint()
    val touched = winsD.select(col("h")).distinct()
    val affected = base.wins.join(touched, "h").select(col("doc_id"))
      .unionByName(winsD.select(col("doc_id")))
      .distinct().localCheckpoint()
    SpanRefresh(
      SpanIndex(
        base.wins.unionByName(winsD),
        mergeCensus(base.census, spanCensus(winsD), "h", "ndocs")
          .localCheckpoint()),
      affected)
  }

  /** Per-doc longest duplicated run under the index — q117's islands
    * kernel: (doc_id, maxrun) for docs holding at least one duplicated
    * window (span tokens = maxrun + 9; absent docs have none). Pass
    * `only` to re-score just the affected docs after a refresh — the
    * steady-state incremental path (the spec pins old-report ⊎ rescored
    * == rebuild, doc for doc). */
  def spanRuns(idx: SpanIndex, only: Option[DataFrame] = None): DataFrame = {
    val wins = only.fold(idx.wins)(docs => idx.wins.join(docs, "doc_id"))
    wins.join(idx.census, "h").filter(col("ndocs") >= 2)
      .select(col("doc_id"), col("i"))
      .withColumn("grp", col("i") - org.apache.spark.sql.functions.row_number()
        .over(org.apache.spark.sql.expressions.Window
          .partitionBy("doc_id").orderBy("i")))
      .groupBy(col("doc_id"), col("grp"))
      .agg(count(lit(1)).as("run"))
      .groupBy(col("doc_id"))
      .agg(max(col("run")).as("maxrun"))
  }

  /** q120's decontamination bitset as a maintained artifact: the
    * 32-bit-lane `words` table, the FROZEN width `m`, and the gram
    * count the next refresh sizes against. Bloom inserts are bit_or —
    * commutative AND idempotent — so under a frozen width the bitset of
    * base ∪ delta IS the key-wise OR of the two builds: a refresh
    * equals a rebuild exactly, even when delta grams overlap base
    * grams. The one staleness axis is the WIDTH (sized 16× grams at
    * build): a grown benchmark degrades the FP rate deterministically,
    * so the refresh carries the same arithmetic rebuild signal as
    * SRP's bucket width. `grams` may OVERCOUNT across overlapping
    * deltas (a bitset cannot count distinct members) — conservative by
    * direction: it can only recommend the rebuild early, never late.
    */
  final case class BloomIndex(words: DataFrame, m: Long, grams: Long)

  final case class BloomRefreshReport(mode: String, newGrams: Long,
      frozenWidth: Long, widthNow: Long)

  /** Words table of a gram set under an EXPLICIT width — the bootstrap
    * builder's body, and the refresh-equivalence oracle (a rebuild
    * compared against a refresh must hold the width fixed). */
  def buildBloomAt(bench: DataFrame, m: Long): DataFrame =
    TextQueries.bloomWordRows(bench.select(col("g")).distinct(), m)
      .localCheckpoint()

  /** THE Bloom sizing of a DISTINCT (g) gram set: count it, size the
    * width ([[TextQueries.bloomWidthFor]]), hash every gram in (lazy). */
  def bloomIndexOf(grams: DataFrame): BloomIndex = {
    val n = grams.count()
    val m = TextQueries.bloomWidthFor(n)
    BloomIndex(TextQueries.bloomWordRows(grams, m), m, n)
  }

  /** Bootstrap build over a (g) benchmark-gram frame: size the width
    * from the distinct count, hash every gram in. */
  def buildBloom(bench: DataFrame): BloomIndex = {
    val idx = bloomIndexOf(bench.select(col("g")).distinct())
    idx.copy(words = idx.words.localCheckpoint())
  }

  /** Refresh for appended benchmark grams (a new eval suite joining the
    * decontamination set): the delta hashes ALONE under the frozen
    * width (one kernel definition with q120 — TextQueries.bloomPos/
    * bloomLane/bloomWordRows) and merges by key-wise bit_or; base grams
    * are never re-hashed. O(|delta| + m/32) per refresh. */
  def refreshBloom(base: BloomIndex, deltaGrams: DataFrame)
      : (BloomIndex, BloomRefreshReport) = {
    val nD = deltaGrams.select(col("g")).distinct().count()
    val words = base.words.unionByName(buildBloomAt(deltaGrams, base.m))
      .groupBy(col("w")).agg(bit_or(col("bits")).as("bits"))
      .localCheckpoint()
    val grams = base.grams + nD
    val widthNow = TextQueries.bloomWidthFor(grams)
    (BloomIndex(words, base.m, grams),
      BloomRefreshReport(
        if (widthNow == base.m) "incremental" else "rebuild",
        nD, base.m, widthNow))
  }
}
