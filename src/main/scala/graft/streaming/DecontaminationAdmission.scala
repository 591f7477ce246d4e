package graft.streaming

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.DataStreamWriter
import graft.operators.{CorpusStatsMaintenance, TextQueries}
import graft.functions.TextFunctions.wordNgramsUdf

/** Streaming benchmark decontamination — the streaming form of
  * q120/q123 and the sixth admission gate (NearDup, Embedding, Quote,
  * Curation, Semantic): an incoming document is admitted iff the
  * fraction of its distinct 5-grams that hit the FROZEN benchmark Bloom
  * bitset stays under `maxHitFrac`.
  *
  * Unlike the other gates this one is STATELESS per batch: the
  * reference set is the benchmark (held-out eval suites), not the
  * accumulated corpus, so there is no growing store and no compaction —
  * just the persisted bitset artifacts
  * ([[CorpusStatsMaintenance.BloomIndex]]: an m/32-row 32-bit-lane words
  * table + its frozen width), built once by [[buildReference]], bound
  * once per stream and broadcast to every batch. A new eval suite joins
  * the set through [[CorpusStatsMaintenance.refreshBloom]] + a reference
  * rewrite — the maintenance family's frozen-width/rebuild lifecycle
  * applies verbatim.
  *
  * Why a FRACTION, not any-hit: at the 16×/k=4 sizing the per-gram
  * false-positive rate is ~0.24% ((1−e^(−1/4))⁴), so a clean 1000-gram
  * document collects ~2.4 scattered FP hits with near-certainty — an
  * any-hit policy would drop essentially every long document on noise.
  * True contamination is a CONTIGUOUS run of benchmark grams (a quoted
  * eval item), which pushes the hit fraction orders of magnitude above
  * the FP floor; the default 5% cut sits ~20 binomial standard
  * deviations above it (the q120 audit columns are how a batch pipeline
  * MEASURES that floor on its own corpus). Documents with no 5-gram at
  * all (< 5 tokens) carry nothing a benchmark gram could match and pass.
  *
  * Scale shape: the probe path is q123's verbatim —
  * [[TextQueries.bloomProbeHits]], one codegen'd md5 per gram sliced
  * into k=4 chained broadcast lane lookups, no shuffle until the
  * per-doc partial agg. Per-epoch audit rows (n_in, n_dropped, the kept
  * and dropped hit-fraction extremes) overwrite a deterministic
  * `epoch=<batchId>` dir; the gate is deterministic given the bitset,
  * so retried batches are idempotent.
  */
object DecontaminationAdmission {

  /** Persist the frozen benchmark bitset from a (g) benchmark-gram
    * frame: `words/` lane table + `meta/` (m, grams) — the counts the
    * refresh lifecycle sizes against. */
  def buildReference(bench: DataFrame, refPath: String): Unit = {
    val s = bench.sparkSession
    import s.implicits._
    val idx = CorpusStatsMaintenance.buildBloom(bench)
    idx.words.write.mode("overwrite").parquet(s"$refPath/words")
    Seq((idx.m, idx.grams)).toDF("m", "grams")
      .write.mode("overwrite").parquet(s"$refPath/meta")
  }

  /** Re-read the persisted artifacts as a live index (e.g. to
    * refreshBloom a new eval suite into them and rewrite). */
  def readReference(s: SparkSession, refPath: String)
      : CorpusStatsMaintenance.BloomIndex = {
    val meta = graft.Tables.readParquet(s, s"$refPath/meta").head()
    CorpusStatsMaintenance.BloomIndex(
      graft.Tables.readParquet(s, s"$refPath/words"),
      meta.getAs[Long]("m"), meta.getAs[Long]("grams"))
  }

  /** The per-doc judgment, ONE definition for this gate and the curation
    * funnel's armed fifth gate: (doc_id, n_grams, n_hits, frac) over a
    * (doc_id, text) frame — distinct 5-grams probed against the bitset,
    * hit fraction per doc. Gramless docs (< 5 tokens) emit no row. */
  private[streaming] def hitFractions(docs: DataFrame,
      ref: CorpusStatsMaintenance.BloomIndex): DataFrame =
    TextQueries.bloomProbeHits(
        docs.select(col("doc_id"),
          explode(array_distinct(wordNgramsUdf(5)(col("text")))).as("g")),
        ref.words, ref.m)
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_grams"),
        sum(col("hit")).cast("long").as("n_hits"))
      .withColumn("frac", col("n_hits").cast("double") / col("n_grams"))

  /** One epoch against `ref`, the benchmark bitset [[stream]] bound
    * (or [[readReference]] read). */
  def admit(batch: DataFrame, batchId: Long,
            ref: CorpusStatsMaintenance.BloomIndex, keptPath: String,
            auditPath: String, maxHitFrac: Double = 0.05): Unit = {
    val docs = batch.select(col("doc_id"), col("text")).localCheckpoint()
    val fracs = hitFractions(docs, ref)
    // gramless docs (< 5 tokens) have nothing a benchmark gram could
    // match: left join → null frac → kept
    val judged = docs.join(fracs, Seq("doc_id"), "left")
      .withColumn("drop", coalesce(col("frac") > maxHitFrac, lit(false)))
      .localCheckpoint()
    AdmissionGate.keep(judged.filter(!col("drop")).select(col("doc_id"), col("text")),
      keptPath, batchId)
    judged.agg(count(lit(1)).as("n_in"),
        sum(when(col("drop"), 1L).otherwise(0L)).as("n_dropped"),
        round(max(when(!col("drop"), col("frac"))), 4).as("max_kept_frac"),
        round(min(when(col("drop"), col("frac"))), 4).as("min_dropped_frac"))
      .write.mode("overwrite").parquet(s"$auditPath/epoch=$batchId")
  }

  /** Wire as a streaming sink over a (doc_id, text) stream against the
    * persisted benchmark bitset.
    *
    * The bitset is bound at stream start ([[readReference]]), not re-read
    * per batch: every micro-batch of one run judges against the same
    * bitset. A reference rewrite takes effect at the next start; a
    * rewrite under a running stream fails its next batch loudly on the
    * replaced files (the bound frame still lists the files it was read
    * with) instead of mixing two bitsets in one run. */
  def stream(docs: DataFrame, refPath: String, keptPath: String,
             auditPath: String, checkpoint: String,
             maxHitFrac: Double = 0.05): DataStreamWriter[Row] = {
    val ref = readReference(docs.sparkSession, refPath)
    AdmissionGate.wire(docs, checkpoint) { (batch, id) =>
      admit(batch, id, ref, keptPath, auditPath, maxHitFrac)
    }
  }
}
