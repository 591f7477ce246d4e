package graft

import java.nio.file.{Files, Path}
import java.nio.charset.StandardCharsets
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import org.scalatest.funsuite.AnyFunSuite
import graft.sources.{LedgerMaintenance, LedgerSource}
import graft.streaming.{AdmissionStore, CurationAdmission, DecontaminationAdmission, NearDupAdmission, QuoteAdmission}

/** End-to-end soak of the COMPOSED curation path: the graft-ledger DSv2
  * source (rate-limited, json-decoded) feeding the full streaming
  * curation funnel (quality → frozen-LM → near-dup → quote → ARMED
  * benchmark-decontamination gates — all five, r15) across ~48
  * rate-limited micro-batches in three run cycles, with the source aged
  * by LedgerMaintenance retention after every cycle, the dedup band
  * store compacted mid-stream, one HARD mid-flight kill (q.stop()
  * during processing) and graceful checkpoint restarts at each cycle
  * boundary — the reference's recovery drill (ViestiTestSuite.scala:
  * 48-111 kills a running job and re-runs from the checkpoint) applied
  * to the whole pipeline rather than the source alone. Depth is sized
  * to the funnel's ~1.7 s-per-batch cost (each batch runs the full
  * three-gate pipeline plus three idempotent parquet epoch writes) so
  * the suite stays under the 120 s budget; offset-churn depth beyond
  * this is covered by the source-only kill/resume soak in
  * LedgerSourceSpec, which runs hundreds of batches cheaply because it
  * skips the funnel.
  *
  * Invariants asserted at the end of the churn:
  *   - admission-report conservation: Σ audit.n_in == entries fed, and
  *     every epoch row conserves (n_in = drops + admitted) — exactly-once
  *     from ledger entry to audit row through kills AND retention;
  *   - no document admitted twice; no clone or junk sentinel id admitted;
  *   - the band store's epoch-partition count stays bounded by the
  *     compaction interval (compaction leaves exactly one base epoch);
  *   - retention genuinely deleted consumed segments and the stream
  *     still lost nothing.
  */
class CurationSoakSpec extends AnyFunSuite with TempDirs {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  private val corpus = "/root/testdata/sf0.001"

  // junk punctuation doc → quality gate; no quotes/backslashes, so it
  // round-trips the ledger's line format untouched
  private val junk = "!!! ??? ### $$$ %%% ^^^ &&& *** ((( ))) @@@ ~~~"

  private def jsonLine(id: Long, lang: String, text: String): String = {
    def esc(v: String) = v.replace("\\", "\\\\").replace("\"", "\\\"")
      .replace("\n", " ").replace("\r", " ")
    s"""k$id,{"doc_id":$id,"lang":"${esc(lang)}","text":"${esc(text)}"}"""
  }

  private def writeSegment(topic: Path, ledgerId: Long, lines: Seq[String]): Unit = {
    val dir = topic.resolve("partition-0")
    Files.createDirectories(dir)
    Files.write(dir.resolve(s"ledger-$ledgerId.log"),
      lines.mkString("\n").getBytes(StandardCharsets.UTF_8))
  }

  test("composed curation funnel survives maintenance churn and kill/resume across ~48 micro-batches") {
    val ref = tmp("soak_ref")
    val store = tmp("soak_store")
    val kept = tmp("soak_kept")
    val audit = tmp("soak_audit")
    val ckpt = tmp("soak_ckpt")
    val topic = java.nio.file.Paths.get(tmp("soak_topic"))

    CurationAdmission.buildReference(spark, corpus, ref)

    // the feed pool: the whole sf0.001 corpus, fed one doc at most once
    // as itself; clones (id >= 50000) re-feed an earlier original's text
    // under a fresh id and must NEVER be admitted (if the original was
    // admitted the store blocks the clone; if it dropped at quality/LM
    // the identical text drops at the same gate; if it dedup-dropped the
    // stored doc that blocked it blocks the clone too)
    val pool = Tables.documents(spark, corpus)
      .select("doc_id", "lang", "text").collect()
      .map(r => (r.getAs[Long]("doc_id"), r.getAs[String]("lang"),
        r.getAs[String]("text")))
    assert(pool.length >= 220, s"pool too small: ${pool.length}")

    // ---- the ARMED fifth gate's fixture (r15): the frozen benchmark is
    // one tail-pool doc's 5-gram set. The doc is chosen to pass quality,
    // sit under its lang's LM cutoff, and overlap no FED doc in either
    // the dedup gate's 3-gram-jaccard metric or the decon gate's own
    // 5-gram hit fraction — so when its verbatim text is planted
    // mid-soak it must reach, and drop at, the decon gate and nowhere
    // else; and no honest doc can graze the 0.05 hit-fraction cut
    // (their overlap vs the suite is <= 2% + the Bloom FP floor).
    val fedCount = 3 * 6 * 5 // cycles × segs × fresh per segment
    val qualityOk = Tables.documents(spark, corpus)
      .filter(graft.functions.TextFunctions.qualityScore(col("text")) >= 0.72)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    val lmRef = spark.read.parquet(s"$ref/lm").collect()
      .map(r => r.getString(0) -> r.getDouble(1)).toMap
    val cutsRef = spark.read.parquet(s"$ref/cutoffs").collect()
      .map(r => r.getAs[String]("lang") -> r.getAs[Double]("cut")).toMap
    val punkRef = spark.read.parquet(s"$ref/params").head.getDouble(0)
    def lmScore(text: String): Option[Double] = {
      val t = text.toLowerCase.replaceAll("[^a-z ]", " ").trim
        .split("\\s+").filter(_.nonEmpty)
      if (t.length < 2) None
      else Some(t.sliding(2).map(w => -math.log(
        lmRef.getOrElse(w.mkString(" "), punkRef))).sum / (t.length - 1))
    }
    def grams(t: String, n: Int) =
      graft.functions.TextFunctions.wordNgramsScala(t, n).toSet
    val contam = pool.drop(fedCount + 30).find { case (id, lang, text) =>
      qualityOk(id) && grams(text, 5).nonEmpty &&
        lmScore(text).exists(s =>
          cutsRef.get(lang).exists(c => s < c - 0.05)) &&
        pool.take(fedCount).forall { case (_, _, ft) =>
          val f3 = grams(ft, 3); val e3 = grams(text, 3)
          val f5 = grams(ft, 5); val e5 = grams(text, 5)
          (f3.isEmpty || e3.isEmpty ||
            (f3 & e3).size.toDouble / (f3 | e3).size < 0.35) &&
          (f5.isEmpty || (f5 & e5).size.toDouble / f5.size <= 0.02)
        }
    }.getOrElse(fail("corpus tail no longer yields a decon fixture"))
    val deconRef = tmp("soak_decon")
    locally {
      import spark.implicits._
      import graft.functions.TextFunctions.wordNgramsUdf
      val suiteGrams = Seq(contam._3).toDF("text")
        .select(explode(array_distinct(wordNgramsUdf(5)(col("text")))).as("g"))
        .distinct()
      DecontaminationAdmission.buildReference(suiteGrams, deconRef)
    }

    // 3 cycles × 6 segments × 8 lines (5 fresh + 2 clones + 1 junk)
    // = 144 entries; maxRatePerPartition=3 & batchIntervalMs=1000 →
    // ≤ 3 entries per micro-batch → ≥ 48 micro-batches end-to-end
    val cycles = 3; val segsPerCycle = 6
    var fed = 0L; var fresh = 0; var sentinel = 50000L
    def segment(c: Int, s: Int): Seq[String] = {
      val f = (0 until 5).map { _ =>
        val d = pool(fresh); fresh += 1; jsonLine(d._1, d._2, d._3)
      }
      val cl = (0 until 2).map { k =>
        val src = pool((c * 41 + s * 7 + k * 13) % fresh) // any earlier-fed original
        sentinel += 1; jsonLine(sentinel, src._2, src._3)
      }
      sentinel += 1
      // the planted benchmark-quoting doc: fed ONCE, in the last cycle's
      // first segment (after the kill/resume churn), under a sentinel id
      // — it must drop at the armed decon gate and nowhere else
      val planted =
        if (c == 2 && s == 0) Seq(jsonLine(90000L, contam._2, contam._3))
        else Seq.empty
      val lines = f ++ cl ++ planted :+ jsonLine(10000L + sentinel, "en", junk)
      fed += lines.length
      lines
    }

    def startStream(trigger: Trigger) = {
      val docs = spark.readStream.format("graft-ledger")
        .option("path", topic.toString)
        .option("format", "json")
        .option("jsonSchema", "doc_id LONG, lang STRING, text STRING")
        .option("maxRatePerPartition", "3")
        .option("batchIntervalMs", "1000")
        .load()
        .select(col("doc_id"), col("lang"), col("text"))
      CurationAdmission.stream(docs, ref, store, kept, audit, ckpt,
          benchRefPath = Some(deconRef))
        .trigger(trigger).start()
    }

    var ledgerId = 0L
    var deletedTotal = 0
    (0 until cycles).foreach { c =>
      (0 until segsPerCycle).foreach { s => ledgerId += 1; writeSegment(topic, ledgerId, segment(c, s)) }
      if (c == 1) {
        // HARD kill: stop mid-processing (not at a batch boundary we
        // chose), then resume from the checkpoint; the interrupted
        // batch replays into its own idempotent epoch dirs
        val q = startStream(Trigger.ProcessingTime(0L))
        val deadline = System.currentTimeMillis() + 120000
        // batchIds resume from the checkpoint, so the kill point is
        // RELATIVE: let it chew ~3 batches into this cycle's backlog,
        // then stop with the next batch in flight
        var first = -1L; var cur = -1L
        while ({
          cur = Option(q.lastProgress).map(_.batchId).getOrElse(-1L)
          if (first < 0 && cur >= 0) first = cur
          (first < 0 || cur < first + 3) && System.currentTimeMillis() < deadline
        }) Thread.sleep(50)
        q.stop()
        assert(first >= 0 && cur >= first + 3,
          "kill cycle never made mid-flight progress")
      }
      val q = startStream(Trigger.AvailableNow())
      q.awaitTermination(180000)
      assert(!q.isActive, s"cycle $c did not drain in time")

      // between-cycle maintenance (offline, single-maintainer): age out
      // every fully-consumed segment below the last, and compact the
      // band store's accumulated epoch partitions to one base epoch
      val lastLedgers = LedgerSource.listLedgers(topic.resolve("partition-0"))
      val deleted = LedgerMaintenance.retain(topic.toString,
        Map(0 -> LedgerSource.Cursor(lastLedgers.last.ledgerId, 0L)))
      assert(deleted.nonEmpty, s"cycle $c retention deleted nothing")
      deletedTotal += deleted.size
      // r16 lifecycle: full maintenance (compact + width check) every
      // cycle, for BOTH the near-dup tables and the quote census this
      // funnel shares the store with. On the post-kill cycle, judge the
      // stores against a target they have outgrown so a LIVE RE-BUCKET
      // runs mid-soak — the remaining cycles then prove the funnel
      // keeps admitting, blocking and conserving across the fan-out
      // change (the r15 verdict's "done" bar for the lifecycle).
      // the width target must be judged on the POST-compaction bytes —
      // maintain() compacts first, and a pre-compaction measure could
      // shrink past the rebucket threshold and flake the assertion
      if (c == 1) NearDupAdmission.compact(spark, store)
      val target =
        if (c == 1) math.max(1L, AdmissionStore
          .widthSignal(spark, s"$store/bands").storeBytes / 64 + 1)
        else AdmissionStore.TargetBucketBytes
      val reports = NearDupAdmission.maintain(spark, store, target) ++
        QuoteAdmission.maintain(spark, store, target)
      if (c == 1) {
        assert(reports.exists(_.rebucketed),
          s"mid-soak maintain did not re-bucket: $reports")
        val k2 = AdmissionStore.layoutK(spark, s"$store/bands").get
        assert(k2 > AdmissionStore.DefaultBuckets,
          s"bands store still at the default fan-out ($k2)")
      } else if (c > 1)
        // later epochs must have been written under the grown fan-out
        assert(AdmissionStore.layoutK(spark, s"$store/bands").get >
          AdmissionStore.DefaultBuckets)
      val bandEpochs = new java.io.File(s"$store/bands").list()
        .count(_.startsWith("epoch="))
      assert(bandEpochs == 1,
        s"cycle $c compaction left $bandEpochs epoch dirs, expected 1")
    }
    assert(deletedTotal >= 2 * segsPerCycle,
      s"retention churn too weak: only $deletedTotal segments aged out")

    // ---- conservation and admission invariants over the whole churn ----
    val rows = spark.read.parquet(audit).collect()
    rows.foreach { r =>
      assert(r.getAs[Long]("n_in") == r.getAs[Long]("drop_quality") +
        r.getAs[Long]("drop_lm") + r.getAs[Long]("drop_dedup") +
        r.getAs[Long]("drop_quote") + r.getAs[Long]("drop_decon") +
        r.getAs[Long]("admitted"), s"audit row does not conserve: $r")
    }
    // the armed fifth gate: exactly the ONE planted benchmark-quoting
    // doc dropped at decon — it survived quality/LM/dedup/quote by
    // fixture construction, and no honest doc grazed the 0.05 cut
    assert(rows.map(_.getAs[Long]("drop_decon")).sum == 1,
      s"decon gate dropped ${rows.map(_.getAs[Long]("drop_decon")).sum} docs, wanted the 1 planted")
    val nIn = rows.map(_.getAs[Long]("n_in")).sum
    assert(nIn == fed,
      s"exactly-once broken: fed $fed entries, audited $nIn")
    assert(rows.length >= 45,
      s"soak too shallow: only ${rows.length} micro-batches (wanted ~48)")
    assert(rows.map(_.getAs[Long]("drop_quality")).sum >= cycles * segsPerCycle,
      "junk docs were not consistently quality-dropped")

    val keptIds = spark.read.parquet(kept).select("doc_id").collect()
      .map(_.getLong(0))
    assert(keptIds.length == keptIds.distinct.length,
      "a document was admitted twice across kill/resume")
    assert(keptIds.length.toLong == rows.map(_.getAs[Long]("admitted")).sum,
      "kept store disagrees with audit accounting")
    assert(!keptIds.exists(_ >= 50000L),
      "a clone or junk sentinel id entered the corpus")
    assert(keptIds.nonEmpty, "soak admitted nothing — gates are miswired")
  }
}
