package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite
import graft.streaming.QuoteAdmission

/** Streaming verbatim-quote admission (the q117 gate): long exact quotes
  * of the admitted corpus are rejected, short ones pass, in-batch quotes
  * resolve greedy lower-id-wins, retries are idempotent, and compaction
  * preserves detection.
  */
class QuoteAdmissionSpec extends AnyFunSuite with TempDirs {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  // distinct letter-only words (tokens() strips digits)
  private def w(prefix: Char, i: Int): String =
    s"$prefix${('a' + i / 26).toChar}${('a' + i % 26).toChar}"

  private def doc(id: Long, words: Seq[String]) = (id, words.mkString(" "))

  private def kept(keptPath: String, epoch: Long): Set[Long] =
    spark.read.parquet(s"$keptPath/epoch=$epoch")
      .collect().map(_.getAs[Long]("doc_id")).toSet

  /** Spark jobs of a steady-state epoch (the job-budget test's second). */
  private val JobsPerEpoch = 10

  test("a steady-state epoch runs a pinned number of Spark jobs") {
    import spark.implicits._
    val store = tmp("quotej_store"); val keptP = tmp("quotej_kept")
    val base = (0 until 40).map(w('a', _))
    val fill = (c: Char, n: Int) => (0 until n).map(w(c, _))
    QuoteAdmission.admit(Seq(doc(1L, base), doc(2L, fill('b', 40)))
      .toDF("doc_id", "text"), 0L, store, keptP)
    // a quote of the store, a fresh doc and a doc quoting it in-batch
    val fresh = fill('c', 40)
    val ((_, jobs), compiles) = SparkJobs.compilesOf(SparkJobs.of(spark, "quote-epoch-1") {
      QuoteAdmission.admit(Seq(doc(10L, fill('d', 5) ++ base.slice(5, 30)),
        doc(11L, fresh), doc(12L, fill('e', 5) ++ fresh.take(25)))
        .toDF("doc_id", "text"), 1L, store, keptP)
    })
    info(s"$jobs jobs, $compiles generated-code compiles")
    assert(kept(keptP, 1L) == Set(11L))
    assert(jobs == JobsPerEpoch, s"an epoch ran $jobs Spark jobs, pinned $JobsPerEpoch")
  }

  test("quote gate: long quotes rejected, short pass, greedy in-batch, idempotent retry, compaction") {
    import spark.implicits._
    val store = tmp("graft_quote_store")
    val keptP = tmp("graft_quote_kept")

    // epoch 0: two fully distinct 40-token docs — both admitted
    val baseWords = (0 until 40).map(w('a', _))
    val otherWords = (0 until 40).map(w('b', _))
    QuoteAdmission.admit(
      Seq(doc(1L, baseWords), doc(2L, otherWords)).toDF("doc_id", "text"),
      0L, store, keptP)
    assert(kept(keptP, 0L) == Set(1L, 2L))

    // epoch 1:
    //  doc 10 quotes 25 consecutive tokens of doc 1  -> span 25 >= 20, drop
    //  doc 11 quotes only 15 consecutive tokens      -> span 15 < 20, keep
    //  doc 12 is fresh                               -> keep
    //  doc 13 has fewer than 10 tokens               -> trivially keep
    val quote25 = baseWords.slice(5, 30)
    val quote15 = baseWords.slice(5, 20)
    val fill = (c: Char, n: Int) => (0 until n).map(w(c, _))
    QuoteAdmission.admit(Seq(
      doc(10L, fill('c', 10) ++ quote25 ++ fill('d', 6)),
      doc(11L, fill('e', 10) ++ quote15 ++ fill('f', 10)),
      doc(12L, fill('g', 40)),
      doc(13L, fill('h', 5))
    ).toDF("doc_id", "text"), 1L, store, keptP)
    assert(kept(keptP, 1L) == Set(11L, 12L, 13L))

    // epoch 1 RETRY: its own published census must not self-reject doc 11
    // (its 15-token quote windows are in the store under its own epoch)
    QuoteAdmission.admit(Seq(
      doc(10L, fill('c', 10) ++ quote25 ++ fill('d', 6)),
      doc(11L, fill('e', 10) ++ quote15 ++ fill('f', 10)),
      doc(12L, fill('g', 40)),
      doc(13L, fill('h', 5))
    ).toDF("doc_id", "text"), 1L, store, keptP)
    assert(kept(keptP, 1L) == Set(11L, 12L, 13L), "retry changed the verdicts")

    // epoch 2: two new docs share a 30-token span with each other only —
    // greedy lower-id-wins: 20 kept, 21 dropped; and a doc quoting the
    // EPOCH-1-ADMITTED doc 12 is caught (the store accumulates)
    val shared = (0 until 30).map(w('i', _))
    QuoteAdmission.admit(Seq(
      doc(20L, fill('j', 8) ++ shared ++ fill('k', 4)),
      doc(21L, fill('m', 6) ++ shared ++ fill('n', 7)),
      doc(22L, fill('g', 25) ++ fill('p', 12)) // 25-token quote of doc 12
    ).toDF("doc_id", "text"), 2L, store, keptP)
    assert(kept(keptP, 2L) == Set(20L))

    // compaction folds epochs into epoch=-1 — an id no batch can carry,
    // so a FRESH checkpoint's batchId-0 epoch can neither exclude the
    // compacted base from its store read nor overwrite it
    def census = spark.read.parquet(s"$store/census")
    def distinctHashes = census.select("h").distinct().count()
    // doc 11's 15-token quote put the same window hashes in epochs 0 and 1
    assert(census.count() > distinctHashes, "no hash repeats across epochs")
    QuoteAdmission.compact(spark, store)
    val epochs = census
      .select("epoch").distinct().collect()
      .map(_.get(0).toString.toLong).toSet
    assert(epochs == Set(-1L), s"compaction left epochs: $epochs")
    // the base holds each window hash once
    assert(census.count() == distinctHashes,
      "compacted census holds repeated hashes")
    // the fresh-checkpoint batchId-0 hazard: a new stream's FIRST batch
    // against the compacted store must still see every admitted hash
    val store2 = tmp("graft_quote_store_fresh")
    val kept2 = tmp("graft_quote_kept_fresh")
    // copy the compacted census as a pre-existing store for a new stream
    // — its pb partition dirs, _PBK stamps and byte cell included
    val hconf = spark.sparkContext.hadoopConfiguration
    val fs = org.apache.hadoop.fs.FileSystem.get(hconf)
    assert(org.apache.hadoop.fs.FileUtil.copy(fs,
      new org.apache.hadoop.fs.Path(s"$store/census"), fs,
      new org.apache.hadoop.fs.Path(s"$store2/census"), false, hconf))
    QuoteAdmission.admit(Seq(
      doc(40L, fill('t', 8) ++ baseWords.slice(10, 35) ++ fill('u', 8)),
      doc(41L, fill('v', 40))
    ).toDF("doc_id", "text"), 0L, store2, kept2)
    assert(kept(kept2, 0L) == Set(41L),
      "batchId 0 of a fresh checkpoint excluded the compacted base")
    QuoteAdmission.admit(Seq(
      doc(30L, fill('q', 10) ++ baseWords.slice(0, 25) ++ fill('r', 5)),
      doc(31L, fill('s', 40))
    ).toDF("doc_id", "text"), 3L, store, keptP)
    assert(kept(keptP, 3L) == Set(31L))
  }

  test("compact is crash-safe: interrupted windows fail loud and recover, never open") {
    import spark.implicits._
    val store = tmp("graft_quote_store_crash")
    val keptP = tmp("graft_quote_kept_crash")
    val fs = org.apache.hadoop.fs.FileSystem
      .get(spark.sparkContext.hadoopConfiguration)
    def p(s: String) = new org.apache.hadoop.fs.Path(s)
    val baseWords = (0 until 40).map(w('a', _))
    val fill = (c: Char, n: Int) => (0 until n).map(w(c, _))
    QuoteAdmission.admit(
      Seq(doc(1L, baseWords), doc(2L, fill('b', 40))).toDF("doc_id", "text"),
      0L, store, keptP)

    // crash window (b): live was renamed aside, tmp never landed — the
    // most dangerous state, since a missing census otherwise reads as an
    // EMPTY store and the gate would admit quotes of everything admitted
    assert(fs.rename(p(s"$store/census"), p(s"$store/census_aside")))
    val quoting = Seq(
      doc(10L, fill('c', 8) ++ baseWords.slice(5, 30) ++ fill('d', 8)),
      doc(11L, fill('e', 40))).toDF("doc_id", "text")
    val ex = intercept[IllegalStateException] {
      QuoteAdmission.admit(quoting, 1L, store, keptP)
    }
    assert(ex.getMessage.contains("compact"), ex.getMessage)

    // recovery: compact() restores the aside, completes, and the
    // recovered base still rejects the long quote
    QuoteAdmission.compact(spark, store)
    assert(!fs.exists(p(s"$store/census_aside")))
    assert(!fs.exists(p(s"$store/census_compact_tmp")))
    val epochs = spark.read.parquet(s"$store/census")
      .select("epoch").distinct().collect()
      .map(_.get(0).toString.toLong).toSet
    assert(epochs == Set(-1L), s"recovered compact left epochs: $epochs")
    QuoteAdmission.admit(quoting, 1L, store, keptP)
    assert(kept(keptP, 1L) == Set(11L), "recovered base lost admitted hashes")

    // crash window (a): the new census landed but the aside delete did
    // not — superseded debris; the next compact() must drop it quietly
    // and still produce a correct base
    assert(fs.mkdirs(p(s"$store/census_aside/epoch=-1")))
    QuoteAdmission.compact(spark, store)
    assert(!fs.exists(p(s"$store/census_aside")))
    QuoteAdmission.admit(Seq(
      doc(20L, fill('f', 8) ++ baseWords.slice(0, 25) ++ fill('g', 8)),
      doc(21L, fill('h', 40))).toDF("doc_id", "text"), 2L, store, keptP)
    assert(kept(keptP, 2L) == Set(21L))

    // pre-aside debris: a tmp left by a run that crashed before touching
    // the live census must not block or corrupt the next compact
    assert(fs.mkdirs(p(s"$store/census_compact_tmp/epoch=-1")))
    QuoteAdmission.compact(spark, store)
    assert(!fs.exists(p(s"$store/census_compact_tmp")))
    QuoteAdmission.admit(Seq(
      doc(30L, fill('i', 8) ++ baseWords.slice(3, 28) ++ fill('j', 8)),
      doc(31L, fill('k', 40))).toDF("doc_id", "text"), 3L, store, keptP)
    assert(kept(keptP, 3L) == Set(31L))
  }

  test("quote gate wired as a streaming sink over MemoryStream") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    val store = tmp("graft_quote_store3")
    val keptP = tmp("graft_quote_kept3")
    val ckpt = tmp("graft_quote_ckpt")
    val fill = (c: Char, n: Int) => (0 until n).map(w(c, _))
    val baseWords = (0 until 40).map(w('a', _))

    val mem = MemoryStream[(Long, String)]
    val q = QuoteAdmission.stream(
      mem.toDF().toDF("doc_id", "text"), store, keptP, ckpt)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())

    mem.addData(doc(1L, baseWords), doc(2L, fill('b', 40)))
    val q1 = q.start(); q1.awaitTermination(120000)
    mem.addData(
      doc(10L, fill('c', 10) ++ baseWords.slice(5, 30) ++ fill('d', 6)),
      doc(11L, fill('e', 40)))
    val q2 = q.start(); q2.awaitTermination(120000)
    val keptAll = spark.read.parquet(keptP).select("doc_id")
      .collect().map(_.getLong(0)).toSet
    assert(keptAll == Set(1L, 2L, 11L), keptAll.toString)
  }

  test("quote gate matches q117 semantics: runs may stitch different owners") {
    import spark.implicits._
    val store = tmp("graft_quote_store2")
    val keptP = tmp("graft_quote_kept2")
    // two admitted docs contribute ADJACENT halves of what a later doc
    // quotes: doc 1 owns tokens 0..19, doc 2 owns 10..29 of the same
    // word sequence, so every window of the 30-token span exists in the
    // store though no single doc holds it all — per-window coverage
    // (q117's census semantics) must still reject the quoting doc
    val seq30 = (0 until 30).map(w('a', _))
    QuoteAdmission.admit(Seq(
      doc(1L, seq30.slice(0, 20) ++ (0 until 20).map(w('x', _))),
      doc(2L, (0 until 20).map(w('y', _)) ++ seq30.slice(10, 30))
    ).toDF("doc_id", "text"), 0L, store, keptP)
    assert(kept(keptP, 0L) == Set(1L, 2L))
    QuoteAdmission.admit(Seq(
      doc(10L, (0 until 5).map(w('z', _)) ++ seq30 ++ (0 until 5).map(w('v', _)))
    ).toDF("doc_id", "text"), 1L, store, keptP)
    assert(kept(keptP, 1L) == Set.empty[Long],
      "stitched-owner quote slipped the gate")
  }
}
