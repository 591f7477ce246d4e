package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.scalatest.funsuite.AnyFunSuite
import graft.operators.CorpusStatsMaintenance
import graft.streaming.DecontaminationAdmission

/** Streaming benchmark decontamination: docs quoting a benchmark item
  * drop (hit fraction far above the FP floor), clean and gramless docs
  * pass, retried epochs are idempotent, audits conserve, and a new eval
  * suite joins the frozen bitset through the refresh lifecycle.
  */
class DecontaminationAdmissionSpec extends AnyFunSuite with TempDirs {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  // letter-only vocabularies (the gram tokenizer strips digits): 30
  // distinct tokens per suite
  private def tok(prefix: String, i: Int): String =
    s"$prefix${('a' + i / 5).toChar}${('a' + i % 5).toChar}"
  // a 30-token "eval item" — its 5-grams are the benchmark set
  private val evalItem = (0 until 30).map(tok("b", _)).mkString(" ")
  // a second suite, disjoint vocabulary — joins the set later by refresh
  private val evalItem2 = (0 until 30).map(tok("s", _)).mkString(" ")

  private def gramsOf(texts: String*) = {
    import spark.implicits._
    texts.toDF("text")
      .select(org.apache.spark.sql.functions.explode(
        org.apache.spark.sql.functions.array_distinct(
          graft.functions.TextFunctions.wordNgramsUdf(5)(
            org.apache.spark.sql.functions.col("text")))).as("g"))
      .distinct()
  }

  test("decontamination gate: quoting docs drop, clean/gramless pass, refresh extends the set") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val ref = tmp("dadm_ref")
    val kept = tmp("dadm_kept")
    val audit = tmp("dadm_audit")
    val ckpt = tmp("dadm_ckpt")
    DecontaminationAdmission.buildReference(gramsOf(evalItem), ref)

    // doc 1: quotes 15 consecutive eval-item tokens inside filler — its
    // hit fraction is ~11 of ~40 grams, far above the 5% cut. doc 2:
    // clean (distinct vocabulary — only Bloom FPs possible, ~0.1% per
    // gram). doc 3: gramless (< 5 tokens) — nothing to judge, passes.
    val quoted = "fill alpha beta gamma delta " +
      (8 until 23).map(tok("b", _)).mkString(" ") +
      " omega psi chi phi tau"
    val clean = (0 until 40).map(tok("c", _)).mkString(" ")
    val tiny = "too short here"

    val mem = MemoryStream[(Long, String)]
    val q = DecontaminationAdmission.stream(
      mem.toDF().toDF("doc_id", "text"), ref, kept, audit, ckpt)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
    mem.addData((1L, quoted), (2L, clean), (3L, tiny))
    val q1 = q.start(); q1.awaitTermination(120000)

    val kept1 = spark.read.parquet(kept).select("doc_id")
      .collect().map(_.getLong(0)).toSet
    assert(kept1 == Set(2L, 3L), s"gate verdicts wrong: $kept1")
    val a = spark.read.parquet(audit).head()
    assert(a.getAs[Long]("n_in") == 3L && a.getAs[Long]("n_dropped") == 1L)
    // the dropped fraction sits far above the cut, the kept far below —
    // the margin is the gate's whole safety story
    assert(a.getAs[Double]("min_dropped_frac") > 0.2,
      a.getAs[Double]("min_dropped_frac").toString)
    assert(Option(a.getAs[java.lang.Double]("max_kept_frac"))
      .forall(_ < 0.01), a.toString)

    // idempotent retry: same epoch id, same verdicts, no appends
    DecontaminationAdmission.admit(
      Seq((1L, quoted), (2L, clean), (3L, tiny)).toDF("doc_id", "text"),
      0L, DecontaminationAdmission.readReference(spark, ref), kept, audit)
    assert(spark.read.parquet(kept).select("doc_id")
      .collect().map(_.getLong(0)).toSet == Set(2L, 3L))
    assert(spark.read.parquet(audit).count() == 1L)

    // a NEW eval suite joins the decontamination set through the frozen
    // maintenance lifecycle: refreshBloom + reference rewrite. A doc
    // quoting the new suite was admissible before and must drop after.
    val quoted2 = "pre one two three four " +
      (5 until 20).map(tok("s", _)).mkString(" ") +
      " post five six seven eight"
    DecontaminationAdmission.admit(
      Seq((10L, quoted2)).toDF("doc_id", "text"), 1L,
      DecontaminationAdmission.readReference(spark, ref), kept, audit)
    assert(spark.read.parquet(s"$kept/epoch=1").select("doc_id")
      .collect().map(_.getLong(0)).toSet == Set(10L),
      "new-suite quote dropped before the suite joined the set")
    // this suite DOUBLES the gram set, so the refresh crosses the
    // power-of-two width boundary: it stays sound at the frozen width
    // but recommends a rebuild — act on it by rebuilding the reference
    // over both suites at the grown width (the soak drives the same
    // lifecycle against the corpus-side bitset)
    val (_, rep) = CorpusStatsMaintenance.refreshBloom(
      DecontaminationAdmission.readReference(spark, ref), gramsOf(evalItem2))
    assert(rep.mode == "rebuild", rep.toString)
    DecontaminationAdmission.buildReference(
      gramsOf(evalItem, evalItem2), ref)
    assert(DecontaminationAdmission.readReference(spark, ref).m
      == rep.widthNow, "rebuild did not resize to the recommended width")
    DecontaminationAdmission.admit(
      Seq((10L, quoted2)).toDF("doc_id", "text"), 2L,
      DecontaminationAdmission.readReference(spark, ref), kept, audit)
    assert(spark.read.parquet(s"$kept/epoch=2").count() == 0L,
      "new-suite quote admitted after the refresh")
  }

  test("the bitset is bound at stream start: a rewrite under a bound reference fails loudly") {
    import spark.implicits._
    val ref = tmp("dadmb_ref")
    DecontaminationAdmission.buildReference(gramsOf(evalItem), ref)
    val bound = DecontaminationAdmission.readReference(spark, ref)
    val quoted2 = "pre one two three four " +
      (5 until 20).map(tok("s", _)).mkString(" ") +
      " post five six seven eight"
    val batch = Seq((10L, quoted2)).toDF("doc_id", "text")
    DecontaminationAdmission.buildReference(gramsOf(evalItem2), ref) // rewritten in place
    val e = intercept[Exception] {
      DecontaminationAdmission.admit(batch, 0L, bound, tmp("dadmb_kept"),
        tmp("dadmb_audit"))
    }
    val chain = Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
      .map(t => s"${t.getClass.getName}: ${t.getMessage}").mkString(" / ")
    assert(chain.contains("FILE_NOT_EXIST") || chain.contains("FileNotFound"), chain)
    // a fresh binding reads the rewritten bitset
    val kept = tmp("dadmb_kept")
    DecontaminationAdmission.admit(batch, 0L,
      DecontaminationAdmission.readReference(spark, ref), kept, tmp("dadmb_audit"))
    assert(spark.read.parquet(s"$kept/epoch=0").count() == 0L,
      "the rewritten bitset's suite was not judged")
  }
}
