package perfbench

import java.nio.charset.StandardCharsets.UTF_8
import scala.util.Random
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import graft.functions.TextFunctions.wordNgramsUdf
import graft.streaming.{CurationAdmission, DecontaminationAdmission}

/** `curation-stream`: the streaming regime. The frozen references (the
  * curation LM and the benchmark Bloom bitset) are built from a seeded
  * bootstrap half of the query-suite `documents` table (5,000 docs, the
  * sf0.1 size and duplicate density); the other half feeds a
  * one-partition topic with a seeded mix that gives every gate real work
  * (fresh docs, exact and near clones, quoting docs, junk, planted
  * benchmark docs). The backlog is drained at a fixed docs-per-batch
  * through `CurationAdmission.stream` with all five gates armed. */
object CurationStream {
  val DocsPerBatch = 25
  /** Micro-batches per run second, and at least three: a batch takes 8-10 s
    * at local[4]. The batch latency is their geometric mean: with three
    * batches, the first slower by its one-time compilation, the median
    * jumps between the first and a warm batch, the mean does not. */
  val BatchesPerSecond = 0.2
  val MinBatches = 3
  val Junk = "!!! ??? ### $$$ %%% ^^^ &&& *** ((( ))) @@@ ~~~"
  val Gates = Seq("drop_quality", "drop_lm", "drop_dedup", "drop_quote", "drop_decon")

  /** Sentinel id ranges of the planted doc kinds. */
  val ExactClone = 100000L; val NearClone = 200000L; val Quoting = 300000L
  val JunkDoc = 400000L; val Planted = 500000L

  final case class Doc(id: Long, lang: String, text: String, source: Long = -1)

  /** The feed, in topic order, and the eval docs the decon reference is
    * built from. Each batch: fresh docs, 2 exact and 2 near clones of
    * earlier fresh docs, 1 doc quoting 25 tokens of an earlier fresh doc,
    * 1 junk doc and 1 planted eval doc. Clone and quote sources, quote
    * fillers and eval docs are drawn from docs the frozen references score
    * as admissible (`likely`), so the dedup, quote and decon gates see
    * their cases instead of the LM gate catching them first. */
  def feed(pool: Seq[Doc], likely: Doc => Boolean, seed: Long,
      batches: Int): (Seq[Doc], Seq[Doc]) = {
    val r = new Random(seed)
    val (good, rest) = pool.partition(likely)
    require(good.length > 2 * batches, s"only ${good.length} admissible pool docs")
    val (evals, fillers) = good.take(2 * batches).splitAt(batches)
    val freshIt = (good.drop(2 * batches) ++ rest).sortBy(_.id).iterator
    val fed = scala.collection.mutable.ArrayBuffer.empty[Doc]
    var k = 0L
    def next(base: Long) = { k += 1; base + k }
    val out = (0 until batches).flatMap { b =>
      val fs = (0 until DocsPerBatch - 7).map(_ => freshIt.next())
      fed ++= fs
      def earlier(minTokens: Int) = {
        val c = fed.filter(d => likely(d) && d.text.split(' ').length >= minTokens)
        if (c.nonEmpty) c(r.nextInt(c.length)) else fed(r.nextInt(fed.length))
      }
      val exact = Seq.fill(2) { val s = earlier(0); Doc(next(ExactClone), s.lang, s.text, s.id) }
      val near = Seq.fill(2) {
        val s = earlier(0); val t = s.text.split(' ')
        (0 until math.max(1, t.length / 20)).foreach(_ => t(r.nextInt(t.length)) = "dup")
        Doc(next(NearClone), s.lang, t.mkString(" "), s.id)
      }
      val quoting = {
        val s = earlier(30); val t = s.text.split(' ')
        val at = r.nextInt(math.max(1, t.length - 25 + 1))
        val f = fillers(b).text.split(' ')
        Doc(next(Quoting), fillers(b).lang,
          (f.take(f.length / 2) ++ t.slice(at, at + 25) ++ f.drop(f.length / 2)).mkString(" "), s.id)
      }
      val junk = Doc(next(JunkDoc), "en", Junk)
      val planted = evals(b).copy(id = next(Planted), source = evals(b).id)
      r.shuffle(fs ++ exact ++ near ++ Seq(quoting, junk, planted))
    }
    (out, evals)
  }

  /** Pool docs the frozen references would admit on their own: quality at
    * the floor or above and bigram surprisal under their language's
    * cutoff, scored with the same column functions the gates use. */
  private def admissible(spark: SparkSession, pool: Seq[Doc], ref: String): Set[Long] = {
    import spark.implicits._
    import graft.functions.TextFunctions.{qualityScore, tokenBigrams, tokens}
    val lm = spark.read.parquet(s"$ref/lm")
    val cuts = spark.read.parquet(s"$ref/cutoffs")
    val punk = spark.read.parquet(s"$ref/params").head.getDouble(0)
    val docs = pool.map(d => (d.id, d.lang, d.text)).toDF("doc_id", "lang", "text")
    docs.filter(qualityScore(col("text")) >= 0.72)
      .select(col("doc_id"), col("lang"), explode(tokenBigrams(tokens(col("text")))).as("bg"))
      .join(lm, Seq("bg"), "left")
      .groupBy("doc_id", "lang").agg(avg(-log(coalesce(col("p"), lit(punk)))).as("s"))
      .join(cuts, "lang")
      .filter(col("s") < col("cut"))
      .select("doc_id").as[Long].collect().toSet
  }

  def run(ctx: Ctx): Result = {
    val spark = ctx.spark
    import spark.implicits._
    val tr = ctx.trace
    val batches = math.max(MinBatches, math.round(ctx.seconds * BatchesPerSecond).toInt)

    // set-up: corpus, seeded split, frozen references
    val corpusDocs = (if (ctx.smoke) Data.Smoke else Data.Bench).docs
    val ((docs, ref, deconRef, referenceS), setupOnlyS) = Main.timed {
      val corpus = Data.documentRows(Data.TablesSeed, corpusDocs)
      val (boot, rest) = new Random(ctx.seed).shuffle(corpus).splitAt(corpusDocs / 2)
      val pool = rest.map { case (i, t, l, _, _) => Doc(i, l, t) }
      val bootDir = ctx.dir("boot")
      boot.toDF("doc_id", "text", "lang", "source", "n_chars")
        .coalesce(1).write.mode("overwrite").parquet(s"$bootDir/documents.parquet")
      val ref = ctx.dir("ref"); val deconRef = ctx.dir("decon-ref")
      val (docs, refS) = Main.timed {
        CurationAdmission.buildReference(spark, bootDir, ref)
        val ok = admissible(spark, pool, ref)
        val (docs, evals) = feed(pool, d => ok(d.id), ctx.seed, batches)
        DecontaminationAdmission.buildReference(evals.map(_.text).toDF("text")
          .select(explode(array_distinct(wordNgramsUdf(5)(col("text")))).as("g")).distinct(),
          deconRef)
        docs
      }
      (docs, ref, deconRef, refS)
    }
    val setupS = (ctx.sessionReadyMs - ctx.jvmStartMs) / 1000.0 + setupOnlyS
    ctx.say(f"session ${(ctx.sessionReadyMs - ctx.jvmStartMs) / 1000.0}%.1f s, set-up $setupOnlyS%.1f s " +
      f"(references $referenceS%.1f s), ${docs.length} docs in $batches batches")
    val topic = ctx.dir("topic")
    val host = new Main.HostRef(spark)
    val beforeProduce = host.sample()

    // the feed is produced into 21 topics (one append each) and the
    // median call is reported: a single ~0.1 s call is too short to be steady
    tr.start()
    val produceCalls = (0 until 21).map { i =>
      tr.span("sources.produce", Map("layer" -> "sources")) {
        Main.timed(docs.map(d => (0, s"k${d.id}", json(d).getBytes(UTF_8)))
          .toDF("partition", "key", "value").coalesce(1)
          .write.format("graft-ledger").option("path", if (i == 0) topic else ctx.dir(s"topic-$i"))
          .mode("append").save())._2
      }
    }
    tr.stop()
    val produceS = Main.median(produceCalls)

    def drain(name: String, traced: Boolean): (Streams.Drain, String) = {
      if (traced) tr.start()
      val out = ctx.dir(s"admit-$name")
      val d = tr.span("streaming.drain", Map("layer" -> "streaming")) {
        Streams.drain(spark, tr, "streaming.batch", 160000L) {
          val in = spark.readStream.format("graft-ledger")
            .option("path", topic)
            .option("format", "json")
            .option("jsonSchema", "doc_id LONG, lang STRING, text STRING")
            .option("maxRatePerPartition", DocsPerBatch.toString)
            .option("batchIntervalMs", "1000")
            .load()
            .select(col("doc_id"), col("lang"), col("text"))
          CurationAdmission.stream(in, ref, s"$out/store", s"$out/kept", s"$out/audit",
              s"$out/ckpt", benchRefPath = Some(deconRef))
            .trigger(Trigger.AvailableNow()).start()
        }
      }
      tr.stop()
      (d, out)
    }
    // a traced run drains traced first, where an untraced run measures,
    // then repeats the drain untraced for the overhead; the repeat runs
    // warmer, so the overhead it gives is an upper bound
    val traced = if (tr.enabled) Some(drain("traced", traced = true)) else None
    val (plain, plainOut) = drain("plain", traced = false)
    val afterDrain = host.sample()

    val (counts, failures) = check(ctx, docs, corpusDocs, plain, plainOut)
    val tracedFailures = traced.toSeq.flatMap { case (d, o) => check(ctx, docs, corpusDocs, d, o)._2 }
    (failures ++ tracedFailures).foreach(f => ctx.say(s"CHECK FAILED $f"))

    val batchMs = plain.triggerMs
    val e2e = Seq(
      Metric("setup_s", setupS, "s"),
      Metric("build_adj_s", host.time(produceS, beforeProduce), "s"),
      Metric("op_mean_adj_ms", host.time(Main.geomean(batchMs), beforeProduce, afterDrain), "ms"),
      Metric("items_adj_per_s", host.rate(plain.inputRows / plain.wallS, beforeProduce, afterDrain), "1/s"))
    val lines = Seq(
      f"curation-stream docs_per_s ${plain.inputRows / plain.wallS}%.2f docs/s",
      f"curation-stream batch_p50_ms ${Main.median(batchMs)}%.1f ms (${batchMs.length} batches)",
      f"curation-stream batch_gmean_ms ${Main.geomean(batchMs)}%.1f ms",
      f"curation-stream reference_build_s $referenceS%.3f s",
      f"curation-stream produce_s $produceS%.4f s (median of ${produceCalls.length} appends)",
      f"curation-stream ref_job_ms ${host.ms()}%.2f ms",
      "curation-stream audit " + counts.map { case (k, v) => s"$k=$v" }.mkString(" "))
    val layers = traced.toSeq.flatMap { case (t, out) =>
      val (storeMb, storeFiles) = Main.treeSize(s"$out/store")
      Layers.sourceProgress(t, topic, produceCalls) ++
        Layers.perBatch(tr, "streaming.batch") ++
        Seq(Metric("streaming.admit_ms", Main.median(t.durations("addBatch")), "ms"),
          Metric("streaming.reference_build_s", referenceS, "s"),
          Metric("streaming.store_mb", storeMb, "MB"),
          Metric("streaming.store_files", storeFiles, "count"),
          Metric("streaming.admit_ratio", counts("admitted").toDouble / counts("n_in"), "ratio"),
          Metric("host.ref_job_ms", host.ms(), "ms")) ++
        counts.toSeq.map { case (k, v) => Metric(s"streaming.$k", v, "count") } ++
        Layers.client(t.triggerMs, (Main.geomean(batchMs), Main.geomean(t.triggerMs)),
          (plain.inputRows / plain.wallS, t.inputRows / t.wallS)) :+
        Metric("host.canary_s", Main.canary(spark), "s")
    }
    // a drain that fails a check fails all of its micro-batches
    def failedOps(d: Streams.Drain, fs: Seq[String]) = if (fs.isEmpty) 0 else d.batches.length max 1
    Result(plain.batches.length + traced.map(_._1.batches.length).getOrElse(0),
      failedOps(plain, failures) + traced.map(t => failedOps(t._1, tracedFailures)).getOrElse(0),
      e2e, layers, lines)
  }

  private def json(d: Doc): String = {
    def esc(v: String) = v.replace("\\", "\\\\").replace("\"", "\\\"")
    s"""{"doc_id":${d.id},"lang":"${esc(d.lang)}","text":"${esc(d.text)}"}"""
  }

  /** Audit totals of a drain and the checks it failed: every fed doc
    * audited once and every epoch conserving its counts; no doc admitted
    * twice; no exact clone, junk or planted doc admitted, and no near
    * clone or quoting doc admitted beside its admitted source; per-gate
    * drops equal to the committed values for this seed. */
  private def check(ctx: Ctx, docs: Seq[Doc], corpusDocs: Int, d: Streams.Drain,
      out: String): (Map[String, Long], Seq[String]) = {
    val spark = ctx.spark
    val audits = CurationAdmission.readAudits(spark, s"$out/audit").collect()
    val fields = "n_in" +: Gates :+ "admitted"
    val counts = fields.map(f => f -> audits.map(_.getAs[Long](f)).sum).toMap
    val admitted = spark.read.parquet(s"$out/kept").select("doc_id").collect().map(_.getLong(0))
    val admittedSet = admitted.toSet
    val sourceOf = docs.map(x => x.id -> x.source).toMap
    val bad = admitted.filter { id =>
      (id >= ExactClone && id < NearClone) || id >= JunkDoc ||
        (id >= NearClone && admittedSet(sourceOf(id)))
    }
    val conserving = audits.filterNot(a =>
      a.getAs[Long]("n_in") == Gates.map(a.getAs[Long]).sum + a.getAs[Long]("admitted"))
    val key = s"${ctx.seed}:${docs.length}:$corpusDocs"
    val pins = Expected.curation(ctx)
    val pinned = pins.get(key)
    val failures =
      (if (counts("n_in") != docs.length) Seq(s"audited ${counts("n_in")} of ${docs.length} docs") else Nil) ++
      (if (d.inputRows != docs.length) Seq(s"stream read ${d.inputRows} of ${docs.length} docs") else Nil) ++
      conserving.map(a => s"epoch ${a.getAs[Long]("epoch")} does not conserve its counts") ++
      (if (admitted.length != admittedSet.size) Seq("a doc was admitted twice") else Nil) ++
      bad.map(id => s"sentinel doc $id was admitted") ++
      pinned.toSeq.flatMap(p => Gates.filter(g => p(g) != counts(g))
        .map(g => s"$g = ${counts(g)}, committed ${p(g)} for seed ${ctx.seed}"))
    if (pinned.isEmpty) ctx.say(s"no committed drop counts for $key; invariants checked only")
    (counts, failures)
  }
}
