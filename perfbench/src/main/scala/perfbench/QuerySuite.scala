package perfbench

import scala.util.Random
import org.apache.spark.sql.{Column, DataFrame, Observation}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.{Artifacts, ArtifactStore, SparkEntry}

/** `query-suite`: the latency regime. Cold-builds the artifact families
  * the suite reads into a fresh store, runs one untimed warm-up pass whose
  * writes also check each query's result fingerprint, then a fixed number
  * of timed passes, each in a new seeded order. Each query is materialised
  * with a noop write, as the legacy `graft.Bench` line does.
  */
object QuerySuite {
  /** The timed subset of the `SparkEntry.queries` inventory: one to three
    * queries from each defining object, 0.3-1.5 s each on the sf0.1 tables
    * at local[4], so that a pass takes about 5 s (the whole inventory takes
    * about 125 s a pass there). */
  val Queries: Map[String, Seq[String]] = Map(
    "relational" -> Seq("q01_pricing_summary", "q09_top3_orders", "q12_user_type_counts"),
    "text" -> Seq("q25_quality", "q26_langid", "q67_bigram_surprisal"),
    "vector" -> Seq("q34_ann_srp", "q35_label_centroids"),
    "geo" -> Seq("q23_geohash_cells"))

  /** Timed passes per run second: a 10-second run times three passes. */
  val PassesPerSecond = 0.3

  /** Artifact families cold-built before the warm-up pass: the ones the
    * subset reads (`lm` builds the tokenised-docs table it derives from).
    * The other eight are not built: `lex` alone takes 17 s at this scale,
    * and the run would not fit its time budget. */
  val Families = Seq("lm", "srp")

  def run(ctx: Ctx): Result = {
    val spark = ctx.spark
    val tr = ctx.trace
    val data = ctx.dir("data")
    val scaleName = if (ctx.smoke) "smoke" else "bench"
    val (_, genS) = Main.timed(Data.write(spark, data, Data.TablesSeed,
      if (ctx.smoke) Data.Smoke else Data.Bench))
    val setupS = (ctx.sessionReadyMs - ctx.jvmStartMs) / 1000.0 + genS
    ctx.say(f"session ${(ctx.sessionReadyMs - ctx.jvmStartMs) / 1000.0}%.1f s, tables $genS%.1f s")
    val family = Queries.toSeq.flatMap { case (f, qs) => qs.map(_ -> f) }.toMap
    val queries = family.keys.toSeq.sorted.map(q => q -> SparkEntry.queries(q))
    val rng = new Random(ctx.seed)
    val host = new Main.HostRef(spark)
    val beforeBuilds = host.sample()

    // cold artifact build into the fresh store root of this run
    tr.start()
    val builds = Artifacts.families(spark, data).filter(f => Families.contains(f._1)).map {
      case (name, build) =>
        name -> tr.span(s"artifacts.build.$name", Map("layer" -> "artifacts"))(Main.timed(build())._2)
    }
    tr.stop()
    val buildS = builds.map(_._2).sum
    ctx.say("artifact builds " + builds.map { case (f, t) => f"$f $t%.1f s" }.mkString(", "))
    val storeMb = Main.treeSize(ArtifactStore.rootOf(spark).map(_.toString).getOrElse(""))._1

    // untimed warm-up pass, in seeded order: each query's noop write runs
    // once with its result fingerprint observed on the way, so the check
    // costs no extra pass and the timed passes start with a warm write path
    val expected = Expected.fingerprints(ctx, scaleName)
    val warm = rng.shuffle(queries).map { case (name, fn) =>
      val (fp, secs) = Main.timed(try {
        fingerprintedWrite(fn(spark, data))
      } catch { case e: Exception => s"error: $e" })
      spark.catalog.clearCache()
      (name, fp, secs)
    }
    val coldPassS = warm.map(_._3).sum
    ctx.say(f"warm-up pass $coldPassS%.1f s")
    // the tables do not depend on the run seed, so every query has a
    // committed fingerprint, and a query without one fails
    val mismatches = warm.flatMap { case (name, fp, _) =>
      val want = expected.get(name)
      if (want.contains(fp)) None
      else Some(s"$name: fingerprint $fp, committed ${want.getOrElse("none")}")
    }
    mismatches.foreach(m => ctx.say(s"CHECK FAILED $m"))

    // timed passes: each in a new seeded order; their number depends on
    // --seconds only, never on how fast a pass runs
    val nPasses = math.max(2, math.round(ctx.seconds * PassesPerSecond).toInt)
    def pass(): Seq[(String, Double)] = rng.shuffle(queries).map { case (name, fn) =>
      val attrs = Map("layer" -> "operators", "query" -> name, "family" -> family(name))
      val t0 = System.nanoTime()
      val df = tr.span("operators.construct", attrs)(fn(spark, data))
      tr.addPhases(df.queryExecution.tracker) // analysis runs at construction
      tr.span("operators.execute", attrs)(df.write.format("noop").mode("overwrite").save())
      val ms = (System.nanoTime() - t0) / 1e6
      spark.catalog.clearCache()
      name -> ms
    }
    def passes(): Seq[(Seq[(String, Double)], Double)] = Seq.fill(nPasses)(Main.timed(pass()))
    // per-query median over the passes, and the median pass: the median
    // keeps one stalled pass from moving a run's figures, and unlike the
    // best pass it does not depend on whether the JIT happened to speed up
    // the last pass. The latency is the geometric mean of the
    // per-query medians: every query counts alike, and unlike the median of
    // nine it cannot jump between two queries whose times lie far apart
    def meanOfMedians(ps: Seq[(Seq[(String, Double)], Double)]): Double =
      Main.geomean(ps.flatMap(_._1).groupBy(_._1).values.map(q => Main.median(q.map(_._2))).toSeq)
    def medianRate(ps: Seq[(Seq[(String, Double)], Double)]): Double =
      queries.length / Main.median(ps.map(_._2))
    // a traced run measures its traced passes where an untraced run
    // measures, then repeats them untraced for the overhead; the repeat runs
    // warmer, so the overhead it gives is an upper bound
    val traced = if (!tr.enabled) Nil else {
      tr.start(); val t = passes(); tr.stop(); t
    }
    val beforePasses = host.sample()
    val plain = passes()
    val afterPasses = host.sample()
    plain.foreach { case (p, secs) => ctx.say(f"timed pass $secs%.2f s, ${p.length} queries") }
    val lat = plain.flatMap(_._1.map(_._2))
    val (mean, rate) = (meanOfMedians(plain), medianRate(plain))

    val e2e = Seq(
      Metric("setup_s", setupS, "s"),
      Metric("build_adj_s", host.time(buildS, beforeBuilds), "s"),
      Metric("op_mean_adj_ms", host.time(mean, beforePasses, afterPasses), "ms"),
      Metric("items_adj_per_s", host.rate(rate, beforePasses, afterPasses), "1/s"))
    val lines = Seq(
      f"query-suite suite_s ${Main.median(plain.map(_._2))}%.3f s (median of ${plain.length} passes, ${queries.length} queries)",
      f"query-suite query_p50_ms ${Main.median(lat)}%.1f ms (all timed runs)",
      f"query-suite query_gmean_ms $mean%.1f ms (geometric mean of per-query medians)",
      f"query-suite query_p90_ms ${Main.quantile(lat, 0.9)}%.1f ms (${lat.length} runs)",
      f"query-suite artifact_build_s $buildS%.3f s",
      f"query-suite items_per_s $rate%.4f 1/s",
      f"query-suite ref_job_ms ${host.ms()}%.2f ms")

    val layers = if (!tr.enabled) Nil else {
      val n = traced.length.toDouble
      val ops = tr.all.filter(_.name.startsWith("operators."))
      val exec = ops.filter(_.name == "operators.execute")
      val w = tr.total(ops)
      def wallS(ss: Seq[Span]) = ss.map(s => s.end - s.start).sum / 1000.0
      val bw = tr.total(tr.all.filter(_.name.startsWith("artifacts.build.")))
      Seq(
        Metric("operators.construct_s", wallS(ops.filter(_.name == "operators.construct")) / n, "s"),
        Metric("operators.execute_s", wallS(exec) / n, "s"),
        Metric("operators.jobs", w.jobs / n, "count"),
        Metric("operators.stages", w.stages / n, "count"),
        Metric("operators.tasks", w.tasks / n, "count"),
        Metric("operators.task_run_s", w.taskRunMs / 1000.0 / n, "s"),
        Metric("operators.task_cpu_s", w.taskCpuNs / 1e9 / n, "s"),
        Metric("operators.gc_s", w.gcMs / 1000.0 / n, "s"),
        Metric("operators.gap_s", tr.gapMs(ops) / 1000.0 / n, "s"),
        Metric("operators.parallelism", w.taskRunMs / 1000.0 / wallS(exec), "ratio"),
        Metric("operators.shuffle_read_mb", w.shuffleReadB / 1048576.0 / n, "MB"),
        Metric("operators.shuffle_write_mb", w.shuffleWriteB / 1048576.0 / n, "MB"),
        Metric("operators.spill_mb", w.spillB / 1048576.0 / n, "MB"),
        Metric("operators.analysis_s", tr.phasesMs("analysis") / 1000.0 / n, "s"),
        Metric("operators.optimization_s", tr.phasesMs("optimization") / 1000.0 / n, "s"),
        Metric("operators.planning_s", tr.phasesMs("planning") / 1000.0 / n, "s"),
        Metric("operators.cold_pass_s", coldPassS, "s"),
        Metric("artifacts.jobs", bw.jobs, "count"),
        Metric("artifacts.task_cpu_s", bw.taskCpuNs / 1e9, "s"),
        Metric("artifacts.store_mb", storeMb, "MB"),
        Metric("host.ref_job_ms", host.ms(), "ms")) ++
        Queries.keys.toSeq.map(f => Metric(s"operators.${f}_s",
          wallS(ops.filter(_.attrs.get("family").contains(f))) / n, "s")) ++
        builds.map { case (f, s) => Metric(s"artifacts.build_s.$f", s, "s") } ++
        Layers.client(traced.flatMap(_._1.map(_._2)), (mean, meanOfMedians(traced)),
          (rate, medianRate(traced))) :+
        Metric("host.canary_s", Main.canary(spark), "s")
    }
    Result(lat.length + warm.length, mismatches.length, e2e, layers, lines)
  }

  /** Materialise `df` with a noop write and return its order-insensitive
    * result fingerprint, observed on the rows the write consumes: row
    * count and the sum of per-row hashes, with floating-point values
    * rendered to ten significant digits so summation order cannot move the
    * hash. */
  def fingerprintedWrite(df: DataFrame): String = {
    val cols = df.schema.fields.map(f => norm(col(s"`${f.name}`"), f.dataType))
    val obs = Observation("fingerprint")
    df.observe(obs, count(lit(1)).as("n"),
        sum(xxhash64(cols.toIndexedSeq: _*).cast("decimal(38,0)")).as("h"))
      .write.format("noop").mode("overwrite").save()
    val r = obs.get
    s"${r("n")}:${Option(r("h")).map(_.asInstanceOf[java.math.BigDecimal].toPlainString).getOrElse("0")}"
  }

  private def norm(c: Column, t: DataType): Column = t match {
    case DoubleType | FloatType => format_string("%.9e", c.cast("double"))
    case ArrayType(et, _) => transform(c, x => norm(x, et))
    case StructType(fs) => struct(fs.toIndexedSeq.map(f => norm(c.getField(f.name), f.dataType).as(f.name)): _*)
    case _: MapType => to_json(c)
    case _ => c
  }
}
