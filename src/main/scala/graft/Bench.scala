package graft

import org.apache.spark.sql.SparkSession

/** Driver-contract benchmark main: times every SparkEntry query at
  * SPARK_GRAFT_SF_DIR and prints ONE JSON line
  * {"metric","value","unit","queries","sf"}.
  *
  * A warmup pass (tiny job + one parquet read per table family) runs
  * before timing so the first measured query doesn't absorb JVM/codegen/
  * file-listing startup costs; queries execute in sorted name order for
  * run-to-run comparability.
  */
object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    // fresh disk-artifact stores per run: the `build` map must price COLD
    // builds comparably across rounds — a store warmed by an earlier
    // session (Verify, a previous bench) would report ~0 s builds and
    // hide a build-cost regression. TWO roots because each family is
    // cold-built twice and reported as the min (see Artifacts.prewarmCold
    // — the r12 gate fired on 5/8 families from one host stall spanning
    // the single-sample prewarm). Deleted on exit; queries still get the
    // in-run warm store (the deployed steady state).
    val coldStores = Seq.fill(2)(java.nio.file.Files
      .createTempDirectory("graft-bench-store").toString)
    val coldStore = coldStores.head
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.graft.artifacts.path", coldStore)
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    // warmup: the first shuffle/window/broadcast/codegen of a session costs
    // several seconds of one-time machinery init (shuffle system, Janino,
    // window exec, broadcast exchange) that would otherwise be billed to
    // whichever query happens to run first — exercise each once, on tiny
    // synthetic data, so measured times reflect the queries themselves.
    {
      import org.apache.spark.sql.functions._
      import org.apache.spark.sql.expressions.Window
      val t = spark.range(100000).selectExpr(
        "id", "id % 97 as g", "cast(id as decimal(38,4)) as d",
        "cast(id as string) as s", "array(id, id + 1) as arr")
      val dim = spark.range(97).selectExpr("id as g", "id * 2 as v")
      t.withColumn("x", explode(col("arr")))
        .join(broadcast(dim), "g")
        .groupBy("g").agg(sum("d").as("sd"), count(lit(1)).as("n"))
        .withColumn("rk", row_number().over(Window.partitionBy(col("g") % 7).orderBy(col("sd"))))
        .orderBy(col("sd").desc).limit(5)
        .write.format("noop").mode("overwrite").save() // warm the noop sink too
      Tables.names.foreach { tn =>
        try Tables(spark, sfDir, tn).limit(1).collect()
        catch { case _: Throwable => () }
      }
    }

    // host-noise canary: a PINNED synthetic workload (never change it —
    // cross-round comparability is its whole point) timed once before
    // the artifact builds and once before each sweep. The bench record
    // showed 60.5 → 66.6 → 73.7 s across two rounds of BIT-IDENTICAL
    // code: wall-time totals drift with the host, so every
    // round-over-round comparison must be read as a RATIO to the
    // canary, and the reported noise band (max/min across the canary's
    // in-run samples) bounds what a same-run swing can explain.
    def canaryOnce(): Double = {
      import org.apache.spark.sql.functions._
      val t0 = System.nanoTime()
      spark.range(20000000L)
        .selectExpr("id % 1000 as k", "id as v",
          "md5(cast(id % 100000 as string)) as s")
        .groupBy("k").agg(sum("v").as("sv"), count(lit(1)).as("n"),
          max("s").as("m"))
        .orderBy("k")
        .write.format("noop").mode("overwrite").save()
      (System.nanoTime() - t0) / 1e9
    }
    val canaryPre = canaryOnce()

    // artifact prewarm: the corpus-level build products (dedup pair graph
    // + components, corpus bigram LM, NB-labeled corpus, BPE merge table,
    // IVF centroids + inverted file, PQ codebook + code table, SRP band
    // tables) are built ONCE per corpus snapshot in a deployed pipeline
    // and read by every consumer. Billing the build to whichever query's
    // sweep-1 run happens to visit first (the r9 shape: q100 absorbed the
    // LM + dedup builds and topped the spread at 13.6 s) conflates build
    // cost with query cost — so the builds run HERE, each family timed
    // and reported as its own "build" entry, and the sweeps then measure
    // pure query cost. Every builder below is the exact shared getter the
    // queries call (same fingerprint keys), so nothing double-builds.
    // q74 still retrains inside its own timing by design — it IS the
    // training operator and its bench number must stay the training cost.
    // Each family is timed as the MIN over two genuinely-cold builds
    // (fresh store root + dropped L1s per repetition): one host stall can
    // no longer fire the gate — or mask a regression — by landing on a
    // family's only sample (the r12 false-positive shape; see
    // BENCHPROTOCOL.md).
    val builds = Artifacts.prewarmCold(spark, sfDir, coldStores)

    // three INTERLEAVED sweeps (sweep-major, not query-major), report the
    // per-query median across sweeps: back-to-back passes of one query
    // share any host stall that happens to span them (r2→r3 showed ±3×
    // ghost swings on untouched light queries from exactly that), while
    // sweeps separate a query's samples by the full ~40 s sweep length, so
    // one stall poisons at most one sample of each query. Sweep 1 still
    // pays each query's one-time plan + Janino codegen compile (~0.5-2 s),
    // which the median discards. Materialization is a noop-format WRITE,
    // not count(): count() lets Catalyst prune deterministic projections
    // (the election UDFs) and eliminate final sorts, under-measuring
    // exactly the work the queries claim to do. clearCache between runs:
    // queries that cache intermediates must re-execute them, not replay a
    // previous pass's blocks.
    val ordered = SparkEntry.queries.toSeq.sortBy(_._1)
    // a thrown query records -1, NEVER a wall-time: r7's schema drift made
    // 27 analysis-time failures "run" in ~0.06 s each and the round looked
    // FASTER — a failure must be impossible to mistake for a timing.
    def once(name: String,
        fn: (SparkSession, String) => org.apache.spark.sql.DataFrame): Double = {
      val t0 = System.nanoTime()
      val ok =
        try { fn(spark, sfDir).write.format("noop").mode("overwrite").save(); true }
        catch { case e: Throwable =>
          System.err.println(s"[bench] $name failed: ${e.getMessage}"); false }
      val secs = (System.nanoTime() - t0) / 1e9
      spark.catalog.clearCache()
      if (ok) secs else -1.0
    }
    val canaries = scala.collection.mutable.ArrayBuffer(canaryPre)
    val sweeps = Seq.fill(3) {
      canaries += canaryOnce() // one canary sample per sweep position
      ordered.map { case (name, fn) => name -> once(name, fn) }
    }
    // per-query MIN across sweeps, not median: r5 recorded a 5x "regression"
    // on three adjacent untouched queries (q16/q17/q18) because a host
    // stall spanned the same position of TWO sweeps — the median keeps any
    // artifact that hits 2 of 3 samples, while the min is the steady-state
    // cost and is what a regression check should compare. Sweep 1's
    // one-time plan+Janino compile is discarded by min just as it was by
    // median. The line carries "stat":"min" so rounds aren't compared
    // across different statistics.
    // any failed sweep poisons the query to -1 (min picks it up): a query
    // that fails intermittently is broken, not "sometimes fast".
    val results = ordered.map { case (name, _) =>
      name -> sweeps.map(_.toMap.apply(name)).min
    }
    val failed = results.collect { case (name, v) if v < 0 => name }
    // bounded precision: full doubles push the line past the driver's
    // 2000-char tail capture (r03/r04 both recorded parsed=null from a
    // mid-line truncation), so the line is rendered at decreasing
    // precision tiers until it fits — run-to-run noise exceeds 10 ms
    // (sub-second queries) and 100 ms (second-plus) anyway, so even the
    // coarsest tier loses nothing a regression check could use.
    def fmt(v: Double): String = BigDecimal(v)
      .setScale(3, BigDecimal.RoundingMode.HALF_UP).toString
    def fmtQ(v: Double, subSecScale: Int, secScale: Int): String = {
      val bd = BigDecimal(v).setScale(if (v >= 1.0) secScale else subSecScale,
        BigDecimal.RoundingMode.HALF_UP)
      val stripped = bd.underlying.stripTrailingZeros
      // avoid scientific notation from stripTrailingZeros (e.g. 6E+1)
      if (stripped.scale <= 0) bd.underlying.toBigInteger.toString
      else stripped.toPlainString
    }
    // total sums SUCCESSFUL queries only — a headline built on -1s (or on
    // instant failures) must not undercut a previous round's honest total.
    val total = results.map(_._2).filter(_ >= 0).sum
    // the three DECLARED exact-verification baselines (quarantined
    // quadratic twins of q29/q45/q62 — kept for the correctness gate, a
    // deployed pipeline never runs them) are 40–80% of a replica sweep's
    // aggregate, so the line also carries their sub-total and the
    // production-path remainder: cross-round perf reads should track
    // "prod", while "value" stays the full-inventory total for
    // comparability with earlier rounds.
    val baselineNames = Set("q28_jaccard_pairs", "q44_cosine_neardup",
      "q56_embedding_leakage",
      // r15: q30 joins the quarantined bucket — its pair-list output is
      // quadratic under exact copies (641× pair growth at the 10×
      // replica, the same output-law as the three exact twins); its
      // production sibling is q124's keep-decision form (bounded output)
      "q30_simhash_pairs",
      // r15: q120 is the AUDIT twin of the q123 production probe (it
      // carries the exact-join verification columns a deployed pipeline
      // never computes) — "prod" tracks q123 and quarantines q120
      "q120_bloom_decontaminate")
    val baselines = results
      .collect { case (n, v) if baselineNames(n) && v >= 0 => v }.sum
    val sfName = sfDir.split('/').last // basename: keeps the line short
    // key shortener for the last-resort tiers: the qNN prefix is unique
    // across the inventory, so "q16":0.47 carries the same signal as
    // "q16_json_extract":0.47 at ~40% of the characters.
    def shortKey(k: String): String = k.takeWhile(_ != '_')
    // min hides intermittent regressions (a change that stalls 2 of 3
    // sweeps reports only the fast sample), so the line also carries the
    // WORST per-query spreads (max - min across sweeps): top 8 above
    // 0.25 s, which also surfaces every first-sweep artifact build (ANN
    // index, dedup graph, BPE table) the min legitimately excludes —
    // the cold costs stay visible in the same line the steady-state
    // numbers come from. ~12 chars each against a ~770-char budget
    // reserve. Keys use the unique qNN prefix.
    val spreads = ordered.map { case (name, _) =>
      val samples = sweeps.map(_.toMap.apply(name))
      name -> (samples.max - samples.min)
    }.filter { case (name, v) => v > 0.25 && !failed.contains(name) }
      .sortBy(-_._2).take(8)
    val spreadJson =
      if (spreads.isEmpty) ""
      else spreads
        .map { case (k, v) => "\"" + shortKey(k) + "\":" + fmtQ(v, 2, 2) }
        .mkString(""","spread":{""", ",", "}")
    // explicit cold costs: sweep 1's time for queries whose first run is
    // >2x their steady-state min AND >0.5 s absolute — that's the one-time
    // artifact build (ANN index, dedup graph, BPE table) plus plan+Janino
    // compile. spread carries the same signal implicitly (max-min), but a
    // round-over-round build-cost regression check needs the first-sweep
    // time itself, machine-readable, not a derived gap.
    val colds = ordered.map { case (name, _) =>
      val first = sweeps.head.toMap.apply(name)
      val best = sweeps.map(_.toMap.apply(name)).min
      (name, first, best)
    }.filter { case (name, first, best) =>
      best >= 0 && first > 2 * best && first - best > 0.5 && !failed.contains(name)
    }.sortBy { case (_, first, _) => -first }.take(8)
    val coldJson =
      if (colds.isEmpty) ""
      else colds
        .map { case (k, v, _) => "\"" + shortKey(k) + "\":" + fmtQ(v, 2, 2) }
        .mkString(""","cold":{""", ",", "}")
    // per-family artifact build cost (prewarm pass, before sweep 1): the
    // one-time corpus-snapshot cost a deployed pipeline amortizes across
    // every consumer. Reported separately so per-query numbers measure
    // queries, machine-comparably across rounds; each figure is the MIN
    // over two cold builds ("bstat":"min2" — don't compare against
    // single-sample rounds ≤ r12 without that caveat); a -1 marks a
    // failed build (its consumers will also show as failed queries).
    val buildJson = builds
      .map { case (k, v) => "\"" + k + "\":" + fmtQ(v, 2, 2) }
      .mkString(""","build":{""", ",", """},"bstat":"min2"""")
    // canary summary: min = the host's steady-state speed this run (the
    // denominator for cross-round ratios), noise = max/min across the 4
    // in-run samples (what same-host drift can explain WITHIN this run),
    // norm = total/canary — the RECORDED drift-discounted statistic
    // (r14's +8.3% driver window was explainable only by BENCHPROTOCOL
    // prose; cross-round reads should compare norm, not raw totals)
    val canaryMin = canaries.min
    val canaryNoise = canaries.max / canaries.min
    // qnorm = MEDIAN per-query (time / canary) ratio: norm (= Σq/canary)
    // is dominated by the handful of multi-second queries, so a
    // driver-vs-builder window discrepancy in norm alone can't say
    // whether the fleet drifted or three heavies did (the r16 read:
    // driver norm +7.7% against flat builder windows, attributed only
    // by prose). The median moves only when the BULK of the inventory
    // moves; each individual query's own norm is already derivable from
    // the line (queries[q] / canary), so a qnorm shift is attributable
    // per query from the same JSON (BENCHPROTOCOL "qnorm").
    val qnormJson =
      if (failed.isEmpty && results.nonEmpty) {
        val ratios = results.map(_._2 / canaryMin).sorted
        val mid = ratios.length / 2
        val med = if (ratios.length % 2 == 1) ratios(mid)
          else (ratios(mid - 1) + ratios(mid)) / 2
        s""","qnorm":${fmtQ(med, 3, 3)}"""
      } else ""
    val normJson =
      if (failed.isEmpty) s""","norm":${fmtQ(total / canaryMin, 2, 2)}$qnormJson"""
      else ""
    val canaryJson = f""","canary":${fmtQ(canaryMin, 2, 2)}%s,"noise":${
      fmtQ(canaryNoise, 2, 2)}%s$normJson%s"""
    // per-family build regression gate (sf0.1 only — the envelope is a
    // measured sf0.1 profile): each family's COLD build, as a ratio to
    // the in-run canary, must stay within 2× its recorded envelope.
    // Ratios to the canary — not absolute seconds — so a slow host
    // can't trip it and a fast host can't mask a real regression.
    // Envelope recorded round 12 (measured build/canary ratios on a run
    // whose canary noise was 2.55x — the values carry that margin
    // already, and the gate adds 2x on top; see BENCHPROTOCOL.md).
    // ivf RE-PROFILED r18 (r17 verdict task 2): the r12 value (1.5)
    // predated the deliberate N^1.5 two-level Lloyd trainer, which costs
    // ~+20% at sf0.1 (nlist=40, tiny-job-overhead bound) to win 70→16 s
    // at organic sf10 — post-change builder windows measured 1.95/2.15
    // (r17) and 1.58/2.21 (r18, canary noise 1.43/1.62), so 2.2 = the
    // measured band's ceiling; the r17 driver trip (4.43 under record
    // 2.78x noise) sits at the new gate's edge by design. "spans" added
    // r18 (q117's persisted run-table; measured 1.29/1.38 same windows).
    val buildEnvelope = Map("dedup" -> 3.0, "lm" -> 2.7, "lex" -> 2.0,
      "nb" -> 0.9, "bpe" -> 2.2, "ivf" -> 2.2, "pq" -> 2.7, "srp" -> 0.4,
      "spans" -> 1.4,
      // measured r14-b: 1.71 s / 1.62 canary (the benchmark-gram distinct
      // + lane build; gram5 itself bills to lex)
      "bloom" -> 1.1)
    // a FAILED build (-1 sentinel) is a violation, not an exemption —
    // filtering it out would let the line report "bgate":"pass" in the
    // very run a family's build crashed
    val gateViolations = builds.collect {
      case (fam, secs) if secs < 0 && buildEnvelope.contains(fam) =>
        s"$fam:failed"
      case (fam, secs) if secs >= 0 && buildEnvelope.contains(fam) &&
        secs / canaryMin > 2 * buildEnvelope(fam) => fam
    }
    // the envelope is an sf0.1 profile: at any other SF the gate does
    // not apply and the field is OMITTED (never a vacuous "pass")
    val gateJson =
      if (sfName != "sf0.1") ""
      else if (gateViolations.isEmpty) ""","bgate":"pass""""
      else gateViolations.map("\"" + _ + "\"")
        .mkString(""","bgate":[""", ",", "]")
    if (sfName == "sf0.1") gateViolations.foreach(f => System.err.println(
      s"[bench] BUILD GATE: $f exceeded 2x its canary-relative envelope"))
    // failed queries additionally listed by name — a reader scanning only
    // the headline can't miss them, and a diff vs last round's list is a
    // one-glance regression check. Rendered with the TIER's key function
    // so the names always match the queries-map keys of the same line.
    def failedJson(key: String => String): String =
      if (failed.isEmpty) ""
      else failed.map(n => "\"" + key(n) + "\"")
        .mkString(""","failed":[""", ",", "]")
    // a round with ANY failed query renders its total as null plus an
    // "incomplete":true flag: summing only the survivors makes a broken
    // round look FASTER than an honest full one, and round-over-round
    // total comparisons must not silently use a partial sum.
    val totalJson =
      if (failed.isEmpty) fmt(total) else "null"
    val incompleteJson = if (failed.isEmpty) "" else ""","incomplete":true"""
    val baselinesJson =
      if (failed.isEmpty)
        s""","baselines":${fmt(baselines)},"prod":${fmt(total - baselines)}"""
      else ""
    // the core-count contract, driver-verifiable (r18 verdict task 2):
    // the line itself says which master it ran under, so a scaling
    // check can never wonder whether $SPARK_GRAFT_CPUS was honored —
    // see BENCHPROTOCOL "core scaling" for the SF at which scaling is
    // measurable (sf0.1 is job-overhead-bound; ratios ≈ 1 are expected)
    val cpusJson =
      s""","cpus":${cpus.toIntOption.getOrElse(-1)},"master":"local[$cpus]""""
    def render(subSecScale: Int, secScale: Int, key: String => String): String = {
      val qs = results
        .map { case (k, v) => "\"" + key(k) + "\":" + fmtQ(v, subSecScale, secScale) }
        .mkString("{", ",", "}")
      s"""{"metric":"total","value":$totalJson,"unit":"sec","stat":"min"$incompleteJson$baselinesJson,"queries":$qs$spreadJson$coldJson$buildJson$canaryJson$gateJson${failedJson(key)}$cpusJson,"sf":"$sfName"}"""
    }
    // The driver records only the LAST 2000 chars of stdout, which also
    // contain sbt's trailing "[success] Total time: ..." line (~80 chars):
    // r03-r05 all clipped the JSON head and recorded parsed=null. Two
    // defenses: (a) budget the rendered line to 1870 chars so line +
    // newline + trailer fit the tail with margin; (b) print the line TWICE
    // back-to-back — even if the first copy is clipped mid-line, the
    // second complete copy (which never starts mid-line, so any
    // line-oriented parser skips the clipped fragment) still fits.
    val full = identity[String] _
    // never shorten if two queries would collide on the same qNN prefix
    val short =
      if (results.map(r => shortKey(r._1)).distinct.size == results.size) shortKey _
      else full
    val line = Seq((2, 1, full), (1, 1, full), (3, 3, short), (2, 2, short))
      .map { case (a, b, k) => render(a, b, k) }
      .find(_.length <= 1870)
      .getOrElse(render(1, 1, short))
    println(line)
    println(line)
    spark.stop()
    coldStores.foreach(s =>
      Publish.localFs.delete(new org.apache.hadoop.fs.Path(s), true))
  }
}
