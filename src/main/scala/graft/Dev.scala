package graft

import java.nio.file.{Files, Paths}
import org.apache.spark.sql.SparkSession

/** Developer main, not part of the driver contract. With no arguments it
  * runs the flagship smoke (`SparkEntry.entry`); otherwise the first
  * argument names one of [[subcommands]]: plan and oracle inspection,
  * artifact-store upkeep, the organic sf1/sf10 trees with the timing and
  * correctness runs over them, ledger source/sink throughput, and the
  * soak and cross-JVM handoff checks no single-JVM spec can make. An
  * unknown subcommand fails before any SparkSession is built. */
object Dev {
  private type Command = (SparkSession, Array[String]) => Unit

  private val Sf001 = "/root/testdata/sf0.01"
  private val Sf01 = "/root/testdata/sf0.1"
  private val OrganicSf1 = "/tmp/graft_sf1n"

  private val commands: Map[String, Command] = Map(
    "explain" -> explain, "explainall" -> explainAll, "dump" -> dump,
    "oracle" -> oracle, "prewarm" -> prewarm, "storegc" -> storeGc,
    "gensf1" -> ((s, a) => genOrganic(s, a.lift(1).getOrElse(OrganicSf1), 1L)),
    // the next organic decade: fact counts ×10 past sf1 — ~500k docs,
    // 200k vectors, 15M lineitems. Pair with `timevs /tmp/graft_sf10n
    // <queries>` for the two-decade pair-family table (SCALING §6c-r17).
    "gensf10" -> ((s, a) => genOrganic(s, a.lift(1).getOrElse("/tmp/graft_sf10n"), 10L)),
    "verifysf1" -> verifySf1, "scale" -> scale, "timevs" -> timeVs,
    "ledger" -> ledger, "ledgerbench" -> ledgerBench,
    "writebench" -> writeBench, "soak" -> soak,
    "admissionhandoff" -> admissionHandoff)

  /** Every first argument `main` accepts (no argument runs the flagship). */
  val subcommands: Seq[String] = commands.keys.toSeq.sorted

  def main(args: Array[String]): Unit = {
    val command: Command = args.headOption match {
      case None => flagship
      case Some(name) => commands.getOrElse(name,
        throw new IllegalArgumentException(s"unknown Dev subcommand '$name'; " +
          s"valid: ${subcommands.mkString(", ")} (none runs the flagship)"))
    }
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "8")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    command(spark, args)
    spark.stop()
  }

  private def flagship(spark: SparkSession, args: Array[String]): Unit = {
    val entry = SparkEntry.entry(spark)
    entry.show(5, truncate = false)
    println(s"[dev] entry rows = ${entry.count()}")
  }

  private def explain(spark: SparkSession, args: Array[String]): Unit = {
    val dir = args.lift(1).getOrElse(Sf01)
    val names = args.drop(2) match {
      case e if e.nonEmpty => e.toSeq
      case _ => Seq("q02_filter_project", "q03_segment_revenue",
        "q08_latest_event", "q41_delivery_refinement")
    }
    names.foreach { n =>
      println(s"========== $n ==========")
      SparkEntry.queries(n)(spark, dir).explain("formatted")
    }
  }

  /** Every query's formatted physical plan, one file per query
    * (`<outDir>/<query>_<suffix>.txt`) — before/after plan evidence for an
    * optimisation. Artifacts prewarm first so consumer plans show the
    * persisted-artifact scan, not a build. */
  private def explainAll(spark: SparkSession, args: Array[String]): Unit = {
    val dir = args.lift(1).getOrElse(Sf01)
    val outDir = args.lift(2).getOrElse("plans/r18")
    val suffix = args.lift(3).getOrElse("before")
    Files.createDirectories(Paths.get(outDir))
    val allNames = args.drop(4) match {
      case e if e.nonEmpty => e.toSeq
      case _ => SparkEntry.queries.keys.toSeq.sorted
    }
    prewarmVerbose(spark, dir)
    allNames.foreach { n =>
      val txt = SparkEntry.queries(n)(spark, dir).queryExecution
        .explainString(org.apache.spark.sql.execution.FormattedMode)
      Files.write(Paths.get(s"$outDir/${n}_$suffix.txt"), txt.getBytes("UTF-8"))
    }
    println(s"[dev] wrote ${allNames.size} plans to $outDir (suffix $suffix)")
  }

  /** Single-query Verify: one query's parquet, so an oracle can be iterated
    * against it without the full Verify sweep. */
  private def dump(spark: SparkSession, args: Array[String]): Unit = {
    val dir = args.lift(1).getOrElse(Sf001)
    val out = args.lift(2).getOrElse("/tmp/dev_dump")
    args.drop(3).foreach { n =>
      SparkEntry.queries(n)(spark, dir).write.mode("overwrite").parquet(s"$out/$n")
      println(s"[dev] dumped $n -> $out/$n")
    }
  }

  /** One query's oracle SQL, for DuckDB-side iteration without a Verify
    * sweep. */
  private def oracle(spark: SparkSession, args: Array[String]): Unit =
    args.drop(1).foreach { n =>
      Files.write(Paths.get(s"/tmp/oracle_$n.sql"),
        SparkEntry.oracleSql(n).getBytes("UTF-8"))
      println(s"[dev] wrote /tmp/oracle_$n.sql")
    }

  /** Build (or disk-read) every artifact family for a data dir, printing
    * per-family seconds. Run twice from separate sbt invocations with the
    * same SPARK_GRAFT_ARTIFACTS to show the cross-JVM store: the second
    * JVM's builds are reads (~0 s). */
  private def prewarm(spark: SparkSession, args: Array[String]): Unit =
    prewarmVerbose(spark, args.lift(1).getOrElse(Sf001))

  private def prewarmVerbose(spark: SparkSession, dir: String): Unit =
    Artifacts.prewarm(spark, dir).foreach { case (fam, secs) =>
      println(f"[dev] build $fam @ $dir: $secs%.2f s")
    }

  /** Age out cold store entries (default 7 days). */
  private def storeGc(spark: SparkSession, args: Array[String]): Unit = {
    val root = ArtifactStore.rootOf(spark).get
    val hours = args.lift(1).map(_.toLong).getOrElse(7L * 24)
    val gone = ArtifactStore.gc(root, hours * 3600 * 1000)
    println(s"[dev] store gc @ $root: removed ${gone.size} entries")
    gone.foreach(p => println(s"[dev]   $p"))
  }

  /** The organic-sf1 correctness surface: ensure the FK-valid organic tree
    * exists, then run the full Verify dump over it — the output dir then
    * holds every query's parquet + oracle_sql.json, DuckDB-comparable with
    * scripts/check.py exactly like the driver's sf0.01 gate:
    * {{{
    *   sbt "runMain graft.Dev verifysf1" && \
    *   python3 scripts/check.py /tmp/graft_sf1n /tmp/verify_sf1n
    * }}} */
  private def verifySf1(spark: SparkSession, args: Array[String]): Unit = {
    val dst = args.lift(1).getOrElse(OrganicSf1)
    val out = args.lift(2).getOrElse("/tmp/verify_sf1n")
    genOrganic(spark, dst, 1L)
    Verify.main(Array(dst, out)) // getOrCreate reuses this session
  }

  /** 10× scale sanity (default: the full query inventory): replicate sf0.1
    * with shifted keys (10× rows AND 10× keys → per-key state constant, the
    * realistic growth model), then compare per-query seconds vs sf0.1. A
    * healthy operator scales ≈ linearly (ratio ≈ 10 / cores-limited); a
    * superlinear ratio flags a blocking-key or candidate-pair blowup. */
  private def scale(spark: SparkSession, args: Array[String]): Unit = {
    import org.apache.spark.sql.functions._
    val dst = "/tmp/graft_sf1"
    def replicate(table: String, shifts: Map[String, Long],
        nCopies: Int = 10): Unit = {
      val out = s"$dst/$table.parquet"
      // cache keyed on a fingerprint of the source PART FILES (a
      // directory entry's own size/mtime misses in-place part
      // rewrites) + replication params — stale replicas after
      // testdata/generator changes would silently corrupt ratios
      val fp = s"${Tables.parquetFingerprint(spark, Sf01, table)}:" +
        s"$nCopies:${shifts.toSeq.sorted.mkString(",")}"
      val marker = Paths.get(s"$out.fingerprint")
      if (Files.exists(Paths.get(out)) && Files.exists(marker) &&
          new String(Files.readAllBytes(marker)) == fp) return
      val base = Tables(spark, Sf01, table)
      val parts = (0 until nCopies).map { i =>
        shifts.foldLeft(base) { case (df, (c, stride)) =>
          df.withColumn(c, col(c) + lit(i * stride))
        }
      }
      parts.reduce(_ unionByName _).write.mode("overwrite").parquet(out)
      Files.write(marker, fp.getBytes)
    }
    replicate("documents", Map("doc_id" -> 1000000L))
    // stride must NOT collide with q45's planted-id offset (+1_000_000)
    replicate("embeddings", Map("vec_id" -> 10000000L))
    replicate("events", Map("event_id" -> 10000000L, "user_id" -> 10000L))
    replicate("lineitem", Map("l_orderkey" -> 10000000L))
    replicate("orders", Map("o_orderkey" -> 10000000L, "o_custkey" -> 1000000L))
    replicate("customer", Map("c_custkey" -> 1000000L))
    // dimension tables stay FIXED as the fact side grows (a 10× corpus
    // still has 5 regions and 25 nations; lineitem's l_partkey/l_suppkey
    // aren't shifted, so part/supplier must keep their key space too).
    // Copying them with unshifted keys would duplicate every PK 10× and
    // multiply join outputs — wrong DATA, not a wrong plan.
    Seq("region", "nation", "supplier", "part").foreach(t =>
      replicate(t, Map.empty, nCopies = 1))
    val names = args.drop(1) match {
      case e if e.nonEmpty => e.toSeq
      case _ => SparkEntry.queries.keys.toSeq.sorted
    }
    compareDirs(spark, dst, names, "10x")
  }

  /** Time queries at sf0.1 vs an arbitrary comparison dir (e.g. the organic
    * sf1 tree from `gensf1`). */
  private def timeVs(spark: SparkSession, args: Array[String]): Unit =
    compareDirs(spark, args.lift(1).getOrElse(OrganicSf1),
      args.drop(2).toSeq, "cmp")

  /** Per-query seconds at sf0.1 vs `big`, and their ratio. Both dirs'
    * artifact stores prewarm first (the Bench protocol): ratios must
    * measure queries, not whichever query visits a store first; the
    * build times print too — the build-cost ratio is its own scaling
    * datum. Each query runs once on sf0.1 to warm plan/codegen, then is
    * timed at both sizes as a noop write (full-plan evaluation, as in
    * Bench), the cache cleared after each run. */
  private def compareDirs(spark: SparkSession, big: String, names: Seq[String],
      label: String): Unit = {
    Seq(Sf01, big).foreach(prewarmVerbose(spark, _))
    names.foreach { n =>
      val fn = SparkEntry.queries(n)
      def run(dir: String): Double = {
        val t0 = System.nanoTime()
        fn(spark, dir).write.format("noop").mode("overwrite").save()
        val secs = (System.nanoTime() - t0) / 1e9
        spark.catalog.clearCache()
        secs
      }
      run(Sf01)
      val small = run(Sf01)
      val large = run(big)
      println(f"[dev] $n%-28s sf0.1=$small%6.2f s  $label=$large%7.2f s  ratio=${large / small}%5.1f")
    }
  }

  private def ledger(spark: SparkSession, args: Array[String]): Unit = {
    // drive the DSv2 ledger source end-to-end: write a topic dir, read
    // it rate-limited through the public format("graft-ledger") API
    val topic = Files.createTempDirectory("dev_topic")
    val p0 = topic.resolve("partition-0"); Files.createDirectories(p0)
    Files.write(p0.resolve("ledger-1.log"),
      (0 until 10).map(i => s"k$i,payload-$i").mkString("\n").getBytes)
    val q = spark.readStream.format("graft-ledger")
      .option("path", topic.toString)
      .option("maxRatePerPartition", "4")
      .load()
      .writeStream.format("memory").queryName("dev_ledger")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination(60000)
    spark.sql("select * from dev_ledger").show(20, truncate = false)
    println(s"[dev] ledger rows = ${spark.sql("select count(*) from dev_ledger").collect().head.getLong(0)}")
  }

  private def ledgerBench(spark: SparkSession, args: Array[String]): Unit = {
    // source throughput vs the reference's configured envelope
    // (1000 entries/s/partition default cap, PulsarConf.scala:6-10):
    // 8 partitions × 50k entries streamed uncapped through the full
    // DSv2 path (admission → plan → bounded readers → sink)
    val nParts = 8
    val perPart = 50000
    val topic = Files.createTempDirectory("ledgerbench_topic")
    (0 until nParts).foreach { p =>
      val dir = topic.resolve(s"partition-$p"); Files.createDirectories(dir)
      // 5 ledgers per partition to exercise segment walking
      (0 until 5).foreach { l =>
        val rows = (0 until perPart / 5)
          .map(i => s"k$i,{\"payload\":\"entry-$p-$l-$i\"}").mkString("\n")
        Files.write(dir.resolve(s"ledger-${l + 1}.log"), rows.getBytes)
      }
    }
    val t0 = System.nanoTime()
    val q = spark.readStream.format("graft-ledger")
      .option("path", topic.toString)
      .option("maxRatePerPartition", "1000000000")
      .load()
      .writeStream.format("noop")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    val finished = q.awaitTermination(300000)
    val secs = (System.nanoTime() - t0) / 1e9
    val total = nParts.toLong * perPart
    require(finished, s"ledgerbench did not finish within 300 s")
    println(f"[dev] ledger source (bulk): $total entries in $secs%.2f s = ${total / secs}%.0f entries/s (${total / secs / nParts}%.0f per partition; reference cap 1000/s/partition)")

    // second pass, reference-shaped micro-batches: admission caps each
    // batch at rate × batchInterval per partition (the allocator's
    // quota math), batches run back-to-back under AvailableNow — this
    // prices the per-batch machinery (offset walk, plan, commit), not
    // just the bulk scan above
    val t1 = System.nanoTime()
    val q2 = spark.readStream.format("graft-ledger")
      .option("path", topic.toString)
      .option("maxRatePerPartition", "6250") // 8 × 6250 × 1 s = 50k/batch
      .load()
      .writeStream.format("noop")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    require(q2.awaitTermination(300000), "micro-batch pass did not finish within 300 s")
    val secs2 = (System.nanoTime() - t1) / 1e9
    val batches = q2.recentProgress.count(_.numInputRows > 0)
    println(f"[dev] ledger source (micro): $total entries / $batches batches in $secs2%.2f s = ${total / secs2}%.0f entries/s (${secs2 / batches}%.3f s/batch incl. admission+plan+commit)")
  }

  private def writeBench(spark: SparkSession, args: Array[String]): Unit = {
    // write-path throughput: 400k entries through the DSv2 batch
    // append (encode → staged pieces → merged segments → atomic
    // publish), then a full read-back count validates what landed.
    // The reference has no producer to benchmark (PulsarProducer is a
    // stub); this documents the engine's own write envelope.
    import org.apache.spark.sql.functions._
    val wtopic = Files.createTempDirectory("writebench_topic")
    val n = 400000L
    val df = spark.range(n).select(
      (col("id") % 8).cast("int").as("partition"),
      concat(lit("k"), col("id")).as("key"),
      encode(concat(lit("{\"payload\":\"entry-"), col("id"), lit("\"}")),
        "UTF-8").as("value"))
    val t0 = System.nanoTime()
    df.write.format("graft-ledger").option("path", wtopic.toString)
      .mode("append").save()
    val secs = (System.nanoTime() - t0) / 1e9
    val back = spark.read.format("graft-ledger")
      .option("path", wtopic.toString).load().count()
    require(back == n, s"read-back $back != $n")
    println(f"[dev] ledger write: $n entries in $secs%.2f s = ${n / secs}%.0f entries/s (read-back verified)")
  }

  private def soak(spark: SparkSession, args: Array[String]): Unit = {
    // Long-lived stream soak: ONE topic, 200+ rate-limited micro-batches
    // through the full GeotagPipeline (ledger source w/ in-source JSON
    // decode → validate → per-key history merge + dedup/cap → election →
    // bucketed upsert), with a concurrent LedgerMaintenance thread aging
    // out consumed segments WHILE the stream runs, one kill/resume
    // mid-flight, and exact closed-form accounting at the end. The
    // per-key history cap (100) engages ~20% in, so the back half of the
    // run IS the bounded-state steady state — flat per-batch latency
    // there is the claim that the 8-batch throughput row (SCALING §3)
    // holds over time.
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.streaming.{StreamingQueryListener, Trigger}
    import org.apache.spark.sql.streaming.StreamingQueryListener._
    import graft.streaming.{ConsistencyChecker, GeotagPipeline}
    import graft.sources.LedgerMaintenance
    val nParts = 4
    val nKeys = 400
    val perKey = 520                   // 5× the cap → cap engages early
    val total = nKeys * perKey         // 208k rows
    val cap = 100                      // GeotagPipeline's dedupAndCap cap
    val jMin = perKey - cap            // first retained point index per key
    val rate = 250                     // ×4 parts ×1 s interval = 1000/batch → ~208 batches
    val killAt = args.lift(1).map(_.toInt).getOrElse(100)
    val topic = Files.createTempDirectory("soak_topic").toString
    val table = Files.createTempDirectory("soak_table").toString + "/lookup"
    val ckpt = Files.createTempDirectory("soak_ckpt").toString

    // row id = k + nKeys*j (key k, point index j): ts_ms == id, so per
    // key the ts sequence is strictly increasing and j == ts div nKeys
    // — the retained set after dedup+cap is closed-form (j >= 400).
    // 10 separate appends → ≥10 ledger segments per partition, giving
    // the maintenance thread real segment boundaries to age out.
    (0 until 10).foreach { chunk =>
      spark.range(chunk.toLong * total / 10, (chunk + 1).toLong * total / 10)
        .select(
          (col("id") % nKeys).cast("int").as("k"),
          (col("id") / nKeys).cast("int").as("j"),
          col("id").as("ts"))
        .select(
          (col("k") % nParts).as("partition"),
          concat(lit("h"), col("k")).as("key"),
          encode(concat(
            lit("{\"addr_hash\":\"h"), col("k"),
            lit("\",\"type\":\"DEL\",\"lat\":"), lit(12.0) + col("j") * 0.00001,
            lit(",\"lng\":"), lit(77.0) + col("j") * 0.00001,
            lit(",\"accuracy\":"), lit(10) + col("j") % 150,
            lit(",\"ts_ms\":"), col("ts"), lit("}")), "UTF-8").as("value"))
        .write.format("graft-ledger").option("path", topic)
        .mode("append").save()
    }

    // open-fd census via /proc: the first soak run DIED on fd
    // exhaustion (unclosed Files.list streams in the ledger listing,
    // leaked once per driver tick) — the count per batch proves the
    // leak stays fixed, not just that one run survived.
    def openFds(): Long = {
      val d = new java.io.File("/proc/self/fd").list()
      if (d == null) -1L else d.length.toLong
    }
    val progresses = new java.util.concurrent.CopyOnWriteArrayList[
      (Long, Double, Long, String, Long)]() // (rows, secs, heapMB, endOffsets, fds)
    spark.streams.addListener(new StreamingQueryListener {
      override def onQueryStarted(e: QueryStartedEvent): Unit = ()
      override def onQueryIdle(e: QueryIdleEvent): Unit = ()
      override def onQueryTerminated(e: QueryTerminatedEvent): Unit = ()
      override def onQueryProgress(e: QueryProgressEvent): Unit = {
        val p = e.progress
        if (p.numInputRows > 0) {
          val rt = Runtime.getRuntime
          progresses.add((p.numInputRows,
            // triggerExecution is the whole batch wall time (the other
            // durationMs entries are its sub-steps — summing them
            // would double-count)
            p.durationMs.getOrDefault("triggerExecution", 0L).toDouble / 1e3,
            (rt.totalMemory - rt.freeMemory) / (1024 * 1024),
            p.sources.head.endOffset, openFds()))
        }
      }
    })

    // maintenance thread: every 2 s age out segments every partition
    // has fully consumed (per the LATEST reported committed offsets) —
    // the broker-side retention churn a year-long deployment sees,
    // running CONCURRENTLY with the stream's own offset walk.
    @volatile var stopMaint = false
    var deletedSegments = 0
    val maint = new Thread(() => {
      while (!stopMaint) {
        Thread.sleep(2000)
        if (!progresses.isEmpty) {
          val off = progresses.get(progresses.size - 1)._4
          try deletedSegments += LedgerMaintenance.retainBelowCommitted(topic, off).size
          catch { case e: Exception =>
            println(s"[soak] maintenance error (non-fatal): ${e.getMessage}") }
        }
      }
    })
    maint.setDaemon(true); maint.start()

    def startStream() = GeotagPipeline.stream(spark, topic, table, ckpt, rate)
      .trigger(Trigger.AvailableNow()).start()

    // phase 1: run to ~killAt batches, then KILL mid-flight
    val q1 = startStream()
    while (q1.isActive && progresses.size < killAt) Thread.sleep(200)
    q1.stop(); q1.awaitTermination()
    val batchesAtKill = progresses.size
    println(s"[soak] killed after $batchesAtKill batches; " +
      s"deleted $deletedSegments segments so far; resuming from checkpoint")
    // phase 2: resume from the checkpoint, drain to the end
    val q2 = startStream()
    require(q2.awaitTermination(900000), "soak resume did not finish in 900 s")
    stopMaint = true
    val batches = progresses.size
    val rows = (0 until batches).map(progresses.get(_)._1).sum
    require(rows == total, s"stream processed $rows rows, produced $total")

    // exact accounting: dedup key (lat,lng,acc) is unique per (key,j)
    // and ts is per-key increasing, so iterated merge+dedup+cap
    // retains EXACTLY the last `cap` points of each key: j in
    // [perKey-cap, perKey) — closed-form, no replay needed.
    val sink = spark.read.parquet(table)
    val n = sink.count()
    require(n == nKeys.toLong * cap,
      s"sink has $n rows, expected ${nKeys * cap} ($nKeys keys x cap $cap)")
    val badKeys = sink.groupBy("addr_hash")
      .agg(count(lit(1)).as("c"),
        min(expr(s"ts_ms div $nKeys")).as("jmin"),
        max(expr(s"ts_ms div $nKeys")).as("jmax"))
      .filter(col("c") =!= cap || col("jmin") =!= jMin ||
        col("jmax") =!= (perKey - 1))
      .count()
    require(badKeys == 0, s"$badKeys keys retain the wrong history window")
    // reconcile through the checker over the SURVIVING log range: every
    // row the cap semantics say must be retained is in the sink
    val missing = ConsistencyChecker.report(
      ConsistencyChecker.missingFromSink(spark, topic, sink,
        keyCols = Seq("addr_hash", "ts_ms"),
        decode = df => GeotagPipeline.validate(df)
          .filter(expr(s"ts_ms div $nKeys") >= jMin)
          .select(col("addr_hash"), col("ts_ms")),
        sourceOptions = Map(
          "format" -> "json", "jsonSchema" -> GeotagPipeline.PayloadDdl)),
      Seq("addr_hash", "ts_ms")).missingCount
    require(missing == 0, s"$missing retained rows missing from sink")

    // latency flatness across the cap-engaged steady state (batch ~45
    // on): the mean of the last 50 batches vs the 50 ending at the
    // kill point — growth there would be unbounded-state drag. The
    // resume's first batch re-pays stream-start machinery; exclude it.
    def avg(s: Seq[Double]): Double = s.sum / s.size
    val secs = (0 until batches).map(progresses.get(_)._2)
    val earlySteady = avg(secs.slice(batchesAtKill - 50, batchesAtKill))
    val late = avg(secs.slice(batches - 50, batches))
    val heapMax = (0 until batches).map(progresses.get(_)._3).max
    val fdSeries = (0 until batches).map(progresses.get(_)._5)
    // decile means of per-batch seconds: the SHAPE of any drift (step
    // at cap engagement? monotone creep? one stall?) — not just two
    // window means
    val deciles = (0 until 10).map { d =>
      avg(secs.slice(d * batches / 10, (d + 1) * batches / 10))
    }
    println("[soak] latency deciles s/batch: " +
      deciles.map(v => f"$v%.2f").mkString(" "))
    println(f"[soak] batches=$batches rows=$rows killResumeAt=$batchesAtKill " +
      f"deletedSegments=$deletedSegments steadyEarly=$earlySteady%.3f s/batch " +
      f"steadyLate=$late%.3f s/batch ratio=${late / earlySteady}%.2f " +
      f"heapMax=${heapMax}MB fdFirst=${fdSeries.head} fdLast=${fdSeries.last} " +
      f"missing=0 badKeys=0")
    require(late / earlySteady < 1.5,
      f"per-batch latency grew ${late / earlySteady}%.2fx across the steady state")
    // fd bound: a leaky listing grows the fd table linearly in batches
    // (the first soak run leaked ~10-15 per batch and died at the 20k
    // ulimit); steady state must hold the count roughly flat
    require(fdSeries.last < fdSeries.head + batches,
      s"open fds grew ${fdSeries.head} -> ${fdSeries.last} over $batches batches — leak")
  }

  private def admissionHandoff(spark: SparkSession, args: Array[String]): Unit = {
    // Cross-JVM lifecycle handoff: one JVM writes + re-buckets (phase
    // "write"), a FRESH JVM (phase "read") routes purely from the
    // persisted _PBK stamp and must (a) prune to a fraction of the
    // store's files and (b) still gate a clone. Run as two separate `sbt
    // runMain` invocations so the second genuinely starts with cold
    // caches (the ArtifactStore measured-handoff pattern).
    import org.apache.spark.sql.functions._
    import graft.streaming.{AdmissionStore, NearDupAdmission}
    import spark.implicits._
    val phase = args.lift(1).getOrElse("write")
    val root = args.lift(2).getOrElse("/tmp/graft_admission_handoff")
    val store = s"$root/store"; val kept = s"$root/kept"
    def hAlpha(n: Int): String =
      s"${(97 + n % 26).toChar}${(97 + (n / 26) % 26).toChar}${(97 + (n / 676) % 26).toChar}"
    def hDoc(i: Int): String = (0 until 8).map(k =>
      s"word${hAlpha((i * 7 + k) % 13)} tok${hAlpha(i * 8 + k)}").mkString(" ")
    phase match {
      case "write" =>
        val r = Paths.get(root)
        if (Files.exists(r)) {
          val st = Files.walk(r)
          try {
            import scala.jdk.CollectionConverters._
            st.sorted(java.util.Comparator.reverseOrder())
              .iterator().asScala.foreach(Files.delete(_))
          } finally st.close()
        }
        for (ep <- 0 until 3)
          NearDupAdmission.admit((ep * 100 until ep * 100 + 60)
            .map(i => (i.toLong, hDoc(i))).toDF("doc_id", "text"),
            ep.toLong, store, kept)
        val bands = s"$store/bands"
        val bytes = AdmissionStore
          .widthSignal(spark, bands, AdmissionStore.TargetBucketBytes)
          .storeBytes
        // force the lifecycle across the boundary: target sized so
        // the suggested K lands at 64
        val reports = NearDupAdmission.maintain(spark, store,
          math.max(1L, bytes / 64 + 1))
        require(reports.exists(r2 => r2.rebucketed && r2.k == 64),
          s"write phase did not re-bucket to 64: $reports")
        println(s"[dev] admissionhandoff write: store=$store " +
          s"K=${AdmissionStore.layoutK(spark, bands)} " +
          "— now run: runMain graft.Dev admissionhandoff read")
      case "read" =>
        val bands = s"$store/bands"
        val k = AdmissionStore.layoutK(spark, bands).getOrElse(
          sys.error("no _PBK — run the write phase first"))
        require(k == 64, s"fresh JVM read a wrong stamp: K=$k")
        // pruned probe: one doc touches ≤32 of the 64 buckets
        val probe = Seq((9999L, hDoc(1))).toDF("doc_id", "text")
        val banded = graft.operators.TextQueries.bandedOf(
          probe.select(col("doc_id"),
            graft.functions.TextFunctions.wordNgramsUdf(3)(col("text"))
              .as("shingles")))
        val (keys, read) = AdmissionStore.observeTouched(banded, col("bucket"),
          bands, banded.schema)
        keys.localCheckpoint()
        val pruned = AdmissionStore.readTouched(spark, bands, read.get.buckets)
        pruned.collect()
        val scanned = pruned.queryExecution.executedPlan.collect {
          case f: org.apache.spark.sql.execution.FileSourceScanExec => f
        }.map(_.metrics("numFiles").value).sum
        val st = Files.walk(Paths.get(bands))
        val total = try {
          import scala.jdk.CollectionConverters._
          st.iterator().asScala.count(p =>
            Files.isRegularFile(p) &&
              p.getFileName.toString.startsWith("part-"))
        } finally st.close()
        require(scanned < total,
          s"fresh JVM did not prune: $scanned of $total files")
        // and the re-bucketed store still GATES from this JVM: the
        // clone of an admitted doc drops, the fresh doc lands
        NearDupAdmission.admit(
          Seq((5000L, hDoc(17)), (5001L, hDoc(7000)))
            .toDF("doc_id", "text"), 9L, store, kept)
        val kept9 = spark.read.parquet(s"$kept/epoch=9")
          .select("doc_id").collect().map(_.getLong(0)).toSet
        require(kept9 == Set(5001L),
          s"fresh JVM misjudged the handoff store: $kept9")
        println(f"[dev] admissionhandoff read: OK — fresh JVM routed " +
          f"with stamped K=$k, scanned $scanned/$total files " +
          f"(${scanned.toDouble / total}%.3f), clone blocked, fresh admitted")
      case other => sys.error(s"unknown handoff phase $other")
    }
  }

  /** Writes an ORGANIC tree to `dst` (~10·mult× sf0.1 rows AND key space,
    * freshly drawn — not replicas): the builder behind `gensf1`/`gensf10`;
    * `verifysf1` calls it to guarantee the sf1 tree before its correctness
    * dump. Idempotent: a completed tree (marker `_DONE`) is never
    * regenerated. Scaling ratios measured on it reflect
    * organic key-cardinality growth, where the 10× replica's exact
    * text/vector copies inflate the exact-pair baselines (q28/q44
    * see every original×copy pair at jaccard/cos 1.0). Fully
    * deterministic (hash-seeded column math, no Math.random), same
    * schemas as TESTDATA.md, written once and fingerprint-free (the
    * generator IS the fingerprint: delete the dir to regenerate).
    * `mult` scales every FACT row count (and user/customer key
    * spaces) past the sf1 profile — mult=10 is the sf10 decade;
    * planted dup/near-dup RATES stay fixed (every 625th doc, every
    * 200th vector), so pair-family laws are measured under constant
    * density, not a density artifact. Distributions mirror the
    * sf0.1 profile: 31-word vocab, doc len 10..100, lang {en 41%,
    * zh/es/fr/de ~15%}, 20 sources, ~0.16% planted exact dups;
    * embeddings unit-norm around 10 hash-seeded label centroids
    * with ~0.5% planted near-dups; TPC-H-ish facts with fixed dims. */
  private def genOrganic(spark: SparkSession, dst: String, mult: Long): Unit = {
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.{Column, DataFrame}
    if (Files.exists(Paths.get(s"$dst/_DONE"))) {
      println(s"[dev] $dst already generated"); return
    }
    // uniform in [0,1) from a tagged hash — deterministic, columnar
    def u(tag: String, cols: Column*): Column =
      pmod(hash((lit(tag) +: cols): _*), lit(1000000)).cast("double") / 1e6
    def pick(tag: String, id: Column, vals: Seq[String]): Column =
      element_at(array(vals.map(lit): _*),
        pmod(hash(lit(tag), id), lit(vals.length)).cast("int") + 1)
    def save(df: DataFrame, name: String): Unit = {
      df.write.mode("overwrite").parquet(s"$dst/$name.parquet")
      println(s"[dev] wrote $name")
    }
    // dimension tables stay FIXED as the fact side grows
    Seq("region", "nation", "part", "supplier").foreach(t =>
      save(Tables(spark, Sf01, t), t))
    val nCust = 150000L * mult; val nOrd = 1500000L * mult
    val nUsers = 15000L * mult
    save(spark.range(nCust).select(col("id").as("c_custkey"),
      format_string("Customer#%09d", col("id")).as("c_name"),
      pmod(hash(lit("cn"), col("id")), lit(25)).cast("int").as("c_nationkey"),
      round(lit(-1000.0) + u("cb", col("id")) * 11000.0, 2).as("c_acctbal"),
      pick("cs", col("id"), Seq("AUTOMOBILE", "HOUSEHOLD", "BUILDING",
        "FURNITURE", "MACHINERY")).as("c_mktsegment")), "customer")
    val orders = spark.range(nOrd).select(col("id").as("o_orderkey"),
      pmod(hash(lit("oc"), col("id")), lit(nCust)).as("o_custkey"),
      pick("os", col("id"), Seq("F", "O", "P")).as("o_orderstatus"),
      round(lit(1000.0) + u("ot", col("id")) * 499000.0, 2).as("o_totalprice"),
      timestamp_micros(lit(788918400000000L) +
        (u("od", col("id")) * 2404).cast("long") * 86400000000L)
        .as("o_orderdate"),
      pick("op", col("id"), Seq("1-URGENT", "2-HIGH", "3-MEDIUM",
        "4-NOT SPECIFIED", "5-LOW")).as("o_orderpriority"))
    save(orders, "orders")
    save(orders.select(col("o_orderkey"),
        explode(sequence(lit(1), (pmod(hash(lit("ln"), col("o_orderkey")),
          lit(7)) + 1).cast("int"))).as("l_linenumber"))
      .select(col("o_orderkey").as("l_orderkey"), col("l_linenumber"))
      .withColumn("rid", hash(lit("li"), col("l_orderkey"), col("l_linenumber")))
      .select(col("l_orderkey"),
        // FK moduli MUST match the COPIED dimension tables (the dims
        // stay fixed as the fact side grows): sf0.1 part has 20,000
        // keys and supplier 1,000 — a larger modulus would orphan
        // ~90% of lineitem FKs, falsify the q115 all-zero audit on
        // this tree, and cut part/supplier join selectivity to ~10%
        pmod(hash(lit("lp"), col("rid")), lit(20000L)).as("l_partkey"),
        pmod(hash(lit("ls"), col("rid")), lit(1000L)).as("l_suppkey"),
        col("l_linenumber"),
        (pmod(hash(lit("lq"), col("rid")), lit(50)) + 1)
          .cast("double").as("l_quantity"),
        round(lit(900.0) + u("le", col("rid")) * 104100.0, 2)
          .as("l_extendedprice"),
        (pmod(hash(lit("ld"), col("rid")), lit(11)).cast("double") / 100.0)
          .as("l_discount"),
        (pmod(hash(lit("lt"), col("rid")), lit(9)).cast("double") / 100.0)
          .as("l_tax"),
        pick("lr", col("rid"), Seq("R", "A", "N")).as("l_returnflag"),
        pick("ll", col("rid"), Seq("F", "O")).as("l_linestatus"),
        timestamp_micros(lit(789004800000000L) +
          (u("lsd", col("rid")) * 2498).cast("long") * 86400000000L)
          .as("l_shipdate")), "lineitem")
    save(spark.range(1000000L * mult).select(col("id").as("event_id"),
      timestamp_micros(lit(1704067200000000L) +
        (u("ets", col("id")) * (30.0 * 86400 - 60) * 1e6).cast("long"))
        .as("ts"),
      pmod(hash(lit("eu"), col("id")), lit(nUsers)).as("user_id"),
      pick("et", col("id"), Seq("signup", "view", "click", "purchase",
        "error")).as("event_type"),
      round(u("ev", col("id")) * 560.0, 2).as("value"),
      format_string("{\"k\": %d}",
        pmod(hash(lit("ek"), col("id")), lit(100))).as("props")), "events")
    // documents: fresh token streams from the corpus vocabulary
    val vocab = Tables.documents(spark, Sf01)
      .select(explode(split(lower(col("text")), " ")).as("t"))
      .filter(length(col("t")) > 0).distinct()
      .collect().map(_.getString(0)).sorted
    println(s"[dev] vocab=${vocab.length}")
    val vocabArr = array(vocab.map(lit): _*)
    val nDocs = 50000L * mult
    val docs0 = spark.range(nDocs).select(col("id").as("doc_id"),
      when(u("dl", col("id")) < 0.41, "en")
        .otherwise(pick("dl2", col("id"), Seq("zh", "es", "fr", "de")))
        .as("lang"),
      concat(lit("src"), pmod(hash(lit("dsr"), col("id")), lit(20)))
        .as("source"),
      array_join(transform(
        sequence(lit(0), (pmod(hash(lit("dn"), col("id")), lit(91)) + 9)
          .cast("int")),
        i => element_at(vocabArr,
          pmod(hash(lit("dt"), col("doc_id"), i), lit(vocab.length))
            .cast("int") + 1)), " ").as("text"))
    // organic near-dup rate ≈ sf0.1's (8 dup texts / 5000 docs): every
    // 625th doc is an exact copy of its predecessor under a new id
    val dupTexts = docs0
      .select((col("doc_id") + 1).as("doc_id"), col("text").as("dup_text"))
    save(docs0.join(dupTexts, Seq("doc_id"), "left")
      .select(col("doc_id"),
        when(pmod(col("doc_id"), lit(625)) === 624 && col("dup_text").isNotNull,
          col("dup_text")).otherwise(col("text")).as("text"),
        col("lang"), col("source"))
      .withColumn("n_chars", length(col("text"))), "documents")
    // embeddings: unit-norm around 10 hash-seeded centroids; every
    // 200th vector is a tiny perturbation of its predecessor
    val nVec = 20000L * mult
    val dims = 64
    def rawVec(tag: String, id: Column): Column = transform(
      sequence(lit(0), lit(dims - 1)),
      j => element_at(array((0 until 10).map(l => (u(s"c$l", j) - 0.5) +
        (u(tag, id, j) - 0.5) * 0.6): _*),
        pmod(hash(lit("elab"), id), lit(10)).cast("int") + 1))
    val e0 = spark.range(nVec).select(col("id").as("vec_id"),
      rawVec("ev", col("id")).as("raw"),
      pmod(hash(lit("elab"), col("id")), lit(10)).cast("int").as("label"))
    val dupVecs = e0.select((col("vec_id") + 1).as("vec_id"),
      transform(col("raw"), x => x + 0.004).as("dup_raw"))
    save(e0.join(dupVecs, Seq("vec_id"), "left")
      .withColumn("v",
        when(pmod(col("vec_id"), lit(200)) === 199 && col("dup_raw").isNotNull,
          col("dup_raw")).otherwise(col("raw")))
      .withColumn("nrm", sqrt(aggregate(col("v"), lit(0.0),
        (a, x) => a + x * x)))
      .select(col("vec_id"),
        transform(col("v"), x => (x / col("nrm")).cast("float"))
          .as("embedding"),
        col("label")), "embeddings")
    Files.write(Paths.get(s"$dst/_DONE"),
      s"organic sf${mult}x0.1x10".getBytes)
    println(s"[dev] organic tree (mult=$mult) complete at $dst")
  }
}
