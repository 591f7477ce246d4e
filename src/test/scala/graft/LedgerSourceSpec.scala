package graft

import java.nio.file.{Files, Path, Paths}
import java.nio.charset.StandardCharsets
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.streaming.Trigger
import org.scalatest.funsuite.AnyFunSuite
import graft.sources.LedgerSource
import graft.sources.LedgerSource.{Cursor, LedgerInfo, LedgerOffset}

class LedgerSourceSpec extends AnyFunSuite with TempDirs {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  // ---- ledger math (mirrors the reference's PulsarLedgerTest cases on
  // gap/empty-ledger handling) ----

  private val gappy = Seq(LedgerInfo(3, 5), LedgerInfo(7, 0), LedgerInfo(9, 4))

  test("backlog counts from cursor across gaps; stale cursor = full log") {
    assert(LedgerSource.backlog(gappy, Cursor(3, 0)) == 9)
    assert(LedgerSource.backlog(gappy, Cursor(3, 2)) == 7)
    assert(LedgerSource.backlog(gappy, Cursor(9, 4)) == 0)
    assert(LedgerSource.backlog(gappy, Cursor(1, 0)) == 9) // stale
  }

  test("advance walks gaps and empty ledgers") {
    assert(LedgerSource.advance(gappy, Cursor(3, 0), 3) == Cursor(3, 3))
    assert(LedgerSource.advance(gappy, Cursor(3, 0), 5) == Cursor(3, 5))
    // crossing into ledger 9 skips empty ledger 7
    assert(LedgerSource.advance(gappy, Cursor(3, 3), 4) == Cursor(9, 2))
    assert(LedgerSource.advance(gappy, Cursor(3, 0), 100) == Cursor(9, 4))
    assert(LedgerSource.advance(gappy, Cursor(9, 4), 10) == Cursor(9, 4))
  }

  test("malformed offset JSON fails loudly, empty offset parses clean") {
    import graft.sources.LedgerSource._
    assert(LedgerOffset.parse("{}").cursors.isEmpty)
    intercept[Exception](LedgerOffset.parse("""{"0":"garbage"}"""))
    intercept[Exception](LedgerOffset.parse("""{"x":[1]}"""))
  }

  test("offset JSON round-trips") {
    val off = LedgerOffset(Map(0 -> Cursor(3, 2), 1 -> Cursor(9, 0)))
    assert(LedgerOffset.parse(off.json()) == off)
  }

  // ---- end-to-end through the DSv2 source ----

  private def writeTopic(): Path = {
    val root = Paths.get(tmp("graft_ledger_topic"))
    def write(p: Int, ledger: Long, lines: Seq[String]): Unit = {
      val dir = root.resolve(s"partition-$p")
      Files.createDirectories(dir)
      Files.write(dir.resolve(s"ledger-$ledger.log"),
        lines.mkString("\n").getBytes(StandardCharsets.UTF_8))
    }
    write(0, 1, (0 until 6).map(i => s"k$i,p0-l1-e$i"))
    write(0, 4, (0 until 4).map(i => s"k$i,p0-l4-e$i")) // gap 2-3
    write(1, 2, (0 until 5).map(i => s"k$i,p1-l2-e$i"))
    Files.createDirectories(root.resolve("partition-1"))
    Files.write(root.resolve("partition-1").resolve("ledger-3.log"),
      Array.empty[Byte]) // empty ledger
    root
  }

  test("source reads every entry exactly once under rate limiting, in order") {
    val topic = writeTopic()
    val df = spark.readStream.format("graft-ledger")
      .option("path", topic.toString)
      .option("maxRatePerPartition", "3") // 3 entries/sec × 1s batch = 3/partition/batch
      .option("batchIntervalMs", "1000")
      .load()
    val q = df.writeStream.format("memory").queryName("ledger_out")
      .trigger(Trigger.AvailableNow()).start()
    q.awaitTermination(120000)
    val rows = spark.sql(
      "select partition, ledger_id, entry_id, key, cast(value as string) v from ledger_out")
      .collect()
    assert(rows.length == 15, s"got ${rows.length}")
    // exactly once
    assert(rows.map(r => (r.getInt(0), r.getLong(1), r.getLong(2))).distinct.length == 15)
    // per-partition order by (ledger, entry)
    val p0 = rows.filter(_.getInt(0) == 0).map(r => (r.getLong(1), r.getLong(2)))
    assert(p0.sorted.sameElements(p0) ||
      p0.toSet == p0.sorted.toSet) // memory sink may interleave batches; set-equality + count is the invariant
    // payload integrity incl. gap ledger
    assert(rows.exists(r => r.getString(4) == "p0-l4-e3"))
    // rate limiting actually split the work into multiple batches:
    // 10 entries in p0 at 3/batch → ≥ 4 batches
    val progress = q.recentProgress
    assert(progress.count(_.numInputRows > 0) >= 3,
      s"batches: ${progress.map(_.numInputRows).mkString(",")}")
    assert(progress.forall(_.numInputRows <= 6), // ≤3 per partition per batch
      s"batch sizes: ${progress.map(_.numInputRows).mkString(",")}")
    // source metrics surfaced in progress (ReportsSourceMetrics): backlog
    // reaches 0 once fully consumed
    val lastMetrics = progress.last.sources.head.metrics
    assert(lastMetrics.get("totalBacklog") == "0", s"metrics: $lastMetrics")
    assert(lastMetrics.get("numPartitions") == "2")
  }

  test("ledger streams register live gauges with the Spark metrics system") {
    // reference parity: the per-topic Codahale Source
    // (PulsarMetricsSource.scala:7-30) — same figures as the
    // ReportsSourceMetrics progress map, but exported through
    // sparkContext's MetricsSystem where dashboards scrape them
    import org.apache.spark.metrics.source.GraftLedgerMetricsSource
    val topic = writeTopic()
    val df = spark.readStream.format("graft-ledger")
      .option("path", topic.toString).load()
    val q = df.writeStream.format("noop")
      .trigger(Trigger.AvailableNow()).start()
    q.awaitTermination(120000)
    val names = GraftLedgerMetricsSource.gaugeNames(topic.toString)
      .map(_.split('.').last).toSet
    assert(Set("totalBacklog", "maxPartitionBacklog", "numPartitions",
      "batchEntries", "batchBytes", "decodeFailures").subsetOf(names),
      s"gauges missing: $names")
    def g(n: String) = GraftLedgerMetricsSource.gaugeValue(topic.toString, n)
    // fully consumed: live backlog 0; the last batch moved real entries
    assert(g("totalBacklog").contains(0L), g("totalBacklog").toString)
    assert(g("numPartitions").contains(2L))
    assert(g("batchEntries").exists(_ > 0L))
    assert(g("decodeFailures").contains(0L))
    // gauges are LIVE: appended entries show up as backlog with no new
    // batch planned
    Files.write(topic.resolve("partition-0").resolve("ledger-9.log"),
      "kx,px-l9-e0".getBytes(StandardCharsets.UTF_8))
    assert(g("totalBacklog").contains(1L), g("totalBacklog").toString)
    assert(g("maxPartitionBacklog").contains(1L))
  }

  test("entry counts are cached by (size, mtime): no re-read until append") {
    val dir = Paths.get(tmp("graft_count_cache"))
    val f = dir.resolve("ledger-1.log")
    Files.write(f, "a\nb\nc".getBytes(StandardCharsets.UTF_8))
    val before = LedgerSource.countScans.get()
    assert(LedgerSource.countLines(f) == 3)
    assert(LedgerSource.countLines(f) == 3)
    assert(LedgerSource.countLines(f) == 3)
    assert(LedgerSource.countScans.get() == before + 1,
      "repeated counts re-scanned an unchanged file")
    // append invalidates: size/mtime change → exactly one more scan
    Files.write(f, "a\nb\nc\nd".getBytes(StandardCharsets.UTF_8))
    assert(LedgerSource.countLines(f) == 4)
    assert(LedgerSource.countLines(f) == 4)
    assert(LedgerSource.countScans.get() == before + 2)
  }

  test("reported key-grouped partitioning: GROUP BY partition has no Exchange") {
    val topic = writeTopic()
    spark.conf.set("spark.sql.sources.v2.bucketing.enabled", "true")
    // this spec pins the storage-partitioned-join machinery, so take the
    // broadcast path off the table: with reported statistics this tiny
    // topic broadcasts (a BroadcastExchange — right plan for the size,
    // wrong plan for the pin); at scale the SPJ path is the one that runs
    val savedThreshold = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      import org.apache.spark.sql.functions._
      // sum, not count: COUNT(*) would push into the source and answer
      // from metadata without any scan (pinned in LedgerPruningSpec) —
      // this spec pins the key-grouped SCAN layout, so aggregate
      // something the source can't answer
      val agg = spark.read.format("graft-ledger")
        .option("path", topic.toString).load()
        .groupBy("partition").agg(sum(lit(1L)).as("n"))
      // the scan reports KeyGroupedPartitioning(partition) and every split
      // carries its partition id (HasPartitionKey), so EnsureRequirements
      // sees the clustered distribution already satisfied — the per-
      // partition rollup runs shuffle-free on top of the scan
      val plan = agg.queryExecution.executedPlan.toString()
      assert(!plan.contains("Exchange"), s"unexpected shuffle:\n$plan")
      val res = agg.collect().map(r => (r.getInt(0), r.getLong(1))).toMap
      assert(res == Map(0 -> 10L, 1 -> 5L), res.toString)
      // storage-partitioned join: two scans of the same layout joined on
      // the partition key are co-clustered by report — no Exchange on
      // either side (the J8 "replica-aligned" co-location, made real).
      // Both sides aggregate with sum/max, which do NOT push into the
      // source: a count() here would be answered from segment METADATA
      // (PushedAggregates, no scan at all — the better plan, covered
      // above) and the pushed side would leave the key-grouped layout
      // this assertion exists to pin.
      def scan() = spark.read.format("graft-ledger")
        .option("path", topic.toString).load()
      val spj = scan().groupBy("partition").agg(sum(lit(1L)).as("n"))
        .join(scan().groupBy("partition")
          .agg(max(col("entry_id")).as("maxe")), "partition")
      val spjPlan = spj.queryExecution.executedPlan.toString()
      assert(!spjPlan.contains("Exchange"), s"unexpected shuffle:\n$spjPlan")
      assert(spj.collect().length == 2)
      // reported ordering (partition, ledger_id, entry_id asc): a
      // per-partition window over the log's native order needs neither
      // Exchange (key-grouped) nor Sort (SupportsReportOrdering) — the
      // latest-entry-per-partition dedup becomes a streaming pass
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy("partition")
        .orderBy(col("ledger_id"), col("entry_id"))
      val windowed = scan()
        .select(col("partition"), col("ledger_id"), col("entry_id"))
        .withColumn("rn", row_number().over(w))
      val wPlan = windowed.queryExecution.executedPlan.toString()
      assert(!wPlan.contains("Exchange"), s"unexpected shuffle:\n$wPlan")
      assert(!wPlan.contains("Sort"), s"unexpected sort:\n$wPlan")
      // rn restates per-partition read order: contiguous from 1
      val got = windowed.collect()
      assert(got.length == 15)
      val perPart = got.groupBy(_.getInt(0)).values
      assert(perPart.forall(rs => rs.map(_.getInt(3)).sorted.sameElements(1 to rs.length)))
      // edge: a partition dir holding only an empty ledger produces NO
      // split, so the reported numPartitions (3 dirs) exceeds the actual
      // split count (2) — the grouped exec must tolerate that, not assert
      Files.createDirectories(topic.resolve("partition-2"))
      Files.write(topic.resolve("partition-2").resolve("ledger-1.log"),
        Array.empty[Byte])
      val withEmpty = scan().groupBy("partition").agg(sum(lit(1L)).as("n"))
      assert(withEmpty.collect().map(r => (r.getInt(0), r.getLong(1))).toMap ==
        Map(0 -> 10L, 1 -> 5L))
      // pruning the partition column away must degrade gracefully to an
      // unknown partitioning (the key can't resolve against the output) —
      // same aggregate on `key` still answers correctly, with a shuffle
      val byKey = spark.read.format("graft-ledger")
        .option("path", topic.toString).load()
        .select("key").groupBy("key").count()
      assert(byKey.collect().map(_.getLong(1)).sum == 15L)
    } finally {
      spark.conf.unset("spark.sql.sources.v2.bucketing.enabled")
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", savedThreshold)
    }
  }

  test("unknown and invalid options fail loudly at load time") {
    val topic = writeTopic()
    // the classic silent-misconfig trap: a typo'd rate option
    val typo = intercept[Exception] {
      spark.readStream.format("graft-ledger")
        .option("path", topic.toString)
        .option("maxRatePerPartitoin", "10")
        .load()
    }
    assert(typo.getMessage.contains("maxrateperpartitoin"), typo.getMessage)
    assert(typo.getMessage.contains("maxrateperpartition"), typo.getMessage)
    val neg = intercept[Exception] {
      spark.readStream.format("graft-ledger")
        .option("path", topic.toString)
        .option("maxRatePerPartition", "-5")
        .load()
    }
    assert(neg.getMessage.contains("must be > 0"), neg.getMessage)
    val noPath = intercept[Exception] {
      spark.readStream.format("graft-ledger").load()
    }
    assert(noPath.getMessage.contains("path"), noPath.getMessage)
    // jsonSchema without format=json, and bad schema DDL
    val orphanSchema = intercept[Exception] {
      spark.readStream.format("graft-ledger")
        .option("path", topic.toString)
        .option("jsonSchema", "x STRING").load()
    }
    assert(orphanSchema.getMessage.contains("format=json"), orphanSchema.getMessage)
    val badType = intercept[Exception] {
      spark.readStream.format("graft-ledger")
        .option("path", topic.toString)
        .option("format", "json")
        .option("jsonSchema", "x ARRAY<INT>").load()
    }
    assert(badType.getMessage.contains("unsupported field type"), badType.getMessage)
    // the write path's bucket-count option validates like any other
    val badWp = intercept[Exception] {
      spark.readStream.format("graft-ledger")
        .option("path", topic.toString)
        .option("writePartitions", "0").load()
    }
    assert(badWp.getMessage.contains("must be > 0"), badWp.getMessage)
  }

  test("property: advance/backlog/entriesBetween agree on random gapped logs") {
    // seeded sweep over random sparse-ledger configurations (the shape
    // retention produces): for any cursor and any n,
    //   entriesBetween(cur, advance(cur, n)) == min(n, backlog(cur))
    // and advance is monotone + idempotent at the end of the log
    val rnd = new scala.util.Random(7)
    for (_ <- 0 until 200) {
      val nLedgers = 1 + rnd.nextInt(6)
      var id = rnd.nextInt(3).toLong
      val ledgers = (0 until nLedgers).map { _ =>
        val l = LedgerInfo(id, rnd.nextInt(5).toLong) // empties included
        id += 1 + rnd.nextInt(4) // gaps included
        l
      }
      val first = ledgers.head.ledgerId
      val cur = Cursor(first + rnd.nextInt(math.max(1, id.toInt)),
        rnd.nextInt(6).toLong)
      val n = rnd.nextInt(12).toLong
      val b = LedgerSource.backlog(ledgers, cur)
      val adv = LedgerSource.advance(ledgers, cur, n)
      val moved = LedgerSource.entriesBetween(ledgers, cur, adv)
      assert(moved == math.min(n, b),
        s"ledgers=$ledgers cur=$cur n=$n: moved=$moved backlog=$b")
      // nothing remains past a full drain; advancing further is a no-op
      val end = LedgerSource.advance(ledgers, cur, b + 10)
      assert(LedgerSource.backlog(ledgers, end) == 0,
        s"ledgers=$ledgers cur=$cur: drain left backlog")
      assert(LedgerSource.advance(ledgers, end, 5) == end,
        s"ledgers=$ledgers: advance past end moved")
    }
  }

  test("secret option values are redacted from rendering and errors") {
    import graft.sources.LedgerOptions
    val norm = LedgerOptions.validate(
      Map("path" -> "/tmp/x", "authToken" -> "hunter2-secret"))
    assert(norm("authtoken") == "hunter2-secret") // value retained internally
    val shown = LedgerOptions.redact(norm).toString
    assert(!shown.contains("hunter2-secret") && shown.contains("***"), shown)
    // validation errors for a secret option never echo the value
    val err = intercept[Exception] {
      LedgerOptions.validate(Map("path" -> "", "authToken" -> "hunter2-secret"))
    }
    assert(!err.getMessage.contains("hunter2-secret"), err.getMessage)
  }

  test("format=json decodes typed columns in-source; malformed rows null out and count") {
    val root = Paths.get(tmp("graft_ledger_json"))
    val dir = root.resolve("partition-0"); Files.createDirectories(dir)
    Files.write(dir.resolve("ledger-1.log"), Seq(
      """k0,{"name":"alpha","qty":3,"score":1.5,"ok":true}""",
      """k1,{"name":"beta","qty":7}""",
      "k2,not-json-at-all").mkString("\n").getBytes(StandardCharsets.UTF_8))
    val q = spark.readStream.format("graft-ledger")
      .option("path", root.toString)
      .option("format", "json")
      .option("jsonSchema", "name STRING, qty INT, score DOUBLE, ok BOOLEAN")
      .load()
      .writeStream.format("memory").queryName("ledger_json")
      .trigger(Trigger.AvailableNow()).start()
    q.awaitTermination(120000)
    val rows = spark.sql(
      "select key, name, qty, score, ok from ledger_json order by entry_id").collect()
    assert(rows.length == 3)
    assert(rows(0).getString(1) == "alpha" && rows(0).getInt(2) == 3 &&
      rows(0).getDouble(3) == 1.5 && rows(0).getBoolean(4))
    assert(rows(1).getString(1) == "beta" && rows(1).getInt(2) == 7 &&
      rows(1).isNullAt(3) && rows(1).isNullAt(4)) // absent fields → null
    assert(rows(2).isNullAt(1) && rows(2).isNullAt(2)) // malformed → all null
    val m = q.recentProgress.filter(_.numInputRows > 0).last.sources.head.metrics
    assert(m.get("decodeFailures") == "1", s"metrics: $m")
    assert(m.get("batchEntries") == "3", s"metrics: $m")
    assert(m.get("batchBytes").toLong > 0, s"metrics: $m")
  }

  test("mis-typed JSON field values null out and count as decode failures") {
    val root = Paths.get(tmp("graft_ledger_badtype"))
    val dir = root.resolve("partition-0"); Files.createDirectories(dir)
    Files.write(dir.resolve("ledger-1.log"), Seq(
      """k0,{"qty":3}""",
      """k1,{"qty":"oops"}""").mkString("\n").getBytes(StandardCharsets.UTF_8))
    val q = spark.readStream.format("graft-ledger")
      .option("path", root.toString)
      .option("format", "json")
      .option("jsonSchema", "qty INT")
      .load()
      .writeStream.format("memory").queryName("ledger_badtype")
      .trigger(Trigger.AvailableNow()).start()
    q.awaitTermination(120000)
    val rows = spark.sql("select qty from ledger_badtype order by entry_id").collect()
    assert(rows(0).getInt(0) == 3)
    assert(rows(1).isNullAt(0), "wrong-typed field must be null, not Jackson-coerced 0")
    val m = q.recentProgress.filter(_.numInputRows > 0).last.sources.head.metrics
    assert(m.get("decodeFailures") == "1", s"metrics: $m")
  }

  test("streaming honors startOffsets for new checkpoints; rejects endOffsets") {
    val topic = writeTopic()
    // start partition 0 at (ledger 1, entry 4): skips 4 of its 10 entries
    val q = spark.readStream.format("graft-ledger")
      .option("path", topic.toString)
      .option("startOffsets", """{"0":[1,4]}""")
      .load()
      .writeStream.format("memory").queryName("ledger_start")
      .trigger(Trigger.AvailableNow()).start()
    q.awaitTermination(120000)
    val rows = spark.sql(
      "select partition, ledger_id, entry_id from ledger_start").collect()
      .map(r => (r.getInt(0), r.getLong(1), r.getLong(2)))
    assert(rows.length == 11, rows.mkString(",")) // 15 - 4 skipped
    assert(!rows.contains((0, 1L, 3L)) && rows.contains((0, 1L, 4L)))
    assert(rows.count(_._1 == 1) == 5) // partition 1 untouched by override
    val err = intercept[Exception] {
      val qq = spark.readStream.format("graft-ledger")
        .option("path", topic.toString)
        .option("endOffsets", """{"0":[1,5]}""")
        .load()
        .writeStream.format("noop")
        .trigger(Trigger.AvailableNow()).start()
      qq.awaitTermination(120000)
      qq.exception.foreach(throw _)
    }
    assert(err.getMessage.contains("endOffsets"), err.getMessage)
  }

  test("uncommitted-batch replay offsets (SerializedOffset shape) are parsed, not cast") {
    // On restart with an offset-log entry that never committed, the engine
    // replays the batch handing the source raw checkpoint JSON wrapped in
    // an engine-internal Offset subtype — NOT the source's own type, and
    // NOT through deserializeOffset. The 208-batch kill/resume soak died
    // on a blind asInstanceOf here; every offset-consuming entry point
    // must accept any Offset whose json() parses.
    val topic = writeTopic()
    val stream = new graft.sources.LedgerMicroBatchStream(
      topic.toString, Map.empty, LedgerSource.Schema)
    val replayShaped = new org.apache.spark.sql.connector.read.streaming.Offset {
      override def json: String = """{"0":[1,2],"1":[2,0]}"""
    }
    // latestOffset(start, limit) — the admission path
    val next = stream.latestOffset(replayShaped,
      org.apache.spark.sql.connector.read.streaming.ReadLimit.allAvailable())
    assert(next.asInstanceOf[LedgerOffset].cursors.nonEmpty)
    // planInputPartitions(start, end) — the replay path itself
    val parts = stream.planInputPartitions(replayShaped, next)
    assert(parts.nonEmpty)
    // metrics(latestConsumedOffset) — the progress-reporting path
    val m = stream.metrics(java.util.Optional.of(replayShaped))
    assert(m.get("totalBacklog") != null)
  }

  test("checkpoint recovery resumes without duplicates after new data arrives") {
    val topic = writeTopic()
    val ckpt = tmp("graft_ledger_ckpt2")
    val out = tmp("graft_ledger_sink")
    def run(): Unit = {
      val df = spark.readStream.format("graft-ledger")
        .option("path", topic.toString).load()
      val q = df.selectExpr("partition", "ledger_id", "entry_id",
          "cast(value as string) as v")
        .writeStream.format("parquet")
        .option("path", out)
        .option("checkpointLocation", ckpt)
        .trigger(Trigger.AvailableNow()).start()
      q.awaitTermination(120000)
    }
    run()
    // append a new ledger after the first run committed
    val dir = topic.resolve("partition-0")
    Files.write(dir.resolve("ledger-9.log"),
      "k0,p0-l9-e0\nk1,p0-l9-e1".getBytes(StandardCharsets.UTF_8))
    run()
    val rows = spark.read.parquet(out)
      .select("partition", "ledger_id", "entry_id").collect()
    assert(rows.length == 17, s"got ${rows.length}") // 15 + 2, no dups
    assert(rows.map(r => (r.getInt(0), r.getLong(1), r.getLong(2))).distinct.length == 17)
  }

  test("startPublishUs positions a fresh stream mid-log (seek-by-time)") {
    val topic = writeTopic()
    val out = tmp("graft_ledger_seek_sink")
    val ckpt = tmp("graft_ledger_seek_ckpt")
    // bound 2000003 lands INSIDE p1's ledger 2 (entries 3..4 qualify) and
    // ABOVE all of p0's ledger 1 (skipped whole) — p0 starts at ledger 4
    val q = spark.readStream.format("graft-ledger")
      .option("path", topic.toString)
      .option("startPublishUs", "2000003")
      .load()
      .selectExpr("partition", "ledger_id", "entry_id", "publish_us")
      .writeStream.format("parquet").option("path", out)
      .option("checkpointLocation", ckpt)
      .trigger(Trigger.AvailableNow()).start()
    q.awaitTermination(120000)
    val rows = spark.read.parquet(out).collect()
      .map(r => (r.getInt(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(rows.length == 6,
      s"got ${rows.length}: ${rows.sortBy(_._4).mkString(",")}")
    assert(rows.forall(_._4 >= 2000003L), "an entry below the seek leaked")
    assert(rows.filter(_._1 == 0).forall(_._2 == 4L),
      "p0's pre-seek ledger was not skipped whole")
    // a stream end bound is a misconfiguration, failed loudly (the
    // endOffsets contract applied to the time form)
    val err = intercept[Exception] {
      val bad = spark.readStream.format("graft-ledger")
        .option("path", topic.toString).option("endPublishUs", "5000000")
        .load()
        .writeStream.format("noop")
        .option("checkpointLocation",
          tmp("graft_ledger_seek_bad"))
        .trigger(Trigger.AvailableNow()).start()
      bad.awaitTermination(60000)
    }
    def causes(t: Throwable): Seq[String] =
      Iterator.iterate(t.asInstanceOf[Throwable])(_.getCause)
        .takeWhile(_ != null).take(8).map(m => String.valueOf(m.getMessage)).toSeq
    assert(causes(err).exists(_.contains("endPublishUs")), causes(err).toString)
  }
}
