package graft

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path, Paths}
import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite
import graft.sources.LedgerSource

/** Partition pruning + statistics on the graft-ledger DSv2 source — the
  * three planner hooks that decide whether a 100 TB topic is read whole or
  * surgically:
  *
  *  - static filter pushdown (`WHERE partition = 3` plans one directory);
  *  - runtime filtering / dynamic partition pruning (a broadcast join
  *    against a filtered dimension hands the surviving partition keys to
  *    the scan, which re-plans its input partitions);
  *  - reported statistics (segment bytes + entry counts), without which a
  *    DSv2 relation is sized at spark.sql.defaultSizeInBytes and a small
  *    lookup topic would never broadcast.
  *
  * Observability: `LedgerSource.lastPlannedPartitions` records the
  * partition indices each batch planning actually planned — pruning is
  * asserted on what the source DID, not on plan text.
  */
class LedgerPruningSpec extends AnyFunSuite with TempDirs {

  lazy val spark: SparkSession = {
    // getOrCreate would reuse another suite's session (same JVM) and skip
    // our extensions — force a fresh session so withExtensions applies
    // (the status-TVF coherence assertion needs the injected function)
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
    SparkSession.builder()
      .master("local[4]")
      .withExtensions(new graft.GraftExtensions)
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
  }

  /** 4 partitions × n entries (partition p holds keys k0..k(n-1), values
    * tagged with p), single ledger each. The DPP tests use a topic big
    * enough that the planner builds (broadcasts) the DIM side — if the
    * fact side is the smaller one it becomes the build side itself and
    * runtime filters are correctly dropped as useless.
    */
  private def writeTopic(entries: Int = 8, pad: Int = 0): Path = {
    val root = Paths.get(tmp("graft_pruning_topic"))
    val padding = if (pad > 0) "-" + ("x" * pad) else ""
    (0 until 4).foreach { p =>
      val dir = root.resolve(s"partition-$p")
      Files.createDirectories(dir)
      Files.write(dir.resolve("ledger-1.log"),
        (0 until entries).map(i => s"k$i,p$p-e$i$padding").mkString("\n")
          .getBytes(StandardCharsets.UTF_8))
    }
    root
  }

  private def read(topic: Path) =
    spark.read.format("graft-ledger").option("path", topic.toString).load()

  private def planned(topic: Path): Seq[Int] =
    LedgerSource.lastPlannedPartitions.get(topic.toString)

  test("static pushdown: partition = 2 plans exactly one directory") {
    val topic = writeTopic()
    import spark.implicits._
    val rows = read(topic).filter($"partition" === 2)
      .selectExpr("partition", "key").collect()
    assert(rows.length == 8)
    assert(rows.map(_.getInt(0)).toSet == Set(2))
    assert(planned(topic) == Seq(2))
    // and the pruning is visible in the plan text
    val plan = read(topic).filter($"partition" === 2)
      .queryExecution.executedPlan.toString
    assert(plan.contains("PushedPartitions: [2]"), plan)
  }

  test("static pushdown: isin ∧ equality intersect; non-partition residual still applies") {
    val topic = writeTopic()
    import spark.implicits._
    val rows = read(topic)
      .filter($"partition".isin(1, 2) && $"partition" === 2 && $"key" === "k3")
      .selectExpr("partition", "key", "cast(value as string)").collect()
    assert(rows.length == 1)
    assert(rows.head.getInt(0) == 2 && rows.head.getString(1) == "k3"
      && rows.head.getString(2) == "p2-e3")
    assert(planned(topic) == Seq(2))
  }

  test("static pushdown: IS NULL on the never-null partition plans nothing") {
    val topic = writeTopic()
    import spark.implicits._
    assert(read(topic).filter($"partition".isNull).count() == 0)
    // with partition declared non-nullable, Catalyst folds the predicate
    // to an empty relation before the source is consulted (planned stays
    // null); if it ever reaches the source, the pushdown must plan nothing
    val p = planned(topic)
    assert(p == null || p.isEmpty, s"planned $p for an impossible predicate")
  }

  test("reported statistics: exact entry counts, on-disk bytes, and range proration") {
    val topic = writeTopic()
    val stats = read(topic).queryExecution.optimizedPlan.stats
    val expectedBytes = (0 until 4).map { p =>
      Files.size(topic.resolve(s"partition-$p").resolve("ledger-1.log"))
    }.sum
    assert(stats.sizeInBytes == BigInt(expectedBytes))
    assert(stats.rowCount.contains(BigInt(32)))

    // an explicit half-range over partition 0 prorates rows AND bytes
    val half = spark.read.format("graft-ledger")
      .option("path", topic.toString)
      .option("startOffsets", """{"0":[1,0]}""")
      .option("endOffsets", """{"0":[1,4],"1":[1,0],"2":[1,0],"3":[1,0]}""")
      .load()
    val hs = half.queryExecution.optimizedPlan.stats
    assert(hs.rowCount.contains(BigInt(4)))
    val p0 = Files.size(topic.resolve("partition-0").resolve("ledger-1.log"))
    assert(hs.sizeInBytes == BigInt(math.ceil(p0 / 2.0).toLong))
  }

  test("reported statistics: a small topic broadcasts without a hint") {
    val topic = writeTopic()
    import spark.implicits._
    val big = spark.range(0, 500000).selectExpr("cast(id % 8 as string) as kid",
      "repeat('x', 64) as pad")
    val joined = read(topic).selectExpr("key", "partition")
      .join(big, $"key" === concat(org.apache.spark.sql.functions.lit("k"), $"kid"))
    val plan = joined.queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"), plan)
    // the ledger side is the build (broadcast) side: in the plan text its
    // scan renders inside the BroadcastExchange subtree, before the big
    // Range side (AdaptiveSparkPlanExec hides children from collect(),
    // so assert on the rendered tree)
    val bcast = plan.indexOf("BroadcastExchange")
    val ledger = plan.indexOf("graft-ledger")
    val range = plan.indexOf("Range (")
    assert(bcast >= 0 && ledger > bcast && range > ledger, plan)
  }

  private def concat(l: org.apache.spark.sql.Column, r: org.apache.spark.sql.Column) =
    org.apache.spark.sql.functions.concat(l, r)

  /** A file-backed dimension: a 4-row LocalRelation dim would be constant-
    * folded THROUGH its filter by ConvertToLocalRelation before
    * PartitionPruning ever runs, leaving no selective Filter to trigger
    * DPP — real dimension tables are scans, so model that.
    */
  private def writeDim(rows: Seq[(Int, String)]): org.apache.spark.sql.DataFrame = {
    import spark.implicits._
    val dir = Paths.get(tmp("graft_pruning_dim"))
    rows.toDF("p", "tag").write.mode("overwrite").parquet(dir.toString)
    spark.read.parquet(dir.toString)
  }

  test("runtime filtering: a broadcast join's dim filter prunes scan partitions (DPP)") {
    val topic = writeTopic(entries = 4000, pad = 32)
    val dim = writeDim(Seq((0, "a"), (1, "b"), (2, "keep"), (3, "c")))
    val fact = read(topic).selectExpr("partition", "key")
    val res = fact.join(dim, fact("partition") === dim("p"))
      .where(dim("tag") === "keep")
    val rows = res.collect()
    assert(rows.length == 4000)
    assert(rows.map(_.getInt(0)).toSet == Set(2))
    // the source planned only the surviving partition — the join's filter
    // reached the scan as a runtime In filter, not just a post-scan join
    assert(planned(topic) == Seq(2),
      s"planned=${planned(topic)} — runtime filter did not reach the source")
    val planTxt = res.queryExecution.executedPlan.toString
    assert(planTxt.toLowerCase.contains("dynamicpruning"), planTxt)
  }

  test("limit/offset pushdown: global allocation over partition-ordered ranges") {
    val topic = writeTopic()
    // limit within the first partition: 5 rows, the log's own order
    val l5 = read(topic).limit(5)
    assert(l5.queryExecution.executedPlan.toString.contains("PushedLimit: 5"))
    val rows5 = l5.selectExpr("partition", "key").collect()
    assert(rows5.map(r => (r.getInt(0), r.getString(1))).toSeq ==
      (0 until 5).map(i => (0, s"k$i")))
    // limit spanning a partition boundary: all 8 of p0 + first 4 of p1
    val rows12 = read(topic).limit(12).selectExpr("partition", "key").collect()
    assert(rows12.map(r => (r.getInt(0), r.getString(1))).toSeq ==
      (0 until 8).map(i => (0, s"k$i")) ++ (0 until 4).map(i => (1, s"k$i")))
    // offset + limit: skip 3, take 4 — entries 3..6 of partition 0
    val ol = read(topic).offset(3).limit(4)
    val olPlan = ol.queryExecution.executedPlan.toString
    // Spark pushes Limit(4, Offset(3)) as prefix length 7 + offset 3
    assert(olPlan.contains("PushedOffset: 3") && olPlan.contains("PushedLimit: 7"),
      olPlan)
    assert(ol.selectExpr("partition", "key").collect()
      .map(r => (r.getInt(0), r.getString(1))).toSeq ==
      (3 until 7).map(i => (0, s"k$i")))
    // offset spanning a partition boundary, no limit: skip 10 → last 6 of
    // p1 then all of p2/p3
    val o10 = read(topic).offset(10).selectExpr("partition", "key").collect()
    assert(o10.length == 22)
    assert(o10.take(6).map(r => (r.getInt(0), r.getString(1))).toSeq ==
      (2 until 8).map(i => (1, s"k$i")))
    // fully pushed limit caps the reported statistics (a limited lookup
    // side must be broadcastable by SIZE, not just by operator)
    val st = read(topic).limit(5).queryExecution.optimizedPlan.collectFirst {
      case r: org.apache.spark.sql.execution.datasources.v2.DataSourceV2ScanRelation =>
        r.stats
    }
    assert(st.exists(_.rowCount.contains(BigInt(5))), st.toString)
  }

  test("aggregate pushdown: COUNT(*) answers from segment metadata, complete") {
    val topic = writeTopic()
    import spark.implicits._
    // global count: one row, no aggregate operator left in the plan
    val c = read(topic).selectExpr("count(*) as n")
    val cPlan = c.queryExecution.executedPlan.toString
    assert(cPlan.contains("PushedAggregates: [COUNT(*)]"), cPlan)
    assert(!cPlan.contains("HashAggregate"), s"agg not complete:\n$cPlan")
    assert(c.collect().map(_.getLong(0)).toSeq == Seq(32L))
    // grouped count: one row per non-empty partition
    val g = read(topic).groupBy("partition").count()
    val gPlan = g.queryExecution.executedPlan.toString
    assert(gPlan.contains("GroupBy: [partition]"), gPlan)
    assert(!gPlan.contains("HashAggregate"), s"agg not complete:\n$gPlan")
    assert(g.collect().map(r => (r.getInt(0), r.getLong(1))).toMap ==
      (0 until 4).map(_ -> 8L).toMap)
    // composes with static partition pruning (filters push first; the
    // aggregate only pushes because every filter below it was consumed)
    val f = read(topic).filter($"partition".isin(1, 2))
      .groupBy("partition").count()
    assert(f.queryExecution.executedPlan.toString.contains("PushedPartitions: [1,2]"))
    assert(f.collect().map(r => (r.getInt(0), r.getLong(1))).toMap ==
      Map(1 -> 8L, 2 -> 8L))
    // a non-pushable aggregate (sum) still answers through the full scan
    val s2 = read(topic).groupBy("partition")
      .agg(org.apache.spark.sql.functions.sum("entry_id").as("s"))
    assert(s2.queryExecution.executedPlan.toString.contains("HashAggregate"))
    assert(s2.collect().map(r => (r.getInt(0), r.getLong(1))).toMap ==
      (0 until 4).map(_ -> 28L).toMap) // 0+1+...+7
    // count over an empty topic is still one zero row
    val empty = Paths.get(tmp("graft_pruning_empty"))
    assert(spark.read.format("graft-ledger").option("path", empty.toString)
      .load().selectExpr("count(*)").collect().map(_.getLong(0)).toSeq == Seq(0L))
    // coherence: the ops TVF and the pushed aggregate read the same
    // metadata — per-partition entries must agree exactly
    val tvf = spark.sql(
      s"SELECT partition, entries FROM graft_ledger_status('${topic.toString}')")
      .collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
    assert(tvf == g.collect().map(r => (r.getInt(0), r.getLong(1))).toMap,
      s"status TVF disagrees with pushed COUNT(*): $tvf")
  }

  test("limit/offset allocation == flat slice on random gappy layouts (property)") {
    // the cursor arithmetic walks ledger-id gaps, empty ledgers, and
    // partition boundaries; pin it against the trivially correct
    // reference — read everything, slice [o, o+l) — over seeded random
    // layouts and windows
    val rnd = new scala.util.Random(42)
    (1 to 8).foreach { _ =>
      val root = Paths.get(tmp("graft_pruning_prop"))
      (0 until 3).foreach { p =>
        val dir = root.resolve(s"partition-$p")
        Files.createDirectories(dir)
        var lid = 1L
        (0 until 1 + rnd.nextInt(3)).foreach { _ =>
          lid += rnd.nextInt(3) // sparse ids, sometimes consecutive
          val n = rnd.nextInt(5) // 0..4 entries — empties included
          Files.write(dir.resolve(s"ledger-$lid.log"),
            (0 until n).map(i => s"k,p$p-l$lid-e$i").mkString("\n")
              .getBytes(StandardCharsets.UTF_8))
          lid += 1
        }
      }
      val full = read(root).selectExpr("cast(value as string)").collect()
        .map(_.getString(0)).toSeq
      (1 to 4).foreach { _ =>
        val o = rnd.nextInt(full.length + 2)
        val l = 1 + rnd.nextInt(full.length + 2)
        val got = read(root).offset(o).limit(l)
          .selectExpr("cast(value as string)").collect().map(_.getString(0)).toSeq
        assert(got == full.slice(o, o + l),
          s"offset=$o limit=$l over ${full.length} rows: got $got, " +
            s"expected ${full.slice(o, o + l)}")
      }
      // the time seek over the same gappy layout: random [lo, hi) windows
      // (including empty, gap-straddling, and beyond-the-log ones) must
      // return exactly the flat filter's rows, and every planned range
      // must hold ONLY qualifying entries (the trim is exact, both ends)
      val fullTs = read(root).selectExpr("publish_us").collect()
        .map(_.getLong(0)).toSeq
      import spark.implicits._
      (1 to 4).foreach { _ =>
        val lo = rnd.nextInt(9) * 1000000L + rnd.nextInt(6) - 1
        val hi = lo + rnd.nextInt(4) * 1000000L + rnd.nextInt(6)
        val got = read(root)
          .filter($"publish_us" >= lo && $"publish_us" < hi)
          .selectExpr("publish_us").collect().map(_.getLong(0)).toSeq
        assert(got.sorted == fullTs.filter(t => t >= lo && t < hi).sorted,
          s"[$lo,$hi): got $got")
        val plannedEntries = Option(ranges(root)).toSeq.flatten.map {
          case (p, f, t) =>
            val ledgers = LedgerSource.listLedgers(
              root.resolve(s"partition-$p"))
            LedgerSource.entriesBetween(ledgers, f, t)
        }.sum
        assert(plannedEntries == got.length,
          s"[$lo,$hi): planned $plannedEntries entries for ${got.length} rows — trim not exact")
      }
    }
  }

  test("runtime filtering under v2 bucketing: SPJ and DPP coexist correctly") {
    // the combination square: KeyGroupedPartitioning reported AND a
    // runtime filter arriving — whatever plan Spark picks, the ANSWER
    // must be right (the SPJ grouping math must tolerate filtered-away
    // partitions)
    val topic = writeTopic(entries = 4000, pad = 32)
    import spark.implicits._
    val dim = writeDim(Seq((0, "x"), (1, "keep"), (2, "keep"), (3, "x")))
    spark.conf.set("spark.sql.sources.v2.bucketing.enabled", "true")
    try {
      val fact = read(topic).selectExpr("partition", "key")
      val res = fact.join(dim, fact("partition") === dim("p"))
        .where(dim("tag") === "keep")
        .groupBy("partition").count()
      assert(res.collect().map(r => (r.getInt(0), r.getLong(1))).toMap ==
        Map(1 -> 4000L, 2 -> 4000L))
    } finally spark.conf.unset("spark.sql.sources.v2.bucketing.enabled")
  }

  test("SQL/DDL surface rides the same pushdowns") {
    val topic = writeTopic()
    spark.sql("DROP TABLE IF EXISTS graft_pruning_ddl")
    spark.sql(s"""CREATE TABLE graft_pruning_ddl USING `graft-ledger`
                 | OPTIONS (path '${topic.toString}')""".stripMargin)
    try {
      val cnt = spark.sql("SELECT count(*) AS n FROM graft_pruning_ddl")
      assert(cnt.queryExecution.executedPlan.toString
        .contains("PushedAggregates: [COUNT(*)]"))
      assert(cnt.collect().head.getLong(0) == 32L)
      val pruned = spark.sql(
        "SELECT key FROM graft_pruning_ddl WHERE partition = 1 LIMIT 3")
      val plan = pruned.queryExecution.executedPlan.toString
      assert(plan.contains("PushedPartitions: [1]"), plan)
      assert(pruned.collect().length == 3)
    } finally spark.sql("DROP TABLE IF EXISTS graft_pruning_ddl")
  }

  test("a fully-pushed limit disables runtime filtering (limit-then-join rows)") {
    // Spark REMOVES its Limit operators when the push is complete
    // (isPartiallyPushed=false), so if a runtime filter then re-planned
    // the batch, the scan would emit the first L entries of the PRUNED
    // partition set — not the pruned subset of the original L-entry
    // prefix. The scan must therefore decline runtime filtering whenever
    // a limit/offset was pushed; correctness first, DPP is an optimization.
    val topic = writeTopic(entries = 4000, pad = 32)
    val dim = writeDim(Seq((0, "x"), (1, "x"), (2, "keep"), (3, "x")))
    // log order: the 9000-entry prefix = all of p0 (4000) + all of p1
    // (4000) + the first 1000 of p2. Joined to the keep=2 dimension the
    // answer is EXACTLY p2's first 1000 keys; a runtime-pruned scan
    // would instead return all 4000 of p2.
    val fact = read(topic).limit(9000)
    val res = fact.join(dim, fact("partition") === dim("p"))
      .where(dim("tag") === "keep")
      .selectExpr("partition", "key")
    val rows = res.collect()
    assert(rows.map(_.getInt(0)).toSet == Set(2))
    assert(rows.length == 1000,
      s"limit+DPP returned ${rows.length} rows — runtime pruning re-sliced the prefix")
    assert(rows.map(_.getString(1)).toSet == (0 until 1000).map(i => s"k$i").toSet)
    // the limit really was pushed, and the scan planned ALL partitions
    // (no runtime re-plan happened)
    val plan = res.queryExecution.executedPlan.toString
    assert(plan.contains("PushedLimit: 9000"), plan)
    assert(planned(topic) == Seq(0, 1, 2, 3),
      s"planned=${planned(topic)} — a runtime filter re-planned a limited scan")
  }

  test("runtime filtering composes with static pushdown (intersection)") {
    val topic = writeTopic(entries = 4000, pad = 32)
    import spark.implicits._
    val dim = writeDim(Seq((1, "keep"), (2, "keep"), (3, "x")))
    val fact = read(topic).filter($"partition".isin(2, 3)).selectExpr("partition", "key")
    val res = fact.join(dim, fact("partition") === dim("p"))
      .where(dim("tag") === "keep")
    val rows = res.collect()
    assert(rows.map(_.getInt(0)).toSet == Set(2))
    assert(planned(topic) == Seq(2), s"planned=${planned(topic)}")
  }

  /** 4 partitions × ledgers 1/3/7 (5 entries each, gappy ids) — the
    * time-seek fixture: publish_us = ledger_id·10⁶ + entry_id, so the
    * log's publish windows are [1e6,1e6+5), [3e6,3e6+5), [7e6,7e6+5)
    * with real coverage gaps between them. */
  private def writeTimeTopic(): Path = {
    val root = Paths.get(tmp("graft_time_topic"))
    (0 until 4).foreach { p =>
      val dir = root.resolve(s"partition-$p")
      Files.createDirectories(dir)
      Seq(1, 3, 7).foreach { l =>
        Files.write(dir.resolve(s"ledger-$l.log"),
          (0 until 5).map(i => s"k$i,p$p-l$l-e$i").mkString("\n")
            .getBytes(StandardCharsets.UTF_8))
      }
    }
    root
  }

  private def ranges(topic: Path) =
    LedgerSource.lastPlannedRanges.get(topic.toString)

  test("time-range pushdown: publish_us bounds become a metadata cursor seek") {
    val topic = writeTimeTopic()
    import spark.implicits._
    val df = read(topic)
      .filter($"publish_us" >= 3000002L && $"publish_us" < 7000002L)
      .selectExpr("partition", "ledger_id", "entry_id", "publish_us")
    val rows = df.collect()
    // qualifying: ledger 3 entries 2..4 + ledger 7 entries 0..1, per partition
    assert(rows.length == 4 * 5, s"got ${rows.length}")
    assert(rows.forall(r => r.getLong(3) >= 3000002L && r.getLong(3) < 7000002L))
    // the seek reached the source: every planned range trimmed to exactly
    // the qualifying window — 5 of 15 entries read per partition
    val rs = ranges(topic)
    assert(rs.map(_._1).sorted == Seq(0, 1, 2, 3))
    rs.foreach { case (_, from, to) =>
      assert(from == LedgerSource.Cursor(3, 2) && to == LedgerSource.Cursor(7, 2),
        s"range not trimmed: $from..$to")
    }
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("PushedPublishRange: [3000002,7000002)"), plan)
    // the predicate stays residual — the seek is a pruning bound, not a
    // consumed filter (that's what keeps limit/agg pushdown from
    // composing through it)
    assert(plan.contains("Filter"), plan)
  }

  test("time-range pushdown: equality, empty/gap windows, partition composition") {
    val topic = writeTimeTopic()
    import spark.implicits._
    // equality = a one-entry window
    assert(read(topic).filter($"publish_us" === 3000003L).count() == 4)
    ranges(topic).foreach { case (_, f, t) =>
      assert(f == LedgerSource.Cursor(3, 3) && t == LedgerSource.Cursor(3, 4),
        s"equality window not a single entry: $f..$t")
    }
    // a window beyond the log plans NOTHING
    assert(read(topic).filter($"publish_us" >= 9000000L).count() == 0)
    assert(ranges(topic).isEmpty, s"planned ${ranges(topic)} beyond the log")
    // a window falling inside a ledger-id coverage GAP plans nothing too
    assert(read(topic)
      .filter($"publish_us" >= 5000000L && $"publish_us" < 7000000L)
      .count() == 0)
    assert(ranges(topic).isEmpty, s"planned ${ranges(topic)} inside a gap")
    // composes with static partition pruning: one directory, one tail slice
    val rows = read(topic)
      .filter($"partition" === 2 && $"publish_us" >= 7000001L)
      .selectExpr("partition", "publish_us").collect()
    assert(rows.length == 4 && rows.forall(_.getInt(0) == 2))
    assert(ranges(topic).map(_._1) == Seq(2))
  }

  test("a publish_us filter blocks limit pushdown and narrows reported stats") {
    val topic = writeTimeTopic()
    import spark.implicits._
    // residual time filter between scan and Limit → Spark keeps its own
    // Limit operator (the limit/DPP-unsoundness lesson, same shape)
    val df = read(topic).filter($"publish_us" >= 3000000L).limit(3)
    val rows = df.selectExpr("publish_us").collect()
    assert(rows.length == 3 && rows.forall(_.getLong(0) >= 3000000L))
    val plan = df.queryExecution.executedPlan.toString
    assert(!plan.contains("PushedLimit"), plan)
    assert(plan.contains("PushedPublishRange"), plan)
    // the scan relation's own estimate reflects the trim (a time-sliced
    // lookup sizes like its slice): 5 of 15 entries per partition
    val sliced = read(topic)
      .filter($"publish_us" >= 3000002L && $"publish_us" < 7000002L)
    val scanStats = sliced.queryExecution.optimizedPlan.collect {
      case r: org.apache.spark.sql.execution.datasources.v2.DataSourceV2ScanRelation =>
        r.stats
    }
    assert(scanStats.nonEmpty, "no DSv2 scan relation in the optimized plan")
    assert(scanStats.head.rowCount.contains(BigInt(20)),
      s"rows ${scanStats.head.rowCount} — stats don't reflect the time trim")
  }

  test("time reader options slice the batch read; options and filters intersect") {
    val topic = writeTimeTopic()
    import spark.implicits._
    // option-only window = the filter form's exact cursor slice (the
    // Kafka startingTimestamp shape: the time resolves to cursors, then
    // the read is a plain cursor range)
    val opt = spark.read.format("graft-ledger")
      .option("path", topic.toString)
      .option("startPublishUs", "3000002")
      .option("endPublishUs", "7000002")
      .load()
    val rows = opt.selectExpr("publish_us").collect().map(_.getLong(0))
    assert(rows.length == 20, s"got ${rows.length}")
    assert(rows.forall(t => t >= 3000002L && t < 7000002L))
    ranges(topic).foreach { case (_, f, t) =>
      assert(f == LedgerSource.Cursor(3, 2) && t == LedgerSource.Cursor(7, 2),
        s"option window not trimmed: $f..$t")
    }
    assert(opt.queryExecution.executedPlan.toString
      .contains("PushedPublishRange: [3000002,7000002)"))
    // a pushed filter INTERSECTS the option window: max of lows, min of
    // highs — same final slice
    val both = spark.read.format("graft-ledger")
      .option("path", topic.toString)
      .option("startPublishUs", "1000000")
      .option("endPublishUs", "7000002")
      .load().filter($"publish_us" >= 3000002L)
    assert(both.count() == 20)
    ranges(topic).foreach { case (_, f, t) =>
      assert(f == LedgerSource.Cursor(3, 2) && t == LedgerSource.Cursor(7, 2),
        s"intersection not applied: $f..$t")
    }
    // two start positions (cursor + time) would shadow each other —
    // validation kills the combination before anything reads
    val e = intercept[IllegalArgumentException] {
      spark.read.format("graft-ledger").option("path", topic.toString)
        .option("startPublishUs", "1")
        .option("startOffsets", """{"0":[1,0]}""")
        .load().collect()
    }
    assert(e.getMessage.contains("ONE start position"), e.getMessage)
  }

  test("aggregate pushdown honors time reader options (agg count == rows read)") {
    // the option path carries NO Catalyst filter, so COUNT(*) pushes to
    // the metadata agg scan — which must count the trimmed window, not
    // the topic (same DataFrame, same answer whichever plan runs)
    val topic = writeTimeTopic()
    import spark.implicits._
    def sliced = spark.read.format("graft-ledger")
      .option("path", topic.toString)
      .option("startPublishUs", "3000002")
      .option("endPublishUs", "7000002")
      .load()
    val c = sliced.selectExpr("count(*) as n")
    assert(c.queryExecution.executedPlan.toString
      .contains("PushedAggregates: [COUNT(*)]"), "count did not push")
    val pushed = c.collect().head.getLong(0)
    val read = sliced.count() // same plan shape — and rows agree too
    val rows = sliced.selectExpr("publish_us").collect().length
    assert(pushed == 20L && read == 20L && rows == 20,
      s"agg/row disagreement under time options: pushed=$pushed rows=$rows")
    // grouped form and static-pruning composition: per-partition slice is
    // 5 entries, and partition = 2 narrows to one group
    val g = sliced.groupBy("partition").count().collect()
      .map(r => r.getInt(0) -> r.getLong(1)).toMap
    assert(g == Map(0 -> 5L, 1 -> 5L, 2 -> 5L, 3 -> 5L), g.toString)
    val one = sliced.filter($"partition" === 2)
      .groupBy("partition").count().collect()
    assert(one.map(r => (r.getInt(0), r.getLong(1))).toSeq == Seq((2, 5L)))
    // a window beyond the log: zero — global count still yields one row
    val empty = spark.read.format("graft-ledger")
      .option("path", topic.toString)
      .option("startPublishUs", "9000000")
      .load().selectExpr("count(*)").collect()
    assert(empty.map(_.getLong(0)).toSeq == Seq(0L))
  }

  test("time seek composes with runtime partition filtering (DPP)") {
    // a DPP-sized time topic: 4 partitions × ledgers 1/3 × 2000 padded
    // entries, so the filtered dim broadcasts and runtime filters are
    // not dropped as useless
    val root = Paths.get(tmp("graft_time_dpp_topic"))
    (0 until 4).foreach { p =>
      val d = root.resolve(s"partition-$p")
      Files.createDirectories(d)
      Seq(1, 3).foreach { l =>
        Files.write(d.resolve(s"ledger-$l.log"),
          (0 until 2000).map(i => s"k$i,p$p-l$l-e$i-" + ("x" * 32))
            .mkString("\n").getBytes(StandardCharsets.UTF_8))
      }
    }
    import spark.implicits._
    val dim = writeDim(Seq((0, "a"), (1, "b"), (2, "keep"), (3, "c")))
    // time window = ledger 3's first half only
    val fact = read(root)
      .filter($"publish_us" >= 3000000L && $"publish_us" < 3001000L)
      .selectExpr("partition", "publish_us")
    val res = fact.join(dim, fact("partition") === dim("p"))
      .where(dim("tag") === "keep")
    val rows = res.collect()
    assert(rows.length == 1000, s"got ${rows.length}")
    assert(rows.map(_.getInt(0)).toSet == Set(2))
    assert(rows.forall(r => r.getLong(1) >= 3000000L && r.getLong(1) < 3001000L))
    // BOTH prunings reached the source: one surviving partition, and its
    // planned range trimmed to the window
    val rs = ranges(root)
    assert(rs.map(_._1) == Seq(2), s"DPP did not prune: $rs")
    rs.foreach { case (_, f, t) =>
      assert(f == LedgerSource.Cursor(3, 0) && t == LedgerSource.Cursor(3, 1000),
        s"time trim lost under DPP re-planning: $f..$t")
    }
  }
}
