package graft

import java.nio.file.{Files, Path, Paths}
import java.nio.charset.StandardCharsets
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.scalatest.funsuite.AnyFunSuite
import graft.sources.{LedgerStreamingWrite, LedgerWrite}
import graft.streaming.ConsistencyChecker

class LedgerWriteSpec extends AnyFunSuite with TempDirs {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  private def newTopic(tag: String): Path =
    Paths.get(tmp(s"graft_write_$tag"))

  private def append(root: Path, rows: Seq[(Integer, String, String)]): Unit = {
    import spark.implicits._
    rows.toDF("partition", "key", "v")
      .select(col("partition"), col("key"), col("v").cast("binary").as("value"))
      .write.format("graft-ledger").option("path", root.toString)
      .mode("append").save()
  }

  private def readBack(root: Path) =
    spark.read.format("graft-ledger").option("path", root.toString).load()

  test("batch append round-trips; topic/ledger/entry/publish are log-assigned") {
    val root = newTopic("rt")
    append(root, Seq((0, "a", "pay-a"), (0, "b", "pay-b"), (1, "c", "pay-c")))
    val rows = readBack(root)
      .select("partition", "key", "value", "ledger_id", "entry_id").collect()
    assert(rows.map(r => (r.getInt(0), r.getString(1),
      new String(r.getAs[Array[Byte]](2), StandardCharsets.UTF_8))).toSet ==
      Set((0, "a", "pay-a"), (0, "b", "pay-b"), (1, "c", "pay-c")))
    // first segment per partition gets id 0; entries number 0..n-1
    assert(rows.forall(_.getLong(3) == 0L))
    assert(rows.filter(_.getInt(0) == 0).map(_.getLong(4)).sorted.toSeq == Seq(0L, 1L))
    assert(rows.filter(_.getInt(0) == 1).map(_.getLong(4)).toSeq == Seq(0L))
    // and the consistency checker round-trips natively over written data
    val report = ConsistencyChecker.report(
      ConsistencyChecker.missingFromSink(spark, root.toString,
        readBack(root).select("key"), Seq("key")), Seq("key"))
    assert(report.missingCount == 0)
  }

  test("second append opens a new segment and never rewrites published bytes") {
    val root = newTopic("seg")
    append(root, Seq((0, "a", "one")))
    val seg0 = root.resolve("partition-0/ledger-0.log")
    val before = Files.readAllBytes(seg0)
    append(root, Seq((0, "b", "two")))
    assert(Files.readAllBytes(seg0).sameElements(before),
      "published segment was rewritten")
    assert(Files.exists(root.resolve("partition-0/ledger-1.log")))
    val got = readBack(root).select("ledger_id", "key").collect()
      .map(r => (r.getLong(0), r.getString(1))).toSet
    assert(got == Set((0L, "a"), (1L, "b")))
    // no staging/tmp litter survives a successful commit
    assert(!Files.exists(root.resolve(".staging")) ||
      !Files.list(root.resolve(".staging")).iterator().hasNext)
  }

  test("NULL partition routes by key hash over writePartitions buckets") {
    import spark.implicits._
    val root = newTopic("hash")
    val keys = Seq("alpha", "beta", "gamma", "delta")
    keys.toDF("key")
      .select(col("key"), col("key").cast("binary").as("value"))
      .write.format("graft-ledger").option("path", root.toString)
      .option("writePartitions", "2")
      .mode("append").save()
    val got = readBack(root).select("partition", "key").collect()
      .map(r => (r.getInt(0), r.getString(1))).toSet
    val want = keys.map(k => (math.floorMod(k.hashCode, 2), k)).toSet
    assert(got == want, s"got $got want $want")
  }

  test("line-format violations fail the write instead of corrupting segments") {
    import spark.implicits._
    val root = newTopic("bad")
    val newline = intercept[Exception] {
      Seq(("k", "evil\npayload")).toDF("key", "v")
        .select(col("key"), col("v").cast("binary").as("value"))
        .write.format("graft-ledger").option("path", root.toString)
        .mode("append").save()
    }
    assert(newline.getMessage != null)
    val commaKey = intercept[Exception] {
      Seq(("k,oops", "fine")).toDF("key", "v")
        .select(col("key"), col("v").cast("binary").as("value"))
        .write.format("graft-ledger").option("path", root.toString)
        .mode("append").save()
    }
    assert(commaKey.getMessage != null)
    // nothing was published
    assert(graft.sources.LedgerSource.listPartitions(root).isEmpty)
  }

  test("streaming sink appends one segment batch per epoch, recovers cleanly") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val root = newTopic("stream")
    val ckpt = tmp("graft_write_ckpt")
    val mem = MemoryStream[(Int, String, String)]
    val q = mem.toDF().toDF("partition", "key", "v")
      .select(col("partition"), col("key"), col("v").cast("binary").as("value"))
      .writeStream.format("graft-ledger")
      .option("path", root.toString)
      .option("checkpointLocation", ckpt)
      .start()
    try {
      mem.addData((0, "s1", "v1"), (1, "s2", "v2"))
      q.processAllAvailable()
      mem.addData((0, "s3", "v3"))
      q.processAllAvailable()
      val got = readBack(root).select("partition", "key").collect()
        .map(r => (r.getInt(0), r.getString(1))).toSet
      assert(got == Set((0, "s1"), (1, "s2"), (0, "s3")))
      // the second epoch landed as a NEW segment on partition 0
      assert(Files.exists(root.resolve("partition-0/ledger-1.log")))
      // epoch markers exist for both commits
      val markers = Files.list(root.resolve("_commits")).iterator()
      assert(markers.hasNext)
    } finally q.stop()
  }

  test("epoch commit is idempotent: retries replay the manifest, never double-append") {
    val root = newTopic("idem")
    val schema = new StructType()
      .add("partition", IntegerType).add("key", StringType)
      .add("value", BinaryType)
    val w = new LedgerStreamingWrite(root.toString, "qtest", schema,
      Map("writepartitions" -> "4"))
    val staging = root.resolve(".staging").resolve("stream-qtest")
    Files.createDirectories(staging)
    Files.write(staging.resolve("t0-p0.piece"),
      "k,v1\n".getBytes(StandardCharsets.UTF_8))
    val msg = LedgerWrite.LedgerCommitMessage("t0",
      Seq(LedgerWrite.Piece(0, "t0-p0.piece", 1)))
    w.commit(0L, Array(msg))
    val seg = root.resolve("partition-0/ledger-0.log")
    assert(Files.exists(seg))
    val bytes = Files.readAllBytes(seg)
    // retried commit of the same epoch: marker short-circuits, no new ids
    w.commit(0L, Array(msg))
    assert(Files.readAllBytes(seg).sameElements(bytes))
    assert(!Files.exists(root.resolve("partition-0/ledger-1.log")),
      "retry double-appended")
    // crash-between-manifest-and-rename: a later epoch resumes its OWN
    // recorded plan (same final id) instead of recomputing a fresh one
    Files.createDirectories(root.resolve("partition-2"))
    Files.write(root.resolve("partition-2/.tmp-qtest-5"),
      "k,vm\n".getBytes(StandardCharsets.UTF_8))
    Files.write(staging.resolve("manifest-5"),
      "2,.tmp-qtest-5,ledger-7.log".getBytes(StandardCharsets.UTF_8))
    w.commit(5L, Array.empty)
    assert(Files.exists(root.resolve("partition-2/ledger-7.log")))
    assert(Files.exists(root.resolve("_commits").resolve("qtest-5")))
  }

  test("written topics stream through the micro-batch source end to end") {
    // full producer→consumer loop: batch-append a topic, then consume it
    // with the streaming read path (offsets, admission, bounded readers)
    val root = newTopic("loop")
    append(root, Seq((0, "w1", "v1"), (1, "w2", "v2"), (0, "w3", "v3")))
    val out = tmp("graft_write_loop_out")
    val ckpt = tmp("graft_write_loop_ckpt")
    val q = spark.readStream.format("graft-ledger")
      .option("path", root.toString).load()
      .selectExpr("partition", "key", "CAST(value AS STRING) AS v")
      .writeStream.format("parquet")
      .option("path", out).option("checkpointLocation", ckpt)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination(60000)
    val got = spark.read.parquet(out).collect()
      .map(r => (r.getInt(0), r.getString(1), r.getString(2))).toSet
    assert(got == Set((0, "w1", "v1"), (1, "w2", "v2"), (0, "w3", "v3")))
  }

  test("property: random newline-free payloads round-trip byte-for-byte") {
    // seeded property run (scalacheck spirit): arbitrary printable keys
    // and comma/unicode-bearing payloads must survive write → read
    // unchanged — the line format's only exclusions are newlines in
    // payloads and commas/newlines in keys
    import spark.implicits._
    val rnd = new scala.util.Random(42)
    val keyChars = (('a' to 'z') ++ ('0' to '9')).mkString
    def randKey() = (0 until 1 + rnd.nextInt(8))
      .map(_ => keyChars(rnd.nextInt(keyChars.length))).mkString
    val payloadChars = keyChars + ",;|{}[]\"'=:€ñ中 "
    def randPayload() = (0 until rnd.nextInt(40))
      .map(_ => payloadChars(rnd.nextInt(payloadChars.length))).mkString
    val rows = (0 until 200).map { i =>
      (rnd.nextInt(3), s"${randKey()}_$i", randPayload())
    }
    val root = newTopic("prop")
    rows.toDF("partition", "key", "v")
      .select(col("partition"), col("key"),
        encode(col("v"), "UTF-8").as("value"))
      .write.format("graft-ledger").option("path", root.toString)
      .mode("append").save()
    val got = readBack(root).select("partition", "key", "value").collect()
      .map(r => (r.getInt(0), r.getString(1),
        new String(r.getAs[Array[Byte]](2), StandardCharsets.UTF_8))).toSet
    assert(got == rows.toSet,
      s"missing=${(rows.toSet -- got).take(3)} extra=${(got -- rows.toSet).take(3)}")
  }

  test("written JSON payloads decode typed columns through format=json") {
    // write path composed with the in-source decoder: payloads written by
    // the engine read back as typed columns with per-field pruning
    import spark.implicits._
    val root = newTopic("json")
    Seq((0, "j1", """{"name":"ada","qty":3}"""),
        (0, "j2", """{"name":"bob","qty":7}"""),
        (0, "j3", """not json at all"""))
      .toDF("partition", "key", "v")
      .select(col("partition"), col("key"), col("v").cast("binary").as("value"))
      .write.format("graft-ledger").option("path", root.toString)
      .mode("append").save()
    val typed = spark.read.format("graft-ledger")
      .option("path", root.toString)
      .option("format", "json")
      .option("jsonSchema", "name STRING, qty INT")
      .load()
      .select("key", "name", "qty").collect()
      .map(r => (r.getString(0), Option(r.getString(1)),
        if (r.isNullAt(2)) None else Some(r.getInt(2)))).toSet
    assert(typed == Set(
      ("j1", Some("ada"), Some(3)),
      ("j2", Some("bob"), Some(7)),
      ("j3", None, None)), typed.toString) // malformed → nulls, not a crash
  }

  test("INSERT INTO a DDL-created ledger table appends with log-assigned ids") {
    val root = newTopic("ddl")
    spark.sql("DROP TABLE IF EXISTS ledger_w")
    spark.sql(
      s"CREATE TABLE ledger_w USING `graft-ledger` OPTIONS (path '${root.toString}')")
    try {
      // user-supplied ledger/entry/publish ids are ignored — log-assigned
      spark.sql(
        "INSERT INTO ledger_w VALUES ('t', 0, 99, 99, 'ik', X'6869', 123)")
      val r = spark.sql(
        """SELECT partition, key, CAST(value AS STRING) AS v,
          |       ledger_id, entry_id FROM ledger_w""".stripMargin)
        .collect().map(x =>
          (x.getInt(0), x.getString(1), x.getString(2), x.getLong(3), x.getLong(4)))
      assert(r.toSeq == Seq((0, "ik", "hi", 0L, 0L)), r.mkString(";"))
    } finally spark.sql("DROP TABLE IF EXISTS ledger_w")
  }
}
