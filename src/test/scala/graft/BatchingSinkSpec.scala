package graft

import java.util.concurrent.ConcurrentLinkedQueue
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.scalatest.funsuite.AnyFunSuite
import graft.streaming.{BatchingForeachWriter, BatchingSink}

/** Top-level so sink closures don't capture the (non-serializable) suite;
  * static state is visible across tasks in same-JVM local mode.
  */
object Collector extends Serializable {
  val batches = new ConcurrentLinkedQueue[Seq[String]]()
  val post: Seq[String] => Unit = b => batches.add(b)
  def clear(): Unit = batches.clear()
  def all: Seq[Seq[String]] = {
    val it = batches.iterator(); val out = scala.collection.mutable.ArrayBuffer[Seq[String]]()
    while (it.hasNext) out += it.next()
    out.toSeq
  }
}

/** K4 batched external sink: groups of N per partition, tail flush on
  * close, pluggable transport (reference BigfootClient grouped-200 POST).
  */
class BatchingSinkSpec extends AnyFunSuite with TempDirs {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[2]")
    .config("spark.sql.shuffle.partitions", "2")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  test("K6 binary dump writes one file per blob, date-partitioned, idempotent") {
    import java.nio.file.{Files, Paths}
    import org.apache.spark.sql.functions._
    import graft.streaming.BinaryDumpSink
    val root = tmp("graft_blob_dump")
    val df = spark.range(0, 20)
      .select(concat(lit("tag"), col("id")).as("tag_id"),
        encode(concat(lit("png-bytes-"), col("id")), "UTF-8").as("payload"),
        // two distinct dates
        to_timestamp(when(col("id") % 2 === 0, lit("2026-01-05 10:00:00"))
          .otherwise(lit("2026-01-06 10:00:00"))).as("ts"))
    BinaryDumpSink.dump(df, root, "tag_id", "payload", "ts", ext = "png", fanout = 7)
    def files(): Seq[java.nio.file.Path] = {
      val s = Files.walk(Paths.get(root))
      try {
        val it = s.iterator(); val out = scala.collection.mutable.ArrayBuffer[java.nio.file.Path]()
        while (it.hasNext) { val p = it.next(); if (Files.isRegularFile(p)) out += p }
        out.toSeq
      } finally s.close()
    }
    val first = files()
    assert(first.size == 20, s"got ${first.size} files")
    // layout <root>/<date>/<bucket>/<id>.png with both dates present
    val dates = first.map(_.getParent.getParent.getFileName.toString).toSet
    assert(dates == Set("2026-01-05", "2026-01-06"), dates.toString)
    val one = first.find(_.getFileName.toString == "tag3.png").get
    assert(new String(Files.readAllBytes(one)) == "png-bytes-3")
    // stable-hash fan-out: re-running lands every blob at the SAME path
    BinaryDumpSink.dump(df, root, "tag_id", "payload", "ts", ext = "png", fanout = 7)
    assert(files().map(_.toString).sorted == first.map(_.toString).sorted,
      "re-run moved or duplicated blobs")
  }

  test("K6 binary dump neutralizes path-traversal ids and keeps them distinct") {
    import java.nio.file.{Files, Paths}
    import org.apache.spark.sql.functions._
    import graft.streaming.BinaryDumpSink
    val root = tmp("graft_blob_evil")
    val outside = java.nio.file.Paths.get(tmp("graft_blob_outside"))
    // ids that would escape the root or collide if interpolated raw
    val evil = Seq(
      ("../../" + outside.getFileName.toString + "/pwn", "a"),
      ("/etc/graft_abs", "b"),
      ("..", "c"),
      ("nested/child", "d"),
      ("ok-id_1.x", "e"))
    val df = spark.createDataFrame(evil).toDF("tag_id", "txt")
      .select(col("tag_id"), encode(col("txt"), "UTF-8").as("payload"),
        to_timestamp(lit("2026-01-05 10:00:00")).as("ts"))
    BinaryDumpSink.dump(df, root, "tag_id", "payload", "ts", ext = "bin", fanout = 3)
    val s = Files.walk(Paths.get(root))
    val written = try {
      val it = s.iterator(); val out = scala.collection.mutable.ArrayBuffer[java.nio.file.Path]()
      while (it.hasNext) { val p = it.next(); if (Files.isRegularFile(p)) out += p }
      out.toSeq
    } finally s.close()
    // all 5 blobs land inside the root, none outside, safe id passes through
    assert(written.size == 5, written.map(_.toString).toString)
    assert(written.forall(_.toAbsolutePath.startsWith(Paths.get(root).toAbsolutePath)))
    assert(Files.list(outside).count() == 0, "blob escaped the dump root")
    assert(written.exists(_.getFileName.toString == "ok-id_1.x.bin"))
    // hex-encoding is injective: distinct evil ids stay distinct files
    assert(written.map(_.getFileName.toString).distinct.size == 5)
  }

  test("streaming foreach writer batches per partition with tail flush") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    Collector.clear()
    val mem = MemoryStream[String]
    val q = mem.toDS().repartition(1)
      .writeStream
      .foreach(new BatchingForeachWriter(3, Collector.post))
      .start()
    mem.addData((1 to 7).map(i => s"m$i"): _*)
    q.processAllAvailable()
    q.stop()
    val batches = Collector.all
    assert(batches.map(_.size).sorted == Seq(1, 3, 3),
      s"got ${batches.map(_.size)}")
    assert(batches.flatten.toSet == (1 to 7).map(i => s"m$i").toSet)
  }

  test("batch postPartitioned groups every partition's rows") {
    import spark.implicits._
    Collector.clear()
    val df = (1 to 10).map(i => s"r$i").toDF("payload").repartition(2)
    BatchingSink.postPartitioned(df, 4, Collector.post)
    val batches = Collector.all
    assert(batches.flatten.toSet == (1 to 10).map(i => s"r$i").toSet)
    assert(batches.forall(_.size <= 4))
  }
}
