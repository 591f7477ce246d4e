package graft

import java.nio.file.{Files, Path}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import org.scalatest.funsuite.AnyFunSuite
import graft.sources.{LedgerMaintenance, LedgerSource}
import graft.sources.LedgerSource.Cursor

/** Segment retention: old segments age out, checkpointed streams resume
  * exactly across the resulting ledger-id gaps, stale cursors degrade to
  * earliest-available — the lifecycle the reference delegates to the
  * broker, driven against the engine's own write path.
  */
class LedgerMaintenanceSpec extends AnyFunSuite with TempDirs {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  private def append(root: Path, rows: Seq[(Int, String, String)]): Unit = {
    import spark.implicits._
    rows.toDF("partition", "key", "v")
      .select(col("partition"), col("key"), col("v").cast("binary").as("value"))
      .write.format("graft-ledger").option("path", root.toString)
      .mode("append").save()
  }

  test("retention keeps resumable streams exact and degrades stale cursors to earliest") {
    val root = java.nio.file.Paths.get(tmp("graft_retain"))
    // three appends → ledgers 0, 1, 2 on partition 0
    append(root, Seq((0, "a", "v0")))
    append(root, Seq((0, "b", "v1")))
    append(root, Seq((0, "c", "v2")))

    // consume everything with a checkpointed stream
    val out = tmp("graft_retain_out")
    val ckpt = tmp("graft_retain_ckpt")
    def runStream(): Unit = {
      val q = spark.readStream.format("graft-ledger")
        .option("path", root.toString).load()
        .select(col("key"), col("ledger_id"))
        .writeStream.format("parquet")
        .option("path", out).option("checkpointLocation", ckpt)
        .trigger(Trigger.AvailableNow())
        .start()
      q.awaitTermination(60000)
    }
    runStream()
    assert(spark.read.parquet(out).select("key").collect()
      .map(_.getString(0)).toSet == Set("a", "b", "c"))

    // retain below the committed position: ledgers 0 and 1 age out
    val deleted = LedgerMaintenance.retainBelowCommitted(
      root.toString, """{"0":[2,1]}""")
    assert(deleted.map(_.getFileName.toString).toSet ==
      Set("ledger-0.log", "ledger-1.log"), deleted.toString)
    assert(Files.exists(root.resolve("partition-0/ledger-2.log")),
      "cursor's own ledger must survive")

    // new appends land past the gap (next id = 3, not a reused 0)
    append(root, Seq((0, "d", "v3")))
    assert(Files.exists(root.resolve("partition-0/ledger-3.log")))

    // the checkpointed stream resumes across the gap: exactly the new
    // entry, no duplicates of the consumed ones, no loss
    runStream()
    val keys = spark.read.parquet(out).select("key").collect()
      .map(_.getString(0)).toSeq
    assert(keys.sorted == Seq("a", "b", "c", "d"), keys.toString)

    // a stale cursor below the retention point reads earliest-available
    val stale = spark.read.format("graft-ledger")
      .option("path", root.toString)
      .option("startOffsets", """{"0":[0,0]}""")
      .load().select("key").collect().map(_.getString(0)).toSet
    assert(stale == Set("c", "d"), stale.toString)

    // partitions absent from the retention map are untouched
    append(root, Seq((1, "z", "vz")))
    LedgerMaintenance.retain(root.toString, Map(0 -> Cursor(99, 0)))
    assert(Files.exists(root.resolve("partition-1/ledger-0.log")),
      "partition 1 was not in the retention map")
    assert(!Files.exists(root.resolve("partition-0/ledger-2.log")) &&
      !Files.exists(root.resolve("partition-0/ledger-3.log")),
      "partition 0 should be fully aged out below cursor (99,0)")
  }

  test("retention sweeps orphaned batch merge files and keeps live writers' temp files") {
    val root = java.nio.file.Paths.get(tmp("graft_retain_sweep"))
    append(root, Seq((0, "a", "v0")))
    val part = root.resolve("partition-0")
    // a batch append that died between merge and publish
    val orphan = Files.write(part.resolve(".tmp-batch-deadbeef"), "x".getBytes)
    // a streaming epoch's merge file, which the epoch's retry consumes
    val streamTmp = Files.write(part.resolve(".tmp-0f1e2d3c-7"), "x".getBytes)
    // a live batch write's staged pieces, before its commit
    val staged = Files.createDirectories(root.resolve(".staging/batch-live"))
    Files.write(staged.resolve("t0-p0-0.piece"), "x".getBytes)

    val deleted = LedgerMaintenance.retain(root.toString, Map(0 -> Cursor(0, 0)))
    assert(deleted.isEmpty, deleted.toString)
    assert(!Files.exists(orphan), "orphaned batch merge file must be swept")
    assert(Files.exists(streamTmp), "a streaming epoch's temp file must stay")
    assert(Files.exists(staged.resolve("t0-p0-0.piece")),
      "a live batch write's staging dir must stay")
    assert(Files.exists(part.resolve("ledger-0.log")))
    assert(spark.read.format("graft-ledger").option("path", root.toString)
      .load().select("key").collect().map(_.getString(0)).toSeq == Seq("a"))
  }
}
