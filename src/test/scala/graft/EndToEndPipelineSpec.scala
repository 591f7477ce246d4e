package graft

import java.nio.file.Files
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import org.scalatest.funsuite.AnyFunSuite
import graft.operators.Elections
import graft.operators.Elections.Pt
import graft.streaming.{ConsistencyChecker, GeotagPipeline}

/** The COMPOSED reference deployment in one test: producer (graft-ledger
  * DSv2 write) → ledger micro-batch stream with in-source JSON decode →
  * election upsert (GeotagPipeline) → source-vs-sink reconciliation
  * (ConsistencyChecker) — the StreamingAppV3 + consistency-checker
  * end-to-end chain. Each piece has its own spec; this one proves the
  * composition: bytes written through the engine's own sink are read back
  * by its own source across TWO resumed epochs, elected, upserted, and
  * reconciled to zero missing rows (with a non-vacuous injected-gap
  * control).
  */
class EndToEndPipelineSpec extends AnyFunSuite with TempDirs {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  private def js(hash: String, typ: String, lat: Double, lng: Double,
                 acc: Double, ts: Long): String =
    s"""{"addr_hash":"$hash","type":"$typ","lat":$lat,"lng":$lng,"accuracy":$acc,"ts_ms":$ts}"""

  test("produce → stream → elect → upsert → reconcile, across two epochs") {
    import spark.implicits._
    val topic = tmp("e2e_topic")
    val table = tmp("e2e_table") + "/lookup"
    val ckpt = tmp("e2e_ckpt")

    def produce(rows: Seq[(Integer, String, String)]): Unit =
      rows.toDF("partition", "key", "v")
        .select(col("partition"), col("key"), col("v").cast("binary").as("value"))
        .write.format("graft-ledger").option("path", topic)
        .mode("append").save()

    def runEpoch(): Unit = {
      val q = GeotagPipeline.stream(spark, topic, table, ckpt)
        .trigger(Trigger.AvailableNow()).start()
      q.awaitTermination(120000)
    }

    // epoch 1: 4 clustered DEL points for h1 on partition 0, one invalid
    // type and one zero-lat row that the pipeline must drop
    produce(Seq[(Integer, String, String)](
      (0, "h1", js("h1", "DEL", 12.9716, 77.5946, 10, 1000)),
      (0, "h1", js("h1", "DEL", 12.9717, 77.5947, 12, 2000)),
      (0, "h1", js("h1", "DEL", 12.9718, 77.5945, 15, 3000)),
      (0, "h1", js("h1", "DEL", 12.9715, 77.5948, 20, 4000)),
      (0, "h1", js("h1", "XXX", 12.9, 77.5, 10, 5000)),
      (0, "h1", js("h1", "DEL", 0.0, 77.5, 10, 6000))))
    runEpoch()
    val after1 = spark.read.parquet(table)
    assert(after1.count() == 4, "invalid rows must not reach the table")

    // epoch 2 resumes from the checkpoint: an outlier + one more cluster
    // point for h1, plus a new key h2 on the OTHER log partition
    produce(Seq[(Integer, String, String)](
      (0, "h1", js("h1", "DEL", 13.2000, 77.9000, 30, 7000)),
      (0, "h1", js("h1", "DEL", 12.9716, 77.5947, 11, 8000)),
      (1, "h2", js("h2", "PC", 10.0, 70.0, 50, 9000))))
    runEpoch()

    val sink = spark.read.parquet(table)
    assert(sink.select("addr_hash").distinct().count() == 2)
    val h1 = sink.filter(col("addr_hash") === "h1")
    assert(h1.count() == 6, "merged history must hold all 6 valid points")
    // the upserted election matches the pure algorithm over merged history
    val expected = Seq(
      Pt(12.9716, 77.5946, 10, 1000), Pt(12.9717, 77.5947, 12, 2000),
      Pt(12.9718, 77.5945, 15, 3000), Pt(12.9715, 77.5948, 20, 4000),
      Pt(13.2000, 77.9000, 30, 7000), Pt(12.9716, 77.5947, 11, 8000))
    val (elat, elng) = Elections.bestLatLng(Elections.dedupAndCap(expected))
    val got = h1.select("best_lat", "best_lng").distinct().collect().head
    assert(got.getDouble(0) == elat && got.getDouble(1) == elng)

    // reconcile: every VALID row committed to the log is in the sink —
    // the checker re-reads the topic through the same bounded batch path
    // with the same in-source JSON decode + validity filter the pipeline
    // applied, anti-joined against the table
    def reconcile(sinkDf: DataFrame): Long = ConsistencyChecker.report(
      ConsistencyChecker.missingFromSink(spark, topic, sinkDf,
        keyCols = Seq("addr_hash", "ts_ms"),
        decode = df => GeotagPipeline.validate(df)
          .select(col("addr_hash"), col("ts_ms")),
        sourceOptions = Map(
          "format" -> "json", "jsonSchema" -> GeotagPipeline.PayloadDdl)),
      Seq("addr_hash", "ts_ms")).missingCount
    assert(reconcile(sink) == 0, "consistent sink must reconcile to zero")
    // non-vacuous: the same check over a sink with an injected gap finds it
    assert(reconcile(sink.filter(col("ts_ms") =!= 8000L)) == 1,
      "injected sink gap must surface as exactly one missing row")
  }
}
