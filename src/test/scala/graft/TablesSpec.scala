package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** `Tables.readParquet`: the one parquet read that infers a dataset's
  * schema once per JVM. A later read of the same files under the same
  * parquet confs runs no Spark job; a rewrite, a conf change or a failed
  * inference never serves a stale schema. */
class TablesSpec extends AnyFunSuite with TempDirs {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  private val dir = "/root/testdata/sf0.001"

  /** The latency-regime subset perfbench's `query-suite` times, in name
    * order: q01 reads lineitem before q12 reads events. */
  private val querySuite = Seq(
    "q01_pricing_summary", "q09_top3_orders", "q12_user_type_counts",
    "q23_geohash_cells", "q25_quality", "q26_langid",
    "q34_ann_srp", "q35_label_centroids", "q67_bigram_surprisal")

  test("building each query-suite query runs no Spark job once warm") {
    querySuite.foreach(q => SparkEntry.queries(q)(spark, dir))
    querySuite.foreach { q =>
      val (_, jobs) = SparkJobs.of(spark, s"build-$q")(SparkEntry.queries(q)(spark, dir))
      assert(jobs == 0, s"$q ran $jobs Spark jobs while it was built")
    }
  }

  test("the first read infers with a job, a re-read of the same files runs none") {
    import spark.implicits._
    val t = s"${tmp("infer")}/t.parquet"
    Seq((1L, "a")).toDF("id", "s").write.parquet(t)
    val (first, inferJobs) = SparkJobs.of(spark, "first-read")(Tables.readParquet(spark, t))
    val (again, reJobs) = SparkJobs.of(spark, "re-read")(Tables.readParquet(spark, t))
    assert(inferJobs > 0 && reJobs == 0, s"jobs: first $inferJobs, re-read $reJobs")
    assert(again.schema == first.schema)
    assert(again.as[(Long, String)].collect().toSeq == Seq((1L, "a")))
  }

  test("a table rewritten at the same path is read with its added column") {
    import spark.implicits._
    val d = tmp("rewrite")
    Seq((1L, "a")).toDF("id", "s").write.parquet(s"$d/t.parquet")
    assert(Tables(spark, d, "t").columns.toSeq == Seq("id", "s"))
    Seq((2L, "b", 3.5)).toDF("id", "s", "x").write.mode("overwrite").parquet(s"$d/t.parquet")
    val back = Tables(spark, d, "t")
    assert(back.columns.toSeq == Seq("id", "s", "x"))
    assert(back.as[(Long, String, Double)].collect().toSeq == Seq((2L, "b", 3.5)))
  }

  test("changing spark.sql.parquet.binaryAsString infers again") {
    import org.apache.parquet.example.data.simple.SimpleGroupFactory
    import org.apache.parquet.hadoop.example.ExampleParquetWriter
    import org.apache.parquet.hadoop.util.HadoopOutputFile
    import org.apache.parquet.schema.MessageTypeParser
    import org.apache.spark.sql.types.{BinaryType, StringType}
    // a file without Spark's schema in its footer: a Spark-written file
    // carries its own types, which inference takes over binaryAsString
    val t = s"${tmp("binary")}/t.parquet"
    val schema = MessageTypeParser.parseMessageType("message m { required binary b; }")
    val w = ExampleParquetWriter.builder(HadoopOutputFile.fromPath(
        new org.apache.hadoop.fs.Path(t), spark.sessionState.newHadoopConf()))
      .withType(schema).build()
    try w.write(new SimpleGroupFactory(schema).newGroup().append("b", "hi"))
    finally w.close()
    val key = "spark.sql.parquet.binaryAsString"
    try {
      spark.conf.set(key, "false")
      assert(Tables.readParquet(spark, t).schema("b").dataType == BinaryType)
      spark.conf.set(key, "true")
      val asString = Tables.readParquet(spark, t)
      assert(asString.schema("b").dataType == StringType)
      assert(asString.head().getString(0) == "hi")
      spark.conf.set(key, "false")
      assert(Tables.readParquet(spark, t).schema("b").dataType == BinaryType)
    } finally spark.conf.unset(key)
  }

  test("an empty directory fails with Spark's own error and caches nothing") {
    import spark.implicits._
    val d = tmp("empty")
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(s"$d/t.parquet"))
    // a schema cached for the empty listing would make the second read
    // succeed with no rows: Spark reads an empty dir under a given schema
    (1 to 2).foreach { _ =>
      val e = intercept[org.apache.spark.sql.AnalysisException](Tables(spark, d, "t"))
      assert(e.getMessage.contains("Unable to infer schema"), e.getMessage)
    }
    Seq(7L).toDF("id").write.mode("append").parquet(s"$d/t.parquet")
    assert(Tables(spark, d, "t").as[Long].collect().toSeq == Seq(7L))
  }

  test("files under a directory Spark's file index skips do not change the fingerprint") {
    import spark.implicits._
    val d = tmp("hidden")
    Seq(1L).toDF("id").write.parquet(s"$d/t.parquet")
    val before = Tables.parquetFingerprint(spark, d, "t")
    Seq(2L).toDF("id").write.parquet(s"$d/t.parquet/_temporary/0")
    Seq(3L).toDF("id").write.parquet(s"$d/t.parquet/.staging")
    assert(Tables.parquetFingerprint(spark, d, "t") == before)
    assert(Tables(spark, d, "t").as[Long].collect().toSeq == Seq(1L))
  }
}
