package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.functions.GeoFunctions
import graft.functions.expressions.GeoExpressions

class GeoExpressionsSpec extends AnyFunSuite with TempDirs {

  lazy val spark: SparkSession = {
    // getOrCreate would reuse another suite's session (same JVM) and skip
    // our extensions — force a fresh session so withExtensions applies
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
    SparkSession.builder()
      .master("local[4]")
      .withExtensions(new GraftExtensions)
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
  }

  test("native vincenty expression matches the Scala function under codegen") {
    import spark.implicits._
    val df = Seq(
      (48.8566, 2.3522, 51.5074, -0.1278),
      (12.9716, 77.5946, 12.9717, 77.5947),
      (0.0, 10.0, 20.0, 20.0)) // zero-lat guard
      .toDF("lat1", "lng1", "lat2", "lng2")
    val got = df.select(GeoExpressions.vincenty(
      col("lat1"), col("lng1"), col("lat2"), col("lng2")).as("d"))
      .collect().map(_.getDouble(0))
    val exp = Seq(
      GeoFunctions.vincentyM(48.8566, 2.3522, 51.5074, -0.1278),
      GeoFunctions.vincentyM(12.9716, 77.5946, 12.9717, 77.5947),
      1.0e7)
    assert(got.toSeq == exp)
  }

  test("native expressions handle nulls") {
    val df = spark.sql("SELECT CAST(null AS DOUBLE) AS a, 1.0 AS b")
    val r = df.select(GeoExpressions.vincenty(
      col("a"), col("b"), col("b"), col("b")).as("d")).collect().head
    assert(r.isNullAt(0))
  }

  test("SQL registration via GraftExtensions") {
    val d = spark.sql("SELECT vincenty(48.8566, 2.3522, 51.5074, -0.1278) AS d")
      .collect().head.getDouble(0)
    assert(math.abs(d - 343923.0) < 200.0)
    val gh = spark.sql("SELECT geohash_encode(57.64911, 10.40744, 11) AS g")
      .collect().head.getString(0)
    assert(gh == "u4pruydqqvj")
    val cs = spark.sql(
      """SELECT cosine_sim(array(cast(1.0 as float), cast(0.0 as float)),
        |                  array(cast(0.6 as float), cast(0.8 as float))) AS c""".stripMargin)
      .collect().head.getDouble(0)
    assert(math.abs(cs - 0.6) < 1e-6, s"cosine_sim = $cs") // float32 inputs
  }

  test("wrong-arity SQL calls fail as clean AnalysisException, not IOOBE") {
    Seq("cosine_sim(array(cast(1.0 as float)))",
        "vincenty(1.0, 2.0)",
        "geohash_encode(1.0)").foreach { call =>
      val e = intercept[org.apache.spark.sql.AnalysisException] {
        spark.sql(s"SELECT $call").collect()
      }
      assert(e.getMessage.contains("requires"), s"$call: ${e.getMessage}")
    }
  }

  test("srp_bucket is SQL-callable and matches the Column form") {
    import org.apache.spark.sql.functions.col
    import graft.functions.expressions.VectorExpressions.srpBucketExpr
    Tables.embeddings(spark, "/root/testdata/sf0.001")
      .limit(50).createOrReplaceTempView("emb_sql")
    val viaSql = spark.sql("SELECT vec_id, srp_bucket(embedding, 10) AS b FROM emb_sql")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val viaCol = spark.table("emb_sql")
      .select(col("vec_id"), srpBucketExpr(col("embedding"), 10).as("b"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(viaSql == viaCol && viaSql.nonEmpty)
    val bad = intercept[org.apache.spark.sql.AnalysisException] {
      spark.sql("SELECT srp_bucket(embedding, vec_id) FROM emb_sql").collect()
    }
    assert(bad.getMessage.toLowerCase.contains("srp_bucket"), bad.getMessage)
  }

  test("minhash_band_keys is SQL-callable and matches the Column form") {
    import org.apache.spark.sql.functions.{col, explode}
    import graft.functions.TextFunctions.wordNgramsUdf
    Tables.documents(spark, "/root/testdata/sf0.001")
      .limit(50)
      .select(col("doc_id"), wordNgramsUdf(3)(col("text")).as("shingles"))
      .createOrReplaceTempView("docs_sql")
    val viaSql = spark.sql(
      """SELECT doc_id, explode(minhash_band_keys(shingles, 64, 32, 2)) AS b
        |FROM docs_sql""".stripMargin)
      .collect().map(r => (r.getLong(0), r.getString(1))).toSet
    val viaCol = spark.table("docs_sql")
      .select(col("doc_id"), explode(graft.functions.expressions.TextExpressions
        .minhashBandKeysExpr(col("shingles"), 64, 32, 2)).as("b"))
      .collect().map(r => (r.getLong(0), r.getString(1))).toSet
    assert(viaSql == viaCol && viaSql.nonEmpty)
    val bad = intercept[org.apache.spark.sql.AnalysisException] {
      spark.sql("SELECT minhash_band_keys(shingles, doc_id, 32, 2) FROM docs_sql")
        .collect()
    }
    assert(bad.getMessage.toLowerCase.contains("minhash_band_keys"), bad.getMessage)
  }

  test("native SrpBucket expression is bit-identical to the UDF form") {
    import org.apache.spark.sql.functions.col
    import graft.functions.VectorFunctions.{srpBucketUdf, srpBucketAtUdf}
    import graft.functions.expressions.VectorExpressions.srpBucketExpr
    val e = Tables.embeddings(spark, "/root/testdata/sf0.001")
    val mismatches = e.select(
      srpBucketUdf(10)(col("embedding")).as("u10"),
      srpBucketExpr(col("embedding"), 10).as("e10"),
      srpBucketAtUdf(8, 8)(col("embedding")).as("u8_8"),
      srpBucketExpr(col("embedding"), 8, 8).as("e8_8"))
      .filter(col("u10") =!= col("e10") || col("u8_8") =!= col("e8_8"))
      .count()
    assert(mismatches == 0L)
  }

  test("graft_ledger_status table function reports topic metadata in SQL") {
    import java.nio.file.Files
    import java.nio.charset.StandardCharsets
    val root = java.nio.file.Paths.get(tmp("graft_status_topic"))
    def write(p: Int, ledger: Long, lines: Seq[String]): Unit = {
      val dir = root.resolve(s"partition-$p")
      Files.createDirectories(dir)
      Files.write(dir.resolve(s"ledger-$ledger.log"),
        lines.mkString("\n").getBytes(StandardCharsets.UTF_8))
    }
    write(0, 1, Seq("a,1", "b,2", "c,3"))
    write(0, 5, Seq("d,4")) // gap 2-4
    write(1, 2, Seq("e,5", "f,6"))
    val rows = spark.sql(
      s"SELECT * FROM graft_ledger_status('${root.toString}') ORDER BY partition")
      .collect()
    assert(rows.length == 2)
    val p0 = rows(0)
    assert((p0.getInt(0), p0.getInt(1), p0.getLong(2), p0.getLong(3), p0.getLong(4)) ==
      (0, 2, 1L, 5L, 4L), p0.toString)
    assert(p0.getLong(5) > 0L) // bytes on disk
    assert((rows(1).getInt(0), rows(1).getLong(4)) == (1, 2L))
    // non-literal path must fail as a clean AnalysisException
    val bad = intercept[org.apache.spark.sql.AnalysisException] {
      spark.sql("SELECT * FROM graft_ledger_status(concat('a', 'b'))").collect()
    }
    assert(bad.getMessage.contains("graft_ledger_status"), bad.getMessage)
    // companion lag TVF: backlog relative to a checkpoint offsets JSON —
    // p0 cursor mid-ledger-1 (2 of 3 remain + 1 in gap ledger 5 = 3), p1
    // absent from the JSON → full log (2)
    val lag = spark.sql(
      s"""SELECT partition, lag FROM graft_ledger_lag('${root.toString}',
         |  '{"0":[1,1]}') ORDER BY partition""".stripMargin)
      .collect().map(r => (r.getInt(0), r.getLong(1))).toMap
    assert(lag == Map(0 -> 3L, 1 -> 2L), lag.toString)
    // integration with the write path: an INSERT INTO the same topic must
    // show up in both TVFs (status entries grow, lag grows by the same)
    spark.sql("DROP TABLE IF EXISTS ledger_tvf")
    spark.sql(
      s"CREATE TABLE ledger_tvf USING `graft-ledger` OPTIONS (path '${root.toString}')")
    try {
      spark.sql("INSERT INTO ledger_tvf VALUES ('t', 1, 0, 0, 'k9', X'6869', 0)")
      val after = spark.sql(
        s"SELECT partition, entries FROM graft_ledger_status('${root.toString}') ORDER BY partition")
        .collect().map(r => (r.getInt(0), r.getLong(1))).toMap
      assert(after == Map(0 -> 4L, 1 -> 3L), after.toString)
      val lag2 = spark.sql(
        s"""SELECT partition, lag FROM graft_ledger_lag('${root.toString}',
           |  '{"0":[1,1]}') ORDER BY partition""".stripMargin)
        .collect().map(r => (r.getInt(0), r.getLong(1))).toMap
      assert(lag2 == Map(0 -> 3L, 1 -> 3L), lag2.toString)
    } finally spark.sql("DROP TABLE IF EXISTS ledger_tvf")
  }

  test("graft_artifacts_status table function reports store health in SQL") {
    import java.nio.file.Files
    val root = java.nio.file.Paths.get(tmp("graft_status_store"))
    val prev = spark.conf.getOption("spark.graft.artifacts.path")
    spark.conf.set("spark.graft.artifacts.path", root.toString)
    try {
      ArtifactStore.readThrough(spark, "famA", "fp1")(spark.range(10).toDF("id"))
      ArtifactStore.readThrough(spark, "famA", "fp2")(spark.range(5).toDF("id"))
      ArtifactStore.readThrough(spark, "famB", "fp1")(spark.range(3).toDF("id"))
      // plant crashed-builder debris + a corrupt (manifest-less) entry
      Files.createDirectories(root.resolve("famB").resolve(".tmp-dead"))
      Files.createFile(root.resolve("famB").resolve("fp=x.lock"))
      Files.createDirectories(root.resolve("famB").resolve("fp=corrupt"))
      val rows = spark.sql(
        s"SELECT * FROM graft_artifacts_status('${root.toString}') ORDER BY family")
        .collect()
      assert(rows.length == 2)
      val a = rows(0)
      assert(a.getString(0) == "famA" && a.getInt(1) == 2 && a.getInt(2) == 2,
        a.toString)
      assert(a.getLong(3) > 0L && a.getLong(4) > 0L) // bytes, newest manifest
      val b = rows(1)
      assert(b.getString(0) == "famB" &&
        (b.getInt(1), b.getInt(2), b.getInt(5), b.getInt(6)) == (2, 1, 1, 1),
        b.toString) // 2 entries, 1 live, 1 tmp dir, 1 lock
      // a missing store is an empty report, not an error
      assert(spark.sql(
        "SELECT * FROM graft_artifacts_status('/tmp/definitely-missing-store')")
        .collect().isEmpty)
      // non-literal path fails as a clean AnalysisException
      val bad = intercept[org.apache.spark.sql.AnalysisException] {
        spark.sql("SELECT * FROM graft_artifacts_status(concat('a', 'b'))").collect()
      }
      assert(bad.getMessage.contains("graft_artifacts_status"), bad.getMessage)
    } finally prev match {
      case Some(v) => spark.conf.set("spark.graft.artifacts.path", v)
      case None => spark.conf.unset("spark.graft.artifacts.path")
    }
  }

  test("expression stays inside whole-stage codegen") {
    // parquet-backed input so ConvertToLocalRelation can't pre-evaluate
    val df = Tables.supplier(spark, "/root/testdata/sf0.001")
      .select(GeoExpressions.vincenty(
        col("s_acctbal"), col("s_acctbal"), col("s_acctbal"), col("s_acctbal")))
    // "*(n)" prefixes mark operators fused into a WholeStageCodegen stage
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("*(1) Project [vincentydistance"), plan)
  }
}
