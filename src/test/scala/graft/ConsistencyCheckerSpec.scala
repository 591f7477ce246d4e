package graft

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.streaming.ConsistencyChecker

/** Source-vs-sink reconciliation over the ledger source's bounded batch
  * path: an injected sink gap must surface, a consistent sink must not.
  */
class ConsistencyCheckerSpec extends AnyFunSuite with TempDirs {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  private def writeTopic(): Path = {
    val root = java.nio.file.Paths.get(tmp("graft_cc_topic"))
    val p0 = root.resolve("partition-0"); Files.createDirectories(p0)
    Files.write(p0.resolve("ledger-1.log"),
      (0 until 6).map(i => s"k$i,payload-$i").mkString("\n")
        .getBytes(StandardCharsets.UTF_8))
    val p1 = root.resolve("partition-1"); Files.createDirectories(p1)
    Files.write(p1.resolve("ledger-2.log"),
      (6 until 10).map(i => s"k$i,payload-$i").mkString("\n")
        .getBytes(StandardCharsets.UTF_8))
    root
  }

  private def decode(df: DataFrame): DataFrame =
    df.select(col("key"), col("value").cast("string").as("payload"))

  test("bounded batch read covers the full log and honors offset ranges") {
    val topic = writeTopic()
    val all = spark.read.format("graft-ledger")
      .option("path", topic.toString).load()
    assert(all.count() == 10)
    // [start, end): skip the first 2 entries of p0, stop p1 after 1 entry
    val part = spark.read.format("graft-ledger")
      .option("path", topic.toString)
      .option("startOffsets", """{"0":[1,2]}""")
      .option("endOffsets", """{"1":[2,1]}""")
      .load()
    val keys = part.select("key").collect().map(_.getString(0)).toSet
    assert(keys == Set("k2", "k3", "k4", "k5", "k6"), keys.toString)
    // malformed offset JSON fails loudly at load time
    val bad = intercept[Exception] {
      spark.read.format("graft-ledger")
        .option("path", topic.toString)
        .option("startOffsets", "nonsense").load()
    }
    assert(bad.getMessage.contains("offset JSON"), bad.getMessage)
  }

  test("SQL DDL surface: CREATE TABLE USING graft-ledger, query with SQL") {
    val topic = writeTopic()
    spark.sql("DROP TABLE IF EXISTS ledger_sql")
    spark.sql(
      s"CREATE TABLE ledger_sql USING `graft-ledger` OPTIONS (path '${topic.toString}')")
    try {
      assert(spark.sql("SELECT count(*) FROM ledger_sql").collect().head.getLong(0) == 10)
      val keys = spark.sql(
        "SELECT key FROM ledger_sql WHERE partition = 1 ORDER BY entry_id")
        .collect().map(_.getString(0)).toSeq
      assert(keys == (6 until 10).map(i => s"k$i"), keys.toString)
    } finally spark.sql("DROP TABLE IF EXISTS ledger_sql")
  }

  test("column pruning pushes into the ledger scan") {
    val topic = writeTopic()
    val df = spark.read.format("graft-ledger")
      .option("path", topic.toString).load().select("key")
    val scan = df.queryExecution.executedPlan.collect {
      case b: org.apache.spark.sql.execution.datasources.v2.BatchScanExec => b
    }.head
    assert(scan.output.map(_.name) == Seq("key"), scan.output.toString())
    assert(df.collect().map(_.getString(0)).toSet == (0 until 10).map(i => s"k$i").toSet)
  }

  test("checker reports exactly the injected sink gap, then a clean pass") {
    val topic = writeTopic()
    val source = decode(spark.read.format("graft-ledger")
      .option("path", topic.toString).load())
    // sink = everything the pipeline should have delivered, minus k7
    val sink = source.filter(col("key") =!= "k7")
    val missing = ConsistencyChecker.missingFromSink(
      spark, topic.toString, sink, Seq("key"), decode)
    val rep = ConsistencyChecker.report(missing, Seq("key"))
    assert(rep.missingCount == 1 && rep.checkedSample == Seq("k7"), rep.toString)
    // consistent sink → empty report
    val clean = ConsistencyChecker.missingFromSink(
      spark, topic.toString, source, Seq("key"), decode)
    assert(ConsistencyChecker.report(clean, Seq("key")).missingCount == 0)
    // range-scoped check: a gap OUTSIDE the checked range is invisible
    val scoped = ConsistencyChecker.missingFromSink(
      spark, topic.toString, sink, Seq("key"), decode,
      end = Some("""{"0":[1,6],"1":[2,1]}"""))
    assert(ConsistencyChecker.report(scoped, Seq("key")).missingCount == 0)
  }
}
