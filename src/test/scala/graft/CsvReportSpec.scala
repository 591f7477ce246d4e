package graft

import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite
import graft.sources.CsvReport

/** K5 CSV report sink (reference AccuracyAnalysis.scala:148-166): a
  * header'd single-file CSV report, written from a distributed aggregate
  * and read back exactly.
  */
class CsvReportSpec extends AnyFunSuite with TempDirs {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[2]")
    .config("spark.sql.shuffle.partitions", "2")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  test("K5: header'd single-file CSV report round-trips exactly") {
    import org.apache.spark.sql.functions._
    val out = tmp("graft_csv_report") + "/report"
    // a report-shaped aggregate (the reference writes accuracy buckets)
    val report = spark.range(0, 1000)
      .select((col("id") % 7).as("bucket"), col("id").as("v"))
      .groupBy("bucket")
      .agg(count(lit(1)).as("n"), sum("v").as("total"))
      .orderBy("bucket")
    CsvReport.write(report, out)

    // exactly one part file, with a header line
    val files = Files.list(Paths.get(out)).iterator().asScala
      .map(_.getFileName.toString).filter(_.endsWith(".csv")).toSeq
    assert(files.size == 1, s"expected one CSV part file, got $files")
    val firstLine = Files.readAllLines(
      Paths.get(out, files.head)).asScala.head
    assert(firstLine == "bucket,n,total")

    // read-back equals what was written (schema restores the types)
    val back = CsvReport.read(spark, out, report.schema).orderBy("bucket")
    assert(back.collect().toSeq == report.collect().toSeq)
  }
}
