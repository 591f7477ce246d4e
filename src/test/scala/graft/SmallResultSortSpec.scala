package graft

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** `SmallResultSort`: a global sort over a small input that AQE has
  * measured runs as one task with no range exchange, returns Spark's own
  * rows in Spark's own order, and leaves every other sort alone. */
class SmallResultSortSpec extends AnyFunSuite {

  lazy val spark: SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    Tables.setup(s)
    s
  }

  private val dir = "/root/testdata/sf0.001"

  /** Runs `body` with the strategy removed from the session's planner:
    * Spark's own plan. */
  private def withoutStrategy[T](body: => T): T = {
    val ex = spark.experimental
    ex.extraStrategies = ex.extraStrategies.filterNot(_ == SmallResultSort)
    try body finally Tables.setup(spark)
  }

  /** Rows, Spark jobs and final plan of one run of an already-built
    * frame (building a query may read a table, which runs setup). */
  private def run(df: DataFrame): (Seq[Row], Int, String) = {
    val (rows, jobs) = SparkJobs.of(spark, s"sort-${System.nanoTime}")(df.collect().toSeq)
    // AQE prints "Final Plan" then "Initial Plan": judge the final only
    (rows, jobs, df.queryExecution.executedPlan.toString.split("== Initial Plan ==")(0))
  }

  /** (ours, Spark's own) runs of two fresh builds of the same query. */
  private def both(build: () => DataFrame) = {
    val ours = run(build())
    val df = build()
    (ours, withoutStrategy(run(df)))
  }

  /** A grouped aggregate with null and repeated keys, sorted descending
    * with nulls first on one key and ascending on another. */
  private def groupedSort(): DataFrame =
    spark.range(0, 5000)
      .select(when(col("id") % 7 === 3, lit(null)).otherwise(col("id") % 7).as("k"),
        (col("id") % 3).as("g"), col("id"))
      .groupBy("k", "g").agg(count(lit(1)).as("n"), sum("id").as("s"))
      .orderBy(col("k").desc_nulls_first, col("g").asc_nulls_last)

  test("q01 and a grouped sort run 2 fewer jobs and return Spark's rows in order") {
    Seq[(String, () => DataFrame)](
      "q01" -> (() => SparkEntry.queries("q01_pricing_summary")(spark, dir)),
      "grouped" -> (() => groupedSort())
    ).foreach { case (name, build) =>
      val ((rows, jobs, plan), (sparkRows, sparkJobs, sparkPlan)) = both(build)
      assert(rows.nonEmpty && rows == sparkRows, s"$name rows differ from Spark's own plan")
      assert(sparkJobs - jobs == 2, s"$name jobs: $jobs, Spark's own plan $sparkJobs")
      assert(!plan.contains("rangepartitioning") && plan.contains("Coalesce 1"),
        s"$name kept its range exchange:\n$plan")
      assert(sparkPlan.contains("rangepartitioning"), s"$name control:\n$sparkPlan")
    }
    // the nulls-first key really orders a null group first
    assert(groupedSort().head().isNullAt(0))
  }

  test("a sort over a measured input larger than minPartitionSize keeps its range exchange") {
    // 200k groups of (long, long, long): several MB of measured shuffle
    val big = spark.range(0, 400000)
      .groupBy((col("id") % 200000).as("k")).agg(sum("id").as("s"), max("id").as("m"))
      .orderBy(col("s").desc)
    val (_, _, plan) = run(big)
    assert(plan.contains("rangepartitioning"), s"a large sort lost its exchange:\n$plan")
  }

  test("a sort over an explode of a small stage keeps its range exchange") {
    def exploded() = spark.range(0, 100).groupBy((col("id") % 5).as("k")).count()
      .select(col("k"), explode(sequence(lit(1), col("count"))).as("i"))
      .orderBy(col("i").desc, col("k"))
    val ((rows, _, plan), (sparkRows, _, _)) = both(() => exploded())
    assert(plan.contains("rangepartitioning"), s"a sort over a Generate changed:\n$plan")
    assert(rows == sparkRows)
  }

  test("with AQE off the plan is Spark's own") {
    val key = "spark.sql.adaptive.enabled"
    spark.conf.set(key, "false")
    try {
      val ((rows, jobs, plan), (sparkRows, sparkJobs, sparkPlan)) = both(() => groupedSort())
      def ids(p: String) = p.replaceAll("#\\d+", "#").replaceAll("plan_id=\\d+", "plan_id=")
      assert(ids(plan) == ids(sparkPlan))
      assert(plan.contains("rangepartitioning"), plan)
      assert(rows == sparkRows && jobs == sparkJobs)
    } finally spark.conf.unset(key)
  }

  test("orderBy(...).limit(n) still plans TakeOrderedAndProject") {
    val (rows, _, plan) = run(groupedSort().limit(3))
    assert(plan.contains("TakeOrderedAndProject"), plan)
    assert(rows == groupedSort().collect().toSeq.take(3))
  }

  test("setup twice installs the strategy once") {
    Tables.setup(spark)
    Tables.setup(spark)
    assert(spark.experimental.extraStrategies.count(_ == SmallResultSort) == 1)
    assert(spark.conf.get("spark.sql.legacy.parquet.nanosAsLong") == "true")
  }
}
