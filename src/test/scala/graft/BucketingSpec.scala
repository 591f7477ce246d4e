package graft

import java.nio.file.Files
import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Bucketed co-located joins: pre-partitioning both sides of a repeated
  * join on its key removes the per-query shuffle entirely — the physical
  * plan must contain a SortMergeJoin with NO Exchange on either side.
  * At 100 TB this converts every downstream orderkey join from a
  * full-data shuffle into a local bucket zip.
  */
class BucketingSpec extends AnyFunSuite with TempDirs {

  private lazy val warehouse =
    tmp("graft_warehouse")

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.sql.warehouse.dir", warehouse)
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  private val dir = "/root/testdata/sf0.001"

  test("equi-join of co-bucketed tables runs without any Exchange") {
    // both sides bucketed (and sorted) on the join key with the same
    // bucket count: every task zips bucket i with bucket i
    Tables.orders(spark, dir).select("o_orderkey", "o_totalprice")
      .write.mode("overwrite").bucketBy(8, "o_orderkey").sortBy("o_orderkey")
      .saveAsTable("orders_bkt")
    Tables.lineitem(spark, dir).select("l_orderkey", "l_quantity")
      .write.mode("overwrite").bucketBy(8, "l_orderkey").sortBy("l_orderkey")
      .saveAsTable("lineitem_bkt")

    // force a non-broadcast join so the shuffle-elision is what's tested
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val lb = spark.table("lineitem_bkt")
      val ob = spark.table("orders_bkt")
      val joined = lb.join(ob, lb("l_orderkey") === ob("o_orderkey"))
      joined.collect()
      val plan = joined.queryExecution.executedPlan.toString()
      assert(plan.contains("SortMergeJoin"), s"expected SMJ:\n$plan")
      assert(!plan.contains("Exchange hashpartitioning"),
        s"bucketed join still shuffles:\n$plan")

      // and the same join on non-bucketed data DOES shuffle — the spec
      // proves bucketing (not data size) is what removed the exchange
      val lp = Tables.lineitem(spark, dir).select("l_orderkey", "l_quantity")
      val op = Tables.orders(spark, dir).select("o_orderkey", "o_totalprice")
      val plain = lp.join(op, lp("l_orderkey") === op("o_orderkey"))
      plain.collect()
      val plainPlan = plain.queryExecution.executedPlan.toString()
      assert(plainPlan.contains("Exchange hashpartitioning"),
        s"control join unexpectedly shuffle-free:\n$plainPlan")
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "10485760")
      spark.sql("DROP TABLE IF EXISTS orders_bkt")
      spark.sql("DROP TABLE IF EXISTS lineitem_bkt")
    }
  }
}
