package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** AQE skew-join handling: a join with one hot key must come out of AQE
  * with the skewed partition split (`skew=true` in the final SMJ) —
  * proving the engine's answer to data skew is active, not just
  * configured.
  */
class AqeSkewSpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.adaptive.enabled", "true")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  test("AQE splits a skewed join partition at runtime") {
    val prev = Map(
      "spark.sql.adaptive.skewJoin.enabled" -> spark.conf.get("spark.sql.adaptive.skewJoin.enabled"),
      "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes" ->
        spark.conf.get("spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes"),
      "spark.sql.adaptive.advisoryPartitionSizeInBytes" ->
        spark.conf.get("spark.sql.adaptive.advisoryPartitionSizeInBytes"),
      "spark.sql.adaptive.skewJoin.skewedPartitionFactor" ->
        spark.conf.get("spark.sql.adaptive.skewJoin.skewedPartitionFactor"),
      "spark.sql.autoBroadcastJoinThreshold" ->
        spark.conf.get("spark.sql.autoBroadcastJoinThreshold"))
    // shrink thresholds so test-sized skew (100k rows on one key vs 10 on
    // the rest) crosses them; production uses the 256 MiB defaults
    spark.conf.set("spark.sql.adaptive.skewJoin.enabled", "true")
    spark.conf.set("spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes", "64KB")
    spark.conf.set("spark.sql.adaptive.advisoryPartitionSizeInBytes", "64KB")
    spark.conf.set("spark.sql.adaptive.skewJoin.skewedPartitionFactor", "2")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      import spark.implicits._
      // key 0 carries 100k rows; keys 1..99 carry 10 each
      val big = spark.range(100000).select(lit(0L).as("k"), col("id").as("v"))
        .unionByName(spark.range(990).select((col("id") % 99 + 1).as("k"), col("id").as("v")))
      val small = spark.range(100).select(col("id").as("k"), (col("id") * 2).as("w"))
      val joined = big.join(small, "k")
      joined.collect() // materialize THIS QueryExecution so AQE finalizes it
      val plan = joined.queryExecution.executedPlan.toString()
      assert(plan.contains("skew=true"), s"AQE did not split the skewed join:\n$plan")
    } finally prev.foreach { case (k, v) => spark.conf.set(k, v) }
  }

  test("gram-keyed LM join shape: one hot bigram splits under AQE, result unchanged") {
    // The drill for the deliberately-NOT-broadcast unbounded-key joins
    // (q67/q98's bigram-LM scoring join, q89/q104's chunk-hash joins,
    // q107's gram-census join): their key space is corpus-sized, so the
    // small side can't broadcast, and a natural-language corpus GUARANTEES
    // hot keys ("the the" at web scale is a single reducer's death). The
    // engine's answer is AQE skew-split on the sort-merge join — plant one
    // bigram carrying 50k of 51k occurrences against a uniform LM table
    // and assert the skewed partition actually splits AND the per-doc
    // surprisal aggregate is byte-identical to the no-AQE plan.
    val prev = Map(
      // adaptive.enabled is toggled inside surprisal(); restore it from
      // the snapshot like every other touched conf, not a hard-coded value
      "spark.sql.adaptive.enabled" -> spark.conf.get("spark.sql.adaptive.enabled"),
      "spark.sql.adaptive.skewJoin.enabled" -> spark.conf.get("spark.sql.adaptive.skewJoin.enabled"),
      "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes" ->
        spark.conf.get("spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes"),
      "spark.sql.adaptive.advisoryPartitionSizeInBytes" ->
        spark.conf.get("spark.sql.adaptive.advisoryPartitionSizeInBytes"),
      "spark.sql.adaptive.skewJoin.skewedPartitionFactor" ->
        spark.conf.get("spark.sql.adaptive.skewJoin.skewedPartitionFactor"),
      "spark.sql.autoBroadcastJoinThreshold" ->
        spark.conf.get("spark.sql.autoBroadcastJoinThreshold"))
    spark.conf.set("spark.sql.adaptive.skewJoin.enabled", "true")
    spark.conf.set("spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes", "64KB")
    spark.conf.set("spark.sql.adaptive.advisoryPartitionSizeInBytes", "64KB")
    spark.conf.set("spark.sql.adaptive.skewJoin.skewedPartitionFactor", "2")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      // 500 docs × 100 hot bigrams + 1k uniform rows: the q67 shape
      // (doc_id, bg) ⋈ lm(bg, p) → groupBy(doc_id).avg(-log(p))
      val hot = spark.range(50000).select(
        (col("id") % 500).as("doc_id"), lit("the the").as("bg"))
      val cold = spark.range(1000).select(
        (col("id") % 500).as("doc_id"),
        concat(lit("w"), col("id") % 997, lit(" w"), (col("id") + 1) % 997).as("bg"))
      val docBg = hot.unionByName(cold)
      val lm = spark.range(997).select(
        concat(lit("w"), col("id"), lit(" w"), (col("id") + 1) % 997).as("bg"),
        (lit(1.0) / (col("id") + 2)).as("p"))
        .unionByName(spark.range(1).select(lit("the the").as("bg"), lit(0.5).as("p")))
      def surprisal(aqe: Boolean) = {
        spark.conf.set("spark.sql.adaptive.enabled", aqe.toString)
        val df = docBg.join(lm, "bg")
          .groupBy("doc_id").agg(avg(-log(col("p"))).as("s"))
        val rows = df.collect().map(r => (r.getLong(0), r.getDouble(1))).sortBy(_._1)
        (rows, df.queryExecution.executedPlan.toString())
      }
      val (withAqe, plan) = surprisal(aqe = true)
      val (without, _) = surprisal(aqe = false)
      assert(plan.contains("skew=true"),
        s"hot bigram did not trigger an AQE skew split:\n$plan")
      // the skew split re-partitions the aggregation's input, so the avg
      // reassociates — identical up to IEEE reassociation noise, which is
      // what "unchanged" can mean for a float aggregate
      assert(withAqe.length == without.length)
      withAqe.zip(without).foreach { case ((d1, s1), (d2, s2)) =>
        assert(d1 == d2 && math.abs(s1 - s2) < 1e-9,
          s"AQE skew handling changed doc $d1: $s1 vs $s2")
      }
    } finally prev.foreach { case (k, v) => spark.conf.set(k, v) }
  }
}
