package perfbench

import scala.util.Random
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Seeded generator of the engine's ten input tables, with the schemas and
  * value domains of the repository's test data (`TESTDATA.md`: TPC-H-ish
  * star schema, `events`, `documents` over a 31-word vocabulary, 64-d unit
  * `embeddings` around 10 label centroids with planted near-duplicates). Columns are hash math
  * over (tag, seed, row id) or draws from a seeded generator, so the same
  * seed and scale always give the same tables; the benchmark reads no
  * data from outside its checkout.
  */
object Data {
  val Vocab: Seq[String] = Seq("a", "agg", "batch", "big", "column", "customer",
    "data", "dup", "fast", "filter", "group", "hash", "join", "key", "line",
    "merge", "order", "part", "query", "row", "scan", "slow", "small", "sort",
    "spark", "stream", "table", "the", "value", "vector", "window")

  /** Seed of the query-suite tables: fixed, so the committed result
    * fingerprints hold for every run seed (the run seed orders the passes). */
  val TablesSeed = 42L

  /** Row counts per table. `Bench` has the row counts and key spaces of
    * the repository's sf0.1 test data (150,000 orders, about 600,000
    * lineitems, 5,000 documents); `Smoke` is the smoke-check scale. */
  case class Scale(customers: Long, orders: Long, parts: Long,
      suppliers: Long, events: Long, users: Long, docs: Int, vectors: Int)
  val Bench = Scale(customers = 15000, orders = 150000, parts = 20000, suppliers = 1000,
    events = 100000, users = 1500, docs = 5000, vectors = 2000)
  val Smoke = Scale(customers = 150, orders = 1500, parts = 200, suppliers = 10,
    events = 1000, users = 100, docs = 500, vectors = 500)

  /** Write the ten tables, four write jobs at a time: at these sizes each
    * write is mostly per-job overhead, which overlaps. */
  def write(spark: SparkSession, dir: String, seed: Long, sc: Scale): Unit = {
    val g = new Gen(seed)
    import g._
    val pool = java.util.concurrent.Executors.newFixedThreadPool(4)
    val pending = scala.collection.mutable.ArrayBuffer.empty[java.util.concurrent.Future[_]]
    def save(df: DataFrame, name: String): Unit = pending += pool.submit(new Runnable {
      def run(): Unit = df.coalesce(1).write.mode("overwrite").parquet(s"$dir/$name.parquet")
    })
    val regions = Seq("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST")
    save(spark.range(5).select(col("id").cast("int").as("r_regionkey"),
      element_at(array(regions.map(lit): _*), col("id").cast("int") + 1).as("r_name")),
      "region")
    save(spark.range(25).select(col("id").cast("int").as("n_nationkey"),
      concat(lit("NATION_"), col("id")).as("n_name"),
      (col("id") % 5).cast("int").as("n_regionkey")), "nation")
    save(spark.range(sc.suppliers).select(col("id").as("s_suppkey"),
      format_string("Supplier#%09d", col("id")).as("s_name"),
      pmod(h("sn", col("id")), lit(25)).cast("int").as("s_nationkey"),
      round(lit(-1000.0) + u("sb", col("id")) * 11000.0, 2).as("s_acctbal")),
      "supplier")
    save(spark.range(sc.parts).select(col("id").as("p_partkey"),
      concat_ws(" ",
        pick("pa", col("id"), Seq("blue", "cold", "hot", "large", "new", "old", "red", "small")),
        pick("pn", col("id"), Seq("anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget")))
        .as("p_name"),
      concat(lit("Brand#"), pmod(h("pb", col("id")), lit(25)) + 1).as("p_brand"),
      pick("pt", col("id"), Seq("LARGE", "ECONOMY", "STANDARD", "SMALL", "MEDIUM", "PROMO"))
        .as("p_type"),
      (pmod(h("ps", col("id")), lit(50)) + 1).cast("int").as("p_size"),
      round(lit(900.0) + (col("id") % 1000) * 0.1, 2).as("p_retailprice")), "part")
    save(spark.range(sc.customers).select(col("id").as("c_custkey"),
      format_string("Customer#%09d", col("id")).as("c_name"),
      pmod(h("cn", col("id")), lit(25)).cast("int").as("c_nationkey"),
      round(lit(-1000.0) + u("cb", col("id")) * 11000.0, 2).as("c_acctbal"),
      pick("cs", col("id"), Seq("AUTOMOBILE", "HOUSEHOLD", "BUILDING",
        "FURNITURE", "MACHINERY")).as("c_mktsegment")), "customer")
    val orders = spark.range(sc.orders).select(col("id").as("o_orderkey"),
      pmod(h("oc", col("id")), lit(sc.customers)).as("o_custkey"),
      pick("os", col("id"), Seq("F", "O", "P")).as("o_orderstatus"),
      round(lit(1000.0) + u("ot", col("id")) * 499000.0, 2).as("o_totalprice"),
      timestamp_micros(lit(788918400000000L) +
        (u("od", col("id")) * 2404).cast("long") * 86400000000L).as("o_orderdate"),
      pick("op", col("id"), Seq("1-URGENT", "2-HIGH", "3-MEDIUM",
        "4-NOT SPECIFIED", "5-LOW")).as("o_orderpriority"))
    save(orders, "orders")
    save(orders.select(col("o_orderkey").as("l_orderkey"),
        explode(sequence(lit(1), (pmod(h("ln", col("o_orderkey")), lit(7)) + 1)
          .cast("int"))).as("l_linenumber"))
      .withColumn("rid", h("li", col("l_orderkey"), col("l_linenumber")))
      .select(col("l_orderkey"),
        pmod(h("lp", col("rid")), lit(sc.parts)).as("l_partkey"),
        pmod(h("ls", col("rid")), lit(sc.suppliers)).as("l_suppkey"),
        col("l_linenumber"),
        (pmod(h("lq", col("rid")), lit(50)) + 1).cast("double").as("l_quantity"),
        round(lit(900.0) + u("le", col("rid")) * 104100.0, 2).as("l_extendedprice"),
        (pmod(h("ld", col("rid")), lit(11)).cast("double") / 100.0).as("l_discount"),
        (pmod(h("lt", col("rid")), lit(9)).cast("double") / 100.0).as("l_tax"),
        pick("lr", col("rid"), Seq("R", "A", "N")).as("l_returnflag"),
        pick("ll", col("rid"), Seq("F", "O")).as("l_linestatus"),
        timestamp_micros(lit(789004800000000L) +
          (u("lsd", col("rid")) * 2498).cast("long") * 86400000000L).as("l_shipdate")),
      "lineitem")
    save(spark.range(sc.events).select(col("id").as("event_id"),
      timestamp_micros(lit(1704067200000000L) +
        (u("ets", col("id")) * (30.0 * 86400 - 60) * 1e6).cast("long")).as("ts"),
      pmod(h("eu", col("id")), lit(sc.users)).as("user_id"),
      pick("et", col("id"), Seq("signup", "view", "click", "purchase", "error"))
        .as("event_type"),
      round(u("ev", col("id")) * 560.0, 2).as("value"),
      format_string("{\"k\": %d}", pmod(h("ek", col("id")), lit(100))).as("props")),
      "events")
    save(documents(spark, seed, sc.docs), "documents")
    save(embeddings(spark, seed, sc.vectors), "embeddings")
    try pending.foreach(_.get()) finally pool.shutdown()
  }

  /** `documents` rows (doc_id, text, lang, source, n_chars): 10..100
    * vocabulary tokens, lang en 41% else zh/es/fr/de, 20 sources; every
    * 625th doc repeats its predecessor's text (the sf0.1 density: 8 dup
    * texts in 5,000 docs). Drawn locally: at these sizes that is far
    * cheaper than compiling the column math. */
  def documentRows(seed: Long, n: Int): IndexedSeq[(Long, String, String, String, Long)] = {
    val r = new Random(seed)
    var prev = ""
    (0 until n).map { i =>
      val text = if (i % 625 == 624) prev
        else Seq.fill(10 + r.nextInt(91))(Vocab(r.nextInt(Vocab.length))).mkString(" ")
      prev = text
      val lang = if (r.nextDouble() < 0.41) "en" else Seq("zh", "es", "fr", "de")(r.nextInt(4))
      (i.toLong, text, lang, s"src${r.nextInt(20)}", text.length.toLong)
    }
  }

  def documents(spark: SparkSession, seed: Long, n: Int): DataFrame = {
    import spark.implicits._
    documentRows(seed, n).toDF("doc_id", "text", "lang", "source", "n_chars")
  }

  /** `embeddings`: 64-d unit vectors around 10 label centroids; every
    * 200th vector is a tiny perturbation of its predecessor. */
  private def embeddings(spark: SparkSession, seed: Long, n: Int): DataFrame = {
    import spark.implicits._
    val r = new Random(seed)
    val centroids = Array.fill(10, 64)(r.nextDouble() - 0.5)
    var prev = (Array.empty[Double], 0)
    val rows = (0 until n).map { i =>
      val (raw, label) = if (i % 200 == 199) (prev._1.map(_ + 0.004), prev._2) else {
        val l = r.nextInt(10)
        (centroids(l).map(_ + (r.nextDouble() - 0.5) * 0.6), l)
      }
      prev = (raw, label)
      val nrm = math.sqrt(raw.map(x => x * x).sum)
      (i.toLong, raw.map(x => (x / nrm).toFloat), label)
    }
    rows.toDF("vec_id", "embedding", "label")
  }

  /** Column hash helpers keyed by the generator seed. */
  class Gen(seed: Long) {
    def h(tag: String, cols: Column*): Column = hash((lit(tag) +: lit(seed) +: cols): _*)
    def u(tag: String, cols: Column*): Column =
      pmod(h(tag, cols: _*), lit(1000000)).cast("double") / 1e6
    def pick(tag: String, id: Column, vals: Seq[String]): Column =
      element_at(array(vals.map(lit): _*), pmod(h(tag, id), lit(vals.length)).cast("int") + 1)
  }
}
