package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

/** Schema-drift canary for the driver-owned testdata (TESTDATA.md).
  *
  * Round 7 lost 27 queries silently when the driver regenerated
  * events.parquet with a different physical timestamp type. This spec makes
  * the next drift fail ONE NAMED TEST instead: it asserts every table loads
  * with its canonical derived columns, pins the EXACT column set of the
  * three core tables the driver has already regenerated twice (events,
  * documents, embeddings), proves `Tables.events` normalizes all three
  * timestamp encodings the generator has produced or could produce (real
  * parquet TIMESTAMP(NANOS) via the legacy nanosAsLong read, TIMESTAMP_NTZ
  * micros, TIMESTAMP ltz micros) to identical canonical values, and
  * drills the checker itself against simulated drift (column add / drop /
  * rename / decimal-scale change) so each class is KNOWN to fail by name.
  */
class TestdataCanarySpec extends AnyFunSuite with TempDirs {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[8]")
    .config("spark.sql.shuffle.partitions", "8")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  private val dir = "/root/testdata/sf0.001"

  private val integral: DataType => Boolean =
    t => t == LongType || t == IntegerType || t == ShortType
  // a numeric column may arrive as float/double or decimal, but a decimal
  // with scale < 4 CHANGES VALUE SEMANTICS (queries round results at 4;
  // an input quantized coarser than the output rounding silently shifts
  // hash-checked aggregates) — so low-scale decimals are drift, not a type
  // variant.
  private val numeric: DataType => Boolean = {
    case d: DecimalType => d.scale >= 4
    case t => integral(t) || t == DoubleType || t == FloatType
  }

  // canonical column → type surface each query family depends on; a driver
  // regeneration that renames/retypes any of these fails here by table name
  private val expectedCols: Map[String, Seq[(String, DataType => Boolean)]] = Map(
    "region"   -> Seq("r_regionkey" -> integral),
    "nation"   -> Seq("n_nationkey" -> integral),
    "customer" -> Seq("c_custkey" -> integral,
                      "c_acctbal" -> numeric),
    "supplier" -> Seq("s_suppkey" -> integral),
    "part"     -> Seq("p_partkey" -> integral),
    "orders"   -> Seq("o_orderkey" -> integral,
                      "o_orderdate" -> (t => t == DateType || t.isInstanceOf[TimestampType] || t == TimestampNTZType)),
    "lineitem" -> Seq("l_orderkey" -> integral,
                      "l_quantity" -> numeric,
                      "l_shipdate" -> (t => t == DateType || t.isInstanceOf[TimestampType] || t == TimestampNTZType)),
    "documents"  -> Seq("doc_id" -> integral,
                        "text" -> (_ == StringType)),
    "embeddings" -> Seq("vec_id" -> integral,
                        "embedding" -> (t => t == ArrayType(FloatType, true) ||
                          t == ArrayType(FloatType, false) ||
                          t == ArrayType(DoubleType, true) ||
                          t == ArrayType(DoubleType, false)))
  )

  // the three tables the driver has regenerated mid-build before get their
  // column set pinned EXACTLY: an added column is drift too (it changes
  // select(*) shapes and is the early warning that the generator moved),
  // not just drops/renames.
  private val exactColSets: Map[String, Set[String]] = Map(
    "events"     -> Set("event_id", "ts", "user_id", "event_type", "value", "props"),
    "documents"  -> Set("doc_id", "text", "lang", "source", "n_chars"),
    "embeddings" -> Set("vec_id", "embedding", "label"))

  // extra per-column type pins on the core tables, so a RETYPE (e.g.
  // value double → decimal(10,2)) fails even when the name survives
  private val coreTypePins: Map[String, Seq[(String, DataType => Boolean)]] = Map(
    "events" -> Seq(
      "event_id" -> integral, "user_id" -> integral,
      "event_type" -> (_ == StringType), "props" -> (_ == StringType),
      "value" -> numeric),
    "documents" -> Seq(
      "doc_id" -> integral, "text" -> (_ == StringType),
      "lang" -> (_ == StringType), "source" -> (_ == StringType),
      "n_chars" -> numeric),
    "embeddings" -> Seq("vec_id" -> integral, "label" -> integral))

  /** The canary check, factored out so the drift drill below can aim it at
    * simulated-drift copies: presence+type for the queried columns, exact
    * set equality for the core tables, and the core-table type pins. */
  private def checkTable(d: String, table: String): Unit = {
    val schema = Tables(spark, d, table).schema
    expectedCols.getOrElse(table, Nil).foreach { case (name, typeOk) =>
      assert(schema.fieldNames.contains(name),
        s"$table missing column $name; has ${schema.fieldNames.mkString(",")}")
      assert(typeOk(schema(name).dataType),
        s"$table.$name unexpected type ${schema(name).dataType}")
    }
    exactColSets.get(table).foreach { want =>
      assert(schema.fieldNames.toSet == want,
        s"$table column set drifted: has ${schema.fieldNames.sorted.mkString(",")}, " +
          s"expected ${want.toSeq.sorted.mkString(",")}")
    }
    coreTypePins.getOrElse(table, Nil).foreach { case (name, typeOk) =>
      if (schema.fieldNames.contains(name))
        assert(typeOk(schema(name).dataType),
          s"$table.$name unexpected type ${schema(name).dataType}")
    }
  }

  test("every TESTDATA.md table loads with its canonical columns") {
    (expectedCols.keySet ++ exactColSets.keySet).toSeq.sorted
      .foreach(checkTable(dir, _))
  }

  private def tmpRoot(): java.nio.file.Path = java.nio.file.Paths.get(tmp("canary"))

  test("drift drill: add/drop/rename/decimal-scale each fail the canary by name") {
    val tmp = tmpRoot().toString
    val ev = Tables(spark, dir, "events").limit(10)
    val docs = Tables(spark, dir, "documents").limit(10)
    val emb = Tables(spark, dir, "embeddings").limit(10)
    // one simulated drift per class, across the three core tables:
    // (a) ADD a column
    ev.withColumn("batch_id", lit(7L))
      .write.mode("overwrite").parquet(s"$tmp/add/events.parquet")
    // (b) DROP a column
    docs.drop("lang")
      .write.mode("overwrite").parquet(s"$tmp/drop/documents.parquet")
    // (c) RENAME a column
    emb.withColumnRenamed("vec_id", "id")
      .write.mode("overwrite").parquet(s"$tmp/rename/embeddings.parquet")
    // (d) DECIMAL-SCALE change on a numeric (double → decimal(10,2):
    //     quantizes below the queries' round-at-4 output precision)
    ev.withColumn("value", col("value").cast(DecimalType(10, 2)))
      .write.mode("overwrite").parquet(s"$tmp/scale/events.parquet")

    def failsNaming(d: String, table: String, fragment: String): Unit = {
      val e = intercept[org.scalatest.exceptions.TestFailedException] {
        checkTable(d, table)
      }
      assert(e.getMessage.contains(table) && e.getMessage.contains(fragment),
        s"drift message does not name $table/$fragment: ${e.getMessage}")
    }
    failsNaming(s"$tmp/add", "events", "batch_id")
    failsNaming(s"$tmp/drop", "documents", "lang")
    failsNaming(s"$tmp/rename", "embeddings", "vec_id")
    failsNaming(s"$tmp/scale", "events", "value")
    // and the undrifted originals still pass when routed the same way
    checkTable(dir, "events"); checkTable(dir, "documents")
    checkTable(dir, "embeddings")
  }

  test("Tables.events derives canonical ts (long nanos), ts_ms, event_ts from the live fixture") {
    val ev = Tables.events(spark, dir)
    assert(ev.schema("ts").dataType == LongType, s"ts is ${ev.schema("ts").dataType}")
    assert(ev.schema("ts_ms").dataType == LongType)
    assert(ev.schema("event_ts").dataType == TimestampType)
    val row = ev.select("ts", "ts_ms").filter(col("ts").isNotNull).head()
    assert(row.getLong(0) / 1000000L == row.getLong(1), "ts_ms must be ts div 1e6")
    // sanity window: nanos magnitude (2000..2100 epoch range), catches a
    // regeneration that lands micros in the long path or vice versa
    assert(row.getLong(0) > 9e17 && row.getLong(0) < 4.2e18,
      s"ts=${row.getLong(0)} not in epoch-nanos range")
  }

  test("events normalization is encoding-invariant: real TIMESTAMP(NANOS), long, NTZ micros, ltz micros") {
    val micros = Seq(1700000000123456L, 1700000999000001L, 946684800000000L)
    val tmp = tmpRoot().toString
    import spark.implicits._
    val base = micros.zipWithIndex.map { case (us, i) =>
      (i.toLong, us, i.toLong, "click", 1.0, "{}")
    }.toDF("event_id", "us", "user_id", "event_type", "value", "props")

    // encoding 1: a REAL parquet TIMESTAMP(NANOS) file, written with
    // parquet-mr directly (Spark cannot author one), so the legacy
    // spark.sql.legacy.parquet.nanosAsLong decode that Tables.setup
    // enables is itself exercised — a Spark upgrade that drops or changes
    // that conf fails HERE, not in production on the next NANOS
    // regeneration.
    {
      import org.apache.parquet.schema.{LogicalTypeAnnotation => LTA, Types => PTypes}
      import org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName._
      import org.apache.parquet.hadoop.example.ExampleParquetWriter
      import org.apache.parquet.example.data.simple.SimpleGroupFactory
      val schema = PTypes.buildMessage()
        .required(INT64).named("event_id")
        .required(INT64).as(LTA.timestampType(false, LTA.TimeUnit.NANOS)).named("ts")
        .required(INT64).named("user_id")
        .required(BINARY).as(LTA.stringType()).named("event_type")
        .required(DOUBLE).named("value")
        .required(BINARY).as(LTA.stringType()).named("props")
        .named("spark_schema")
      val out = new org.apache.hadoop.fs.Path(
        s"$tmp/realnanos/events.parquet/part-00000.parquet")
      val writer = ExampleParquetWriter
        .builder(org.apache.parquet.hadoop.util.HadoopOutputFile.fromPath(
          out, spark.sessionState.newHadoopConf()))
        .withType(schema).build()
      val gf = new SimpleGroupFactory(schema)
      try micros.zipWithIndex.foreach { case (us, i) =>
        val g = gf.newGroup()
        g.add("event_id", i.toLong); g.add("ts", us * 1000L)
        g.add("user_id", i.toLong); g.add("event_type", "click")
        g.add("value", 1.0); g.add("props", "{}")
        writer.write(g)
      } finally writer.close()
    }
    // encoding 2: plain INT64 epoch nanos (what NANOS reads as under the
    // legacy conf — kept as the conf-independent control for encoding 1)
    base.withColumn("ts", col("us") * 1000L).drop("us")
      .write.mode("overwrite").parquet(s"$tmp/nanos/events.parquet")
    // encoding 3: TIMESTAMP_NTZ micros (current generator output)
    base.withColumn("ts", to_timestamp_ntz(timestamp_micros(col("us")))).drop("us")
      .write.mode("overwrite").parquet(s"$tmp/ntz/events.parquet")
    // encoding 4: TIMESTAMP (UTC-adjusted) micros
    base.withColumn("ts", timestamp_micros(col("us"))).drop("us")
      .write.mode("overwrite").parquet(s"$tmp/ltz/events.parquet")

    def canon(sub: String): Seq[(Long, Long, Long, java.sql.Timestamp)] =
      Tables.events(spark, s"$tmp/$sub")
        .select("event_id", "ts", "ts_ms", "event_ts")
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
          r.getTimestamp(3))).toSeq.sortBy(_._1)

    val fromNanos = canon("nanos")
    assert(fromNanos.map(_._2) == micros.map(_ * 1000L),
      s"nanos path ts mismatch: ${fromNanos.map(_._2)}")
    assert(canon("realnanos") == fromNanos,
      "real TIMESTAMP(NANOS) must normalize identically to long nanos")
    assert(canon("ntz") == fromNanos, "NTZ micros must normalize identically to long nanos")
    assert(canon("ltz") == fromNanos, "ltz micros must normalize identically to long nanos")
  }
}
