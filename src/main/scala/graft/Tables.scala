package graft

import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types.StructType

/** Loaders for the driver-provided parquet tables (TESTDATA.md).
  *
  * Every load goes through [[readParquet]]: a plain parquet scan, so
  * Catalyst column pruning and filter pushdown reach it, that infers a
  * dataset's schema once per JVM and hands it to later reads of the same
  * files. At 100 TB these tables would be partitioned (e.g. lineitem by
  * l_shipdate month); the query code below is partition-agnostic —
  * pruning happens via pushed predicates either way.
  *
  * Every read first runs [[setup]] on its session, once per session, and
  * that setup is session-wide: it installs [[SmallResultSort]] in the
  * session's planner and sets `spark.sql.legacy.parquet.nanosAsLong=true`,
  * so every later parquet read in that session, of any path, reads a
  * TIMESTAMP(NANOS) column as long nanos.
  */
object Tables {
  val names: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  def apply(spark: SparkSession, dir: String, name: String): DataFrame =
    readParquet(spark, s"$dir/$name.parquet")

  /** The engine's one-time session setup; every [[readParquet]] runs it,
    * and a second call changes nothing. It prepends [[SmallResultSort]]
    * to the session's extra planner strategies, which AQE's re-planning
    * uses too, and sets `nanosAsLong` once, before the session's first
    * read keys any schema: older testdata generations write events.ts as
    * parquet TIMESTAMP(NANOS), which Spark's vectorized reader rejects
    * unless read as long nanos. Newer generations write
    * TIMESTAMP(MICROS); the conf is then a no-op and [[events]]
    * normalizes on the actual dtype it finds.
    */
  def setup(spark: SparkSession): Unit = synchronized {
    val ex = spark.experimental
    if (!ex.extraStrategies.contains(SmallResultSort)) {
      spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
      ex.extraStrategies = SmallResultSort +: ex.extraStrategies
    }
  }

  // path -> (files + inference confs, schema): one entry per path, which a
  // rewrite of the files or a change of the confs replaces, as in
  // rowCountCache.
  private val schemaCache =
    scala.collection.concurrent.TrieMap.empty[String, (String, StructType)]

  /** `spark.read.parquet(path)` without the schema-inference job on every
    * read after the first. Spark infers a parquet schema with a job (its
    * `mergeSchemasInParallel` footer read), even for a one-file table, so
    * building a query paid one job per table it read. The first read of
    * `path` in this JVM infers as Spark does; a later read of the same
    * files (per-file name, length and mtime, as [[parquetFingerprint]])
    * under the same `spark.sql.parquet.*` / `spark.sql.legacy.parquet.*`
    * confs (binaryAsString, nanosAsLong, mergeSchema, ... shape what is
    * inferred; [[setup]] sets nanosAsLong before the first key) passes
    * that schema with `.schema`, and the scan, its pruning, pushdown and
    * file listing stay Spark's own. The key costs
    * one driver listing of the same directories Spark's file index lists
    * for the read. A failed inference (an empty directory) is not cached,
    * so it fails again with Spark's own error.
    */
  def readParquet(spark: SparkSession, path: String): DataFrame = {
    setup(spark)
    val key = fingerprintOf(spark, path) + "|" + spark.conf.getAll.toSeq
      .filter { case (k, _) =>
        k.startsWith("spark.sql.parquet.") || k.startsWith("spark.sql.legacy.parquet.") }
      .sorted.mkString(",")
    schemaCache.get(path) match {
      case Some((k, schema)) if k == key => spark.read.schema(schema).parquet(path)
      case _ =>
        val df = spark.read.parquet(path)
        schemaCache.put(path, (key, df.schema))
        df
    }
  }

  def region(s: SparkSession, d: String): DataFrame    = apply(s, d, "region")
  def nation(s: SparkSession, d: String): DataFrame    = apply(s, d, "nation")
  def customer(s: SparkSession, d: String): DataFrame  = apply(s, d, "customer")
  def supplier(s: SparkSession, d: String): DataFrame  = apply(s, d, "supplier")
  def part(s: SparkSession, d: String): DataFrame      = apply(s, d, "part")
  def orders(s: SparkSession, d: String): DataFrame    = apply(s, d, "orders")
  def lineitem(s: SparkSession, d: String): DataFrame  = apply(s, d, "lineitem")
  /** events with `ts` normalized to canonical long epoch NANOS regardless of
    * the parquet physical type the driver generated — TIMESTAMP(NANOS) read
    * as long via nanosAsLong, or TIMESTAMP(MICROS) read as
    * Timestamp/TimestampNTZ — plus derived `ts_ms` (epoch millis) and
    * `event_ts` (TimestampType, microsecond precision). Sessions run with
    * timeZone=UTC, so casting NTZ→Timestamp interprets the naive value as
    * UTC, matching DuckDB's `epoch_us(ts)` on the same file. */
  def events(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.types.{LongType, TimestampType}
    val raw = apply(s, d, "events")
    val nanos = raw.schema("ts").dataType match {
      // integer `div`, NOT `/`: long `/` promotes to double and loses
      // precision at 1e18-scale nanos (off-by-one vs DuckDB's truncation).
      case LongType => col("ts")
      case _        => unix_micros(col("ts").cast(TimestampType)) * lit(1000L)
    }
    raw.withColumn("ts", nanos)
      .withColumn("ts_ms", expr("ts div 1000000"))
      .withColumn("event_ts", timestamp_micros(expr("ts div 1000")))
  }
  def documents(s: SparkSession, d: String): DataFrame = apply(s, d, "documents")
  def embeddings(s: SparkSession, d: String): DataFrame = apply(s, d, "embeddings")

  // path -> (mtime, rows): keying the VALUE by mtime (not the cache key)
  // means a rewritten part file replaces its stale entry instead of
  // accumulating one entry per (path, mtime) forever in a long-lived JVM.
  private val rowCountCache =
    scala.collection.concurrent.TrieMap.empty[String, (Long, Long)]

  /** Recursive data-file listing of a parquet dataset (file or directory
    * layout, including nested/partitioned subdirectories), sorted by path
    * for deterministic fingerprints. Skips _SUCCESS/_metadata/hidden files
    * and, below the root, the directories Spark's file index skips
    * (`_temporary`, `.hidden`; `_k=v` partition dirs are kept), so it
    * lists no more than a read of the dataset does.
    */
  private def listParquetFiles(spark: SparkSession, path: String): Seq[FileStatus] = {
    val root = new Path(path)
    val fs = root.getFileSystem(spark.sessionState.newHadoopConf())
    def hidden(n: String) = (n.startsWith("_") && !n.contains("=")) || n.startsWith(".")
    def walk(st: FileStatus): Seq[FileStatus] =
      if (st.isDirectory)
        fs.listStatus(st.getPath).toSeq.filterNot(c => hidden(c.getPath.getName)).flatMap(walk)
      else if (st.getPath.getName.endsWith(".parquet")) Seq(st)
      else Nil
    walk(fs.getFileStatus(root)).sortBy(_.getPath.toString)
  }

  /** Table row count from parquet FOOTER statistics — a metadata read, not
    * a scan job (df.count() launches a job even for a columnless count
    * unless aggregate pushdown is enabled). Cached per file with mtime
    * invalidation, so sizing decisions like srpBandBits cost nothing per
    * invocation; at 100 TB this is the difference between a driver-side
    * footer read and a driver-blocking cluster job per query build.
    * Recurses into subdirectories, so a partitioned layout counts fully.
    */
  def rowCount(spark: SparkSession, dir: String, name: String): Long = {
    val conf = spark.sessionState.newHadoopConf()
    listParquetFiles(spark, s"$dir/$name.parquet").map { st =>
      val (path, mtime) = (st.getPath.toString, st.getModificationTime)
      rowCountCache.get(path) match {
        case Some((m, n)) if m == mtime => n
        case _ =>
          val rd = org.apache.parquet.hadoop.ParquetFileReader.open(
            org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(st.getPath, conf))
          val n = try rd.getRecordCount finally rd.close()
          rowCountCache.put(path, (mtime, n))
          n
      }
    }.sum
  }

  /** Stable identity of a parquet dataset for artifact caches (trained BPE
    * merge tables, ANN centroids/codebooks): per-part (name, size, mtime)
    * over the recursive listing. A directory entry's own size/mtime is NOT
    * reliable — rewriting a part file in place need not change either — so
    * the fingerprint covers every data file.
    */
  def parquetFingerprint(spark: SparkSession, dir: String, name: String): String =
    fingerprintOf(spark, s"$dir/$name.parquet")

  private def fingerprintOf(spark: SparkSession, path: String): String =
    listParquetFiles(spark, path)
      .map(st => s"${st.getPath.getName}:${st.getLen}:${st.getModificationTime}")
      .mkString(s"$path|", ",", "")
}
