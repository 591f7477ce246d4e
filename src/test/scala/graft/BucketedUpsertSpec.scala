package graft

import java.nio.file.{Files, Path, Paths}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.streaming.BucketedUpsert

/** The point of the bucketed upsert: an epoch must not scan or rewrite
  * buckets its keys don't touch.
  */
class BucketedUpsertSpec extends AnyFunSuite with TempDirs {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  private def latestWins(existing: org.apache.spark.sql.DataFrame,
                         fresh: org.apache.spark.sql.DataFrame) = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("k").orderBy(col("ts").desc)
    existing.unionByName(fresh)
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1).drop("rn")
  }

  private def bucketFiles(table: String): Map[String, Set[(String, Long)]] = {
    val root = Paths.get(table)
    if (!Files.isDirectory(root)) return Map.empty
    val s = Files.list(root)
    try {
      val it = s.iterator()
      val out = scala.collection.mutable.Map[String, Set[(String, Long)]]()
      while (it.hasNext) {
        val dir = it.next()
        val name = dir.getFileName.toString
        if (name.startsWith("bucket=")) {
          val fs = Files.list(dir)
          try {
            val fit = fs.iterator()
            val files = scala.collection.mutable.Set[(String, Long)]()
            while (fit.hasNext) {
              val f = fit.next()
              files += ((f.toString, Files.getLastModifiedTime(f).toMillis))
            }
            out(name) = files.toSet
          } finally fs.close()
        }
      }
      out.toMap
    } finally s.close()
  }

  test("epochs rewrite only touched buckets; untouched files stay byte-identical") {
    import spark.implicits._
    val table = tmp("graft_bupsert") + "/lookup"
    // find two keys landing in different crc32 buckets (driver-side, tiny)
    val probe = (1 to 50).map(i => s"key$i").toDF("k")
      .withColumn("b", pmod(crc32(col("k")), lit(64)).cast("int"))
      .collect().map(r => r.getString(0) -> r.getInt(1))
    val (kA, bA) = probe.head
    val (kB, bB) = probe.find(_._2 != bA).get
    // epoch 1: both keys
    BucketedUpsert.upsert(
      Seq((kA, 1L, "a1"), (kB, 1L, "b1")).toDF("k", "ts", "v"),
      table, "k")(latestWins)
    val after1 = bucketFiles(table)
    assert(after1.contains(s"bucket=$bA") && after1.contains(s"bucket=$bB"))
    Thread.sleep(1100) // mtime granularity
    // epoch 2: only kB — kA's bucket directory must remain untouched
    BucketedUpsert.upsert(
      Seq((kB, 2L, "b2")).toDF("k", "ts", "v"), table, "k")(latestWins)
    val after2 = bucketFiles(table)
    assert(after2(s"bucket=$bA") == after1(s"bucket=$bA"),
      "untouched bucket was rewritten")
    assert(after2(s"bucket=$bB") != after1(s"bucket=$bB"),
      "touched bucket was not rewritten")
    // content: latest-wins merge applied, untouched key intact
    val rows = spark.read.parquet(table)
      .select("k", "ts", "v").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getString(2))).toSet
    assert(rows == Set((kA, 1L, "a1"), (kB, 2L, "b2")), rows.toString)
  }

  test("an existing but empty table root reads as zero rows, not a wedge") {
    import spark.implicits._
    val table = tmp("graft_bupsert_empty") + "/lookup"
    // simulate the crash window: root created, no bucket directory ever
    // renamed in — the next epoch must behave like a missing table
    Files.createDirectories(Paths.get(table))
    BucketedUpsert.upsert(
      Seq(("k1", 1L, "v1")).toDF("k", "ts", "v"), table, "k")(latestWins)
    val rows = spark.read.parquet(table)
      .select("k", "ts", "v").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getString(2))).toSet
    assert(rows == Set(("k1", 1L, "v1")), rows.toString)
  }

  test("a swap a crash interrupted is settled before the next merge: the bucket keeps its full history") {
    import spark.implicits._
    val table = tmp("graft_bupsert_swap") + "/lookup"
    // append-only merge: every epoch's rows stay, so the table is the history
    val append = (existing: org.apache.spark.sql.DataFrame,
        fresh: org.apache.spark.sql.DataFrame) => existing.unionByName(fresh)
    val b = Seq("k1").toDF("k")
      .select(pmod(crc32(col("k")), lit(64)).cast("int")).head().getInt(0)
    BucketedUpsert.upsert(Seq(("k1", 1L, "v1")).toDF("k", "ts", "v"), table, "k")(append)
    BucketedUpsert.upsert(Seq(("k1", 2L, "v2")).toDF("k", "ts", "v"), table, "k")(append)
    // the crash: the old bucket was set aside, its replacement staged but
    // never renamed in
    Files.move(Paths.get(table, s"bucket=$b"), Paths.get(table, s".bucket_old_$b"))
    Files.createDirectories(Paths.get(s"${table}_epoch_tmp", s"bucket=$b"))
    BucketedUpsert.upsert(Seq(("k1", 3L, "v3")).toDF("k", "ts", "v"), table, "k")(append)
    val rows = spark.read.parquet(table).select("ts").collect().map(_.getLong(0)).sorted
    assert(rows.toSeq == Seq(1L, 2L, 3L), s"the merge lost the bucket's history: ${rows.toSeq}")
    assert(!Files.exists(Paths.get(table, s".bucket_old_$b")), "the aside was not settled")
  }
}
