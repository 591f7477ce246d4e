package graft.streaming

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import graft.Publish

/** Hash-bucketed parquet point upsert. The lookup table lives as
  * `bucket=N` partition directories keyed by `crc32(key) % numBuckets`;
  * an epoch reads ONLY the buckets its fresh keys touch (partition-pruned
  * scan), runs the caller's merge over that slice, and swaps ONLY those
  * directories ([[graft.Publish.swap]]: each old bucket is set aside
  * before its replacement lands, and the next epoch settles a swap a
  * crash interrupted before it reads, so a bucket's history is never
  * lost). Epoch cost is O(batch + touched-bucket rows),
  * not O(table) — the parquet-fixture restatement of the reference's
  * per-key Cassandra point writes (K1/K3), replacing round 1's
  * whole-table rewrite. A real deployment would use MERGE INTO on a
  * transactional format; the bucketing, pruning and swap mechanics are
  * the same story.
  */
object BucketedUpsert {

  /** Bucket `b`'s old directory waits at `<AsidePrefix>b` during its
    * swap — hidden from Spark's partition discovery by the leading dot. */
  private val AsidePrefix = ".bucket_old_"

  private def bucketOf(keyCol: String, numBuckets: Int) =
    // null keys → bucket -1, caught with a named error at the touched-
    // bucket check (crc32(null) would otherwise surface as an opaque
    // driver-side NPE)
    coalesce(pmod(crc32(col(keyCol).cast("string")), lit(numBuckets)).cast("int"),
      lit(-1))

  /** @param fresh  this epoch's rows (schema = the table's data columns,
    *               or a subset that `merge` completes)
    * @param merge  (existingTouchedRows, freshRows) => merged rows for the
    *               touched keys; receives existing rows projected to
    *               fresh's columns
    */
  def upsert(fresh: DataFrame, tablePath: String, keyCol: String,
             numBuckets: Int = 64)(
             merge: (DataFrame, DataFrame) => DataFrame): Unit = {
    val s = fresh.sparkSession
    // checkpoint: the batch feeds the touched-bucket listing AND the merge;
    // in foreachBatch the source batch must not re-execute anyway
    val freshB = fresh.withColumn("bucket", bucketOf(keyCol, numBuckets))
      .localCheckpoint()
    try upsertChecked(freshB, tablePath, keyCol, numBuckets)(merge)
    finally {
      // release THIS batch's checkpoint blocks eagerly: a long-lived stream
      // otherwise accumulates one block set per epoch until the context
      // cleaner's next GC-driven sweep — bounded state must not depend on
      // GC timing (the 208-batch soak's per-batch latency crept up with
      // exactly this pressure)
      graft.ArtifactStore.releaseCheckpoints(freshB)
    }
  }

  private def upsertChecked(freshB: DataFrame, tablePath: String,
             keyCol: String, numBuckets: Int)(
             merge: (DataFrame, DataFrame) => DataFrame): Unit = {
    val s = freshB.sparkSession
    // bounded driver-side metadata: at most numBuckets ints, never data
    val touched = freshB.select("bucket").distinct()
      .collect().map(_.getInt(0)).sorted
    if (touched.contains(-1))
      throw new IllegalArgumentException(
        s"bucketed upsert: null values in key column '$keyCol' — filter or fix upstream")
    if (touched.isEmpty) return
    val dataCols = freshB.columns.toSeq.filterNot(_ == "bucket")
    val root = new Path(tablePath)
    val fs = Publish.fsOf(root, s)
    // settle every swap a crash interrupted BEFORE reading: a bucket set
    // aside with no live twin is restored, so the merge below sees its
    // full history
    Publish.settleAll(fs, root, AsidePrefix, "bucket=")
    // only a genuinely-missing table means "empty": any other read failure
    // (corrupt file, IO error) must abort the epoch — swallowing it would
    // merge against nothing and overwrite touched buckets' history
    // explicit schema (data columns + the bucket partition column): schema
    // inference over a root that exists but holds no bucket directories —
    // the crash window after mkdirs but before the first rename, or a merge
    // that legitimately emptied every bucket — throws "unable to infer
    // schema" and wedges the pipeline; with the schema given, an empty root
    // simply reads as zero rows
    val dataSchema = org.apache.spark.sql.types.StructType(
      freshB.schema.fields.filterNot(_.name == "bucket"))
    val storedSchema = org.apache.spark.sql.types.StructType(
      dataSchema.fields :+
        org.apache.spark.sql.types.StructField("bucket",
          org.apache.spark.sql.types.IntegerType))
    val existingTouched =
      if (!fs.exists(root))
        s.createDataFrame(s.sparkContext.emptyRDD[Row], dataSchema)
          .select(dataCols.map(col): _*)
      else s.read.schema(storedSchema).parquet(tablePath)
        .filter(col("bucket").isin(touched.map(Int.box): _*))
        .select(dataCols.map(col): _*)
    val result = merge(existingTouched, freshB.select(dataCols.map(col): _*))
      .withColumn("bucket", bucketOf(keyCol, numBuckets))
    val tmp = tablePath + "_epoch_tmp"
    result.write.mode("overwrite").partitionBy("bucket").parquet(tmp)
    if (!fs.exists(root)) fs.mkdirs(root)
    touched.foreach { b =>
      val src = new Path(tmp, s"bucket=$b")
      // a bucket the merge emptied swaps in as an empty directory
      if (!fs.exists(src)) fs.mkdirs(src)
      Publish.swap(fs, new Path(tablePath, s"bucket=$b"), src,
        new Path(tablePath, s"$AsidePrefix$b"))
    }
    fs.delete(new Path(tmp), true)
  }
}
