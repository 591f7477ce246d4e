package graft.sources

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path, StandardOpenOption}
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.write._
import org.apache.spark.sql.connector.write.streaming.{StreamingDataWriterFactory, StreamingWrite}
import org.apache.spark.sql.types._
import graft.Publish

/** DSv2 write path for `graft-ledger` — the source/sink symmetry the
  * reference only sketches (pulsar-spark-dstream/.../PulsarProducer.scala:12-27
  * is a stub producer): batch append (`df.write.format("graft-ledger")
  * .mode("append")`, `INSERT INTO` on a DDL-created table) and a
  * streaming sink (`df.writeStream.format("graft-ledger")`) with
  * epoch-committed, idempotent-on-retry appends.
  *
  * Log semantics, matching a real broker's producer contract: callers
  * supply `key`, `value` and optionally `partition`; `topic`,
  * `ledger_id`, `entry_id` and `publish_us` are LOG-ASSIGNED — ids are
  * allocated at commit time and any values supplied for those columns
  * are ignored, exactly as a broker ignores a client-chosen message id.
  * A NULL `partition` routes by key hash over `writePartitions` buckets.
  *
  * Commit protocol (scale + crash-safety):
  *  - executors never touch live segments: each task writes its rows,
  *    grouped by partition, to piece files under
  *    `<root>/.staging/<writeId>/` — data moves executor→disk once, no
  *    driver round-trip, no shuffle beyond what the query already did;
  *  - the driver's commit merges ONLY the pieces named in the task
  *    commit messages (stray pieces from failed/speculative attempts are
  *    never read) into one NEW segment per partition, published with an
  *    atomic rename — readers either see the whole segment or none of
  *    it ([[graft.Publish.publishIfAbsent]] on the root's local FS), and
  *    existing segments are never rewritten (the BucketedUpsert
  *    touched-state-only discipline at the segment layer). The merge is
  *    driver-local file concatenation — the single-file-emulation
  *    stand-in for a broker's server-side segment append; callers that
  *    `repartition(col("partition"))` upstream hand commit one piece per
  *    partition, keeping it one sequential copy per segment;
  *  - streaming commits are idempotent per (queryId, epochId): a
  *    manifest written ([[graft.Publish.writeAtomically]]) before any
  *    rename records the merged-tmp → final
  *    segment plan, so a retried epoch re-executes the SAME plan
  *    (skipping renames whose target already exists) instead of
  *    allocating fresh ids and double-appending, and a marker file in
  *    `<root>/_commits/` short-circuits an epoch that already fully
  *    committed. Single writer per topic assumed, as for the
  *    reference's producer.
  *
  * Entry encoding is the reader's line format (`key,payload\n`): keys
  * must not contain `,`/newlines, payloads must not contain newlines —
  * violations fail the task with a clear error rather than corrupting
  * the segment for every later reader.
  */
object LedgerWrite {

  val StagingDirName = ".staging"
  val CommitsDirName = "_commits"

  /** Name prefix of a batch append's per-partition merge file. */
  val BatchMergePrefix = ".tmp-batch-"

  /** Piece descriptor: (topic partition, staged file name, row count). */
  case class Piece(partition: Int, file: String, rows: Long)

  case class LedgerCommitMessage(taskUid: String, pieces: Seq[Piece])
    extends WriterCommitMessage

  /** Next free segment id: ids may be sparse, new segments always append
    * past the current maximum so cursors monotonically advance.
    */
  def nextLedgerId(partitionDir: Path): Long =
    LedgerSource.listLedgers(partitionDir).lastOption.map(_.ledgerId + 1L).getOrElse(0L)

  /** Publish a merged segment `tmp` as `target` unless `target` exists
    * (a retried epoch's earlier publish); a leftover `tmp` is dropped. */
  private[sources] def publishSegment(tmp: Path, target: Path): Boolean =
    Publish.publishIfAbsent(Publish.localFs, hPath(tmp), hPath(target))(valid = true)

  private[sources] def hPath(p: Path) = new org.apache.hadoop.fs.Path(p.toUri)

  /** Merge staged pieces (deterministic task order) into `target`. */
  private[sources] def mergePieces(staging: Path, pieces: Seq[(String, Path)], target: Path): Unit = {
    val out = Files.newOutputStream(target,
      StandardOpenOption.CREATE, StandardOpenOption.TRUNCATE_EXISTING)
    try
      pieces.sortBy(_._1).foreach { case (_, piece) =>
        if (Files.exists(piece)) // gone only when a retry already consumed it
          Files.copy(piece, out)
      }
    finally out.close()
  }

  private[sources] def deleteRecursively(dir: Path): Unit =
    if (Files.exists(dir)) {
      // close the walk stream — it pins a directory fd per open level
      val walk = Files.walk(dir)
      val paths = try walk.iterator().asScala.toSeq.reverse finally walk.close()
      paths.foreach { p =>
        try Files.deleteIfExists(p) catch { case _: Exception => () }
      }
    }
}

/** Write-side entry point handed out by `LedgerTable.newWriteBuilder`. */
class LedgerWriteBuilder(path: String, info: LogicalWriteInfo,
    options: Map[String, String]) extends WriteBuilder {
  override def build(): Write =
    new LedgerWriteImpl(path, info.queryId(), info.schema(), options)
}

class LedgerWriteImpl(path: String, queryId: String, schema: StructType,
    options: Map[String, String]) extends Write {
  override def description(): String = s"graft-ledger-write($path)"
  override def toBatch: BatchWrite =
    new LedgerBatchWrite(path, queryId, schema, options)
  override def toStreaming: StreamingWrite =
    new LedgerStreamingWrite(path, queryId, schema, options)
}

/** Column resolution + per-row encoding shared by batch and streaming
  * writers. Input columns are resolved BY NAME (the table accepts any
  * schema so callers can append bare (key, value) frames): `value` is
  * required, `key` and `partition` optional. SQL `INSERT INTO ...
  * VALUES` names its projection col1..colN (ACCEPT_ANY_SCHEMA skips
  * table-schema resolution), so a 7-column frame whose partition/key/
  * value POSITIONS carry the table's types falls back to positional
  * mapping — the id positions are not type-checked because their values
  * are log-assigned and ignored anyway.
  */
private[sources] class LedgerRowCodec(schema: StructType, writePartitions: Int)
    extends Serializable {
  private def named(name: String, ok: DataType => Boolean, what: String): Int = {
    val i = schema.fieldNames.indexWhere(_.equalsIgnoreCase(name))
    if (i >= 0 && !ok(schema.fields(i).dataType))
      throw new IllegalArgumentException(
        s"graft-ledger write: column '$name' must be $what, got ${schema.fields(i).dataType.simpleString}")
    i
  }
  private val positional = schema.length == LedgerSource.Schema.length &&
    !schema.fieldNames.exists(_.equalsIgnoreCase("value")) &&
    schema.fields(1).dataType == IntegerType &&
    schema.fields(4).dataType == StringType &&
    schema.fields(5).dataType == BinaryType
  val valueIdx: Int =
    if (positional) 5 else named("value", _ == BinaryType, "BINARY")
  val keyIdx: Int =
    if (positional) 4 else named("key", _ == StringType, "STRING")
  val partitionIdx: Int =
    if (positional) 1 else named("partition", _ == IntegerType, "INT")
  if (valueIdx < 0)
    throw new IllegalArgumentException(
      "graft-ledger write: input must have a 'value' BINARY column, or " +
        "match the table's 7-column shape positionally " +
        s"(got: ${schema.fieldNames.mkString(", ")})")

  /** (partition, encoded line bytes incl. trailing newline). */
  def encode(row: InternalRow): (Int, Array[Byte]) = {
    if (row.isNullAt(valueIdx))
      throw new IllegalArgumentException(
        "graft-ledger write: NULL value — an entry's payload is required")
    val value = row.getBinary(valueIdx)
    var i = 0
    while (i < value.length) {
      if (value(i) == '\n' || value(i) == '\r')
        throw new IllegalArgumentException(
          "graft-ledger write: payload contains a newline — entries are " +
            "single lines; encode payloads (e.g. base64/json) before writing")
      i += 1
    }
    val key: String =
      if (keyIdx < 0 || row.isNullAt(keyIdx)) ""
      else row.getUTF8String(keyIdx).toString
    if (key.exists(c => c == ',' || c == '\n' || c == '\r'))
      throw new IllegalArgumentException(
        s"graft-ledger write: key '$key' contains ','/newline — keys are " +
          "the segment-line prefix up to the first comma")
    val p: Int =
      if (partitionIdx >= 0 && !row.isNullAt(partitionIdx)) {
        val given = row.getInt(partitionIdx)
        if (given < 0) throw new IllegalArgumentException(
          s"graft-ledger write: negative partition $given")
        given
      } else math.floorMod(key.hashCode, writePartitions)
    val keyBytes = key.getBytes(StandardCharsets.UTF_8)
    val line = new Array[Byte](keyBytes.length + 1 + value.length + 1)
    System.arraycopy(keyBytes, 0, line, 0, keyBytes.length)
    line(keyBytes.length) = ','
    System.arraycopy(value, 0, line, keyBytes.length + 1, value.length)
    line(line.length - 1) = '\n'
    (p, line)
  }
}

private[sources] class LedgerWriterFactory(path: String, writeId: String,
    codec: LedgerRowCodec)
    extends DataWriterFactory with StreamingDataWriterFactory {
  override def createWriter(partitionId: Int, taskId: Long): DataWriter[InternalRow] =
    new LedgerDataWriter(path, writeId, f"t$taskId%012d-p$partitionId", codec)
  override def createWriter(partitionId: Int, taskId: Long,
      epochId: Long): DataWriter[InternalRow] =
    new LedgerDataWriter(path, writeId,
      f"e$epochId%012d-t$taskId%012d-p$partitionId", codec)
}

/** Executor-side writer: one piece file per topic partition this task
  * saw, opened lazily — a task writing one partition holds one handle.
  */
private[sources] class LedgerDataWriter(path: String, writeId: String,
    taskUid: String, codec: LedgerRowCodec) extends DataWriter[InternalRow] {
  import LedgerWrite._

  private val staging = LedgerSource.toLocalPath(path)
    .resolve(StagingDirName).resolve(writeId)
  private val open = scala.collection.mutable.Map[Int, java.io.OutputStream]()
  private val rows = scala.collection.mutable.Map[Int, Long]()

  private def out(p: Int): java.io.OutputStream = open.getOrElseUpdate(p, {
    Files.createDirectories(staging)
    new java.io.BufferedOutputStream(Files.newOutputStream(
      staging.resolve(s"$taskUid-$p.piece"),
      StandardOpenOption.CREATE, StandardOpenOption.TRUNCATE_EXISTING), 1 << 16)
  })

  override def write(row: InternalRow): Unit = {
    val (p, line) = codec.encode(row)
    out(p).write(line)
    rows(p) = rows.getOrElse(p, 0L) + 1L
  }

  override def commit(): WriterCommitMessage = {
    open.values.foreach(_.close())
    LedgerCommitMessage(taskUid,
      rows.toSeq.sorted.map { case (p, n) => Piece(p, s"$taskUid-$p.piece", n) })
  }

  override def abort(): Unit = {
    open.values.foreach(o => try o.close() catch { case _: Exception => () })
    rows.keys.foreach(p =>
      try Files.deleteIfExists(staging.resolve(s"$taskUid-$p.piece"))
      catch { case _: Exception => () })
  }

  override def close(): Unit = ()
}

/** Batch append: merge message-listed pieces into one new segment per
  * partition, publish with atomic renames, drop staging. A batch job's
  * commit runs once per action — a re-run append is a second append, as
  * for any log producer.
  */
class LedgerBatchWrite(path: String, queryId: String, schema: StructType,
    options: Map[String, String]) extends BatchWrite {
  import LedgerWrite._

  private val root = LedgerSource.toLocalPath(path)
  private val writeId = s"batch-$queryId"
  private val codec = new LedgerRowCodec(schema,
    options.getOrElse("writepartitions", "4").toInt)

  override def createBatchWriterFactory(info: PhysicalWriteInfo): DataWriterFactory =
    new LedgerWriterFactory(path, writeId, codec)

  override def commit(messages: Array[WriterCommitMessage]): Unit = {
    val staging = root.resolve(StagingDirName).resolve(writeId)
    val byPartition = messages.collect { case m: LedgerCommitMessage => m }
      .flatMap(m => m.pieces.map(p => (p.partition, (m.taskUid, staging.resolve(p.file)))))
      .groupBy(_._1)
    byPartition.toSeq.sortBy(_._1).foreach { case (p, pieces) =>
      val dir = root.resolve(s"partition-$p")
      Files.createDirectories(dir)
      val tmp = dir.resolve(BatchMergePrefix + queryId)
      mergePieces(staging, pieces.map(_._2).toSeq, tmp)
      val target = dir.resolve(s"ledger-${nextLedgerId(dir)}.log")
      if (!publishSegment(tmp, target)) throw new java.io.IOException(
        s"graft-ledger write: cannot publish $tmp as $target")
    }
    deleteRecursively(staging)
  }

  override def abort(messages: Array[WriterCommitMessage]): Unit =
    deleteRecursively(root.resolve(StagingDirName).resolve(writeId))
}

/** Streaming sink: per-epoch append with exactly-once segment
  * publication under retries (manifest + marker protocol — see the
  * object Scaladoc).
  */
class LedgerStreamingWrite(path: String, queryId: String, schema: StructType,
    options: Map[String, String]) extends StreamingWrite {
  import LedgerWrite._

  private val root = LedgerSource.toLocalPath(path)
  private val codec = new LedgerRowCodec(schema,
    options.getOrElse("writepartitions", "4").toInt)

  private def staging = root.resolve(StagingDirName).resolve(s"stream-$queryId")
  private def marker(epochId: Long): Path =
    root.resolve(CommitsDirName).resolve(s"$queryId-$epochId")
  private def manifest(epochId: Long): Path =
    staging.resolve(s"manifest-$epochId")

  override def createStreamingWriterFactory(info: PhysicalWriteInfo): StreamingDataWriterFactory =
    new LedgerWriterFactory(path, s"stream-$queryId", codec)

  override def commit(epochId: Long, messages: Array[WriterCommitMessage]): Unit = {
    if (Files.exists(marker(epochId))) { cleanupEpoch(epochId, messages); return }
    // plan: one (tmp → final) rename per partition, recorded BEFORE any
    // rename so a retried commit replays the identical id assignment
    val recorded: String =
      if (Files.exists(manifest(epochId))) Files.readString(manifest(epochId))
      else {
        val byPartition = messages.collect { case m: LedgerCommitMessage => m }
          .flatMap(m => m.pieces.map(p => (p.partition, (m.taskUid, staging.resolve(p.file)))))
          .groupBy(_._1)
        val computed = byPartition.toSeq.sortBy(_._1).map { case (p, pieces) =>
          val dir = root.resolve(s"partition-$p")
          Files.createDirectories(dir)
          val tmpName = s".tmp-$queryId-$epochId"
          mergePieces(staging, pieces.map(_._2).toSeq, dir.resolve(tmpName))
          s"$p,$tmpName,ledger-${nextLedgerId(dir)}.log"
        }
        Files.createDirectories(staging)
        Publish.writeAtomically(Publish.localFs, hPath(manifest(epochId)),
          computed.mkString("\n")).getOrElse(throw new java.io.IOException(
            s"graft-ledger write: manifest ${manifest(epochId)} did not land"))
      }
    recorded.split("\n").filter(_.nonEmpty).foreach { l =>
      val Array(p, tmpName, finalName) = l.split(",", 3)
      val dir = root.resolve(s"partition-$p")
      publishSegment(dir.resolve(tmpName), dir.resolve(finalName))
    }
    Files.createDirectories(root.resolve(CommitsDirName))
    Files.write(marker(epochId), Array.emptyByteArray)
    cleanupEpoch(epochId, messages)
  }

  private def cleanupEpoch(epochId: Long, messages: Array[WriterCommitMessage]): Unit = {
    messages.collect { case m: LedgerCommitMessage => m }.foreach(_.pieces.foreach(p =>
      try Files.deleteIfExists(staging.resolve(p.file))
      catch { case _: Exception => () }))
    try Files.deleteIfExists(manifest(epochId)) catch { case _: Exception => () }
  }

  override def abort(epochId: Long, messages: Array[WriterCommitMessage]): Unit =
    cleanupEpoch(epochId, messages)
}
