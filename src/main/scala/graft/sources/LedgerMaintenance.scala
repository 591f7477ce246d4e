package graft.sources

import java.nio.file.{Files, Path}
import scala.jdk.CollectionConverters._
import graft.Publish

/** Topic maintenance: segment retention, the broker-side lifecycle the
  * reference delegates to Pulsar (ledger deletion after consumption /
  * retention windows). Deleting old segments is what CREATES the sparse
  * ledger-id sequences the source's offset math is built to walk
  * (backlog/advance over gaps, `LedgerSource.scala`): after retention, a
  * checkpointed cursor at-or-past the deletion point resumes exactly; a
  * STALE cursor below it reads from the earliest remaining segment — the
  * "earliest available" semantics every log system degrades to once data
  * is aged out.
  *
  * Only WHOLE segments strictly below the cursor's ledger are deleted —
  * the cursor's own ledger survives even when partially consumed, because
  * entry ids are per-segment line offsets and trimming lines would
  * renumber live entries. O(segments) driver-side metadata work; the
  * count cache self-evicts deleted paths (`pruneCountCache`).
  */
object LedgerMaintenance {

  /** Delete segments wholly below `upTo` per partition (a partition
    * absent from the map is untouched). Returns the deleted paths.
    * Each visited partition also drops its orphaned batch merge files
    * (`.tmp-batch-<queryId>`: a batch append that died between
    * merge and publish; a batch query id is never retried, so nothing
    * else deletes them). A streaming epoch's `.tmp-<queryId>-<epoch>`
    * stays: its retry consumes it.
    * Offline maintenance: not concurrent with an active writer's commit
    * on the same partitions (single-maintainer, like the write path's
    * single-writer assumption).
    */
  def retain(topicPath: String, upTo: Map[Int, LedgerSource.Cursor]): Seq[Path] = {
    val root = LedgerSource.toLocalPath(topicPath)
    upTo.toSeq.sortBy(_._1).flatMap { case (p, cursor) =>
      val dir = root.resolve(s"partition-$p")
      sweepBatchMerges(dir)
      LedgerSource.listLedgers(dir)
        .filter(_.ledgerId < cursor.ledgerId)
        .map(l => dir.resolve(s"ledger-${l.ledgerId}.log"))
        .filter { seg =>
          try Files.deleteIfExists(seg)
          catch { case _: Exception => false }
        }
    }
  }

  private def sweepBatchMerges(dir: Path): Unit =
    if (Files.isDirectory(dir)) {
      val names = Files.list(dir)
      val debris = try names.iterator().asScala.filter(_.getFileName.toString
        .startsWith(LedgerWrite.BatchMergePrefix)).toList finally names.close()
      Publish.sweep(Publish.localFs, debris.map(LedgerWrite.hPath))
    }

  /** Retain below everything a stream has committed: parse the offset
    * JSON a checkpoint holds (`{"0":[ledger,entry]}`) and drop segments
    * every partition has fully consumed.
    */
  def retainBelowCommitted(topicPath: String, offsetJson: String): Seq[Path] =
    retain(topicPath, LedgerSource.LedgerOffset.parse(offsetJson).cursors)
}
