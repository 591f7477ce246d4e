package perfbench

import scala.collection.mutable
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.streaming.{StreamingQuery, StreamingQueryListener, StreamingQueryProgress}

/** Closed-loop drain of one streaming query, observed through Spark's own
  * `StreamingQueryProgress` events: per-batch trigger time, duration
  * breakdown and input rows. Traced drains also record one span per
  * micro-batch, whose jobs the listener attributes by query and batch id. */
object Streams {
  final case class Drain(progress: Seq[StreamingQueryProgress], wallS: Double) {
    val batches: Seq[StreamingQueryProgress] = progress.filter(_.numInputRows > 0)
    def inputRows: Long = progress.map(_.numInputRows).sum
    def durations(key: String): Seq[Double] =
      batches.map(p => Option(p.durationMs.get(key)).map(_.doubleValue).getOrElse(0.0))
    def triggerMs: Seq[Double] = durations("triggerExecution")
  }

  /** Start the query with `start`, wait until it terminates (the
    * AvailableNow trigger ends it once the backlog is drained) and return
    * its progress events in batch order. */
  def drain(spark: SparkSession, trace: Trace, spanName: String, timeoutMs: Long)
      (start: => StreamingQuery): Drain = {
    val events = mutable.ArrayBuffer.empty[StreamingQueryProgress]
    val l = new StreamingQueryListener {
      override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
      override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
        events.synchronized(events += e.progress)
      override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    }
    spark.streams.addListener(l)
    val t0 = System.nanoTime()
    val q = start
    try {
      if (!q.awaitTermination(timeoutMs)) sys.error(s"$spanName: backlog not drained in $timeoutMs ms")
      q.exception.foreach(e => throw e)
    } finally if (q.isActive) q.stop()
    val wall = (System.nanoTime() - t0) / 1e9
    org.apache.spark.PerfbenchBus.drain(spark)
    spark.streams.removeListener(l)
    val ps = events.synchronized(events.toSeq).filter(_.id == q.id).sortBy(_.batchId)
    ps.foreach(p => System.err.println(s"[perfbench] $spanName ${p.batchId} rows=${p.numInputRows} " +
      p.durationMs.asScala.toSeq.sortBy(_._1).map { case (k, v) => s"$k=$v" }.mkString(" ")))
    ps.foreach { p =>
      val ms = java.time.Instant.parse(p.timestamp).toEpochMilli
      val dur = Option(p.durationMs.get("triggerExecution")).map(_.longValue).getOrElse(0L)
      trace.record(spanName, ms, ms + dur, Trace.batchKey(q.id.toString, p.batchId.toString),
        Map("batch" -> p.batchId.toString, "rows" -> p.numInputRows.toString))
    }
    Drain(ps, wall)
  }
}
