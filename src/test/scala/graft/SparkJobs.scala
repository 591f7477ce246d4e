package graft

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicInteger
import scala.jdk.CollectionConverters._
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.catalyst.plans.LeftAnti
import org.apache.spark.sql.execution.exchange.BroadcastExchangeExec
import org.apache.spark.sql.execution.joins.BroadcastHashJoinExec
import org.apache.spark.sql.util.QueryExecutionListener

/** Budget probes for the specs that pin what one gate epoch runs: its
  * Spark jobs, its generated-code compiles, and the drop-id rows its
  * anti-joins broadcast. */
object SparkJobs extends AdaptiveSparkPlanHelper {

  /** Spark jobs `body` starts, counted by a job tag on this thread and a
    * listener that matches it. */
  def of[T](spark: SparkSession, tag: String)(body: => T): (T, Int) = {
    val sc = spark.sparkContext
    val n = new AtomicInteger
    val l = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (Option(e.properties).flatMap(p => Option(p.getProperty("spark.job.tags")))
            .exists(_.split(",").contains(tag))) n.incrementAndGet()
    }
    sc.addSparkListener(l)
    sc.addJobTag(tag)
    try {
      val out = body
      org.apache.spark.ListenerBusDrain(sc)
      (out, n.get)
    } finally { sc.removeJobTag(tag); sc.removeSparkListener(l) }
  }

  /** Generated classes Janino compiled while `body` ran: the codegen
    * cache's misses, driver- and task-side alike (the codegen metrics
    * are JVM-wide). */
  def compilesOf[T](body: => T): (T, Long) = {
    val h = org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME
    val before = h.getCount
    val out = body
    (out, h.getCount - before)
  }

  /** The build-side row count of every broadcast anti-join that
    * `body`'s SQL executions ran — the drop-id sets a gate ships to the
    * driver — read from the final adaptive plans. */
  def antiJoinBroadcastRows[T](spark: SparkSession)(body: => T): (T, Seq[Long]) = {
    val rows = new ConcurrentLinkedQueue[Long]
    val l = new QueryExecutionListener {
      override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit =
        collectWithSubqueries(qe.executedPlan) {
          case j: BroadcastHashJoinExec if j.joinType == LeftAnti =>
            collect(j.right) { case b: BroadcastExchangeExec => b } // anti builds right
        }.flatMap(_.headOption).foreach(b => rows.add(b.metrics("numOutputRows").value))
      override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = ()
    }
    spark.listenerManager.register(l)
    try {
      val out = body
      org.apache.spark.ListenerBusDrain(spark.sparkContext)
      (out, rows.asScala.toSeq)
    } finally spark.listenerManager.unregister(l)
  }
}
