package perfbench

import scala.collection.mutable
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.QueryPlanningTracker
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** What Spark's listener bus reports for the jobs of one attribution key:
  * a benchmark span (its job tag) or one streaming micro-batch (its query
  * id and batch id, which Spark sets as local properties on every job the
  * batch runs). */
final class Work {
  var jobs = 0L; var stages = 0L; var tasks = 0L
  var taskRunMs = 0L; var taskCpuNs = 0L; var gcMs = 0L
  var shuffleReadB = 0L; var shuffleWriteB = 0L; var spillB = 0L
  val intervals = mutable.ArrayBuffer.empty[(Long, Long)]

  def add(o: Work): Unit = {
    jobs += o.jobs; stages += o.stages; tasks += o.tasks
    taskRunMs += o.taskRunMs; taskCpuNs += o.taskCpuNs; gcMs += o.gcMs
    shuffleReadB += o.shuffleReadB; shuffleWriteB += o.shuffleWriteB
    spillB += o.spillB; intervals ++= o.intervals
  }

  /** Milliseconds of [from, to) during which at least one task ran. */
  def coveredMs(from: Long, to: Long): Long =
    Trace.unionMs(intervals.toSeq.map { case (a, b) => (a max from, b min to) })
}

/** One span: a call the benchmark made into a layer, or a micro-batch
  * taken from a progress event. Times are epoch milliseconds. */
final case class Span(id: Int, parent: Int, name: String, start: Long, end: Long,
    key: String, attrs: Map[String, String])

/** Span recorder plus the listeners that attribute Spark's job, stage and
  * task events to spans. Disabled tracers record nothing and tag no jobs,
  * so an untraced run pays nothing but the `if`. Spans are kept in memory
  * and written once, at exit. */
final class Trace(spark: SparkSession, val runId: String, val enabled: Boolean) {
  private val spans = mutable.ArrayBuffer.empty[Span]
  private val work = mutable.HashMap.empty[String, Work]
  private val stageKey = mutable.HashMap.empty[Int, String]
  private var nextId = 1
  private val open = mutable.Stack[Int](0)
  /** QueryPlanningTracker phase totals (ms) of every action run while
    * tracing, and of the DataFrames passed to `addPhases`, by phase name. */
  val phasesMs = mutable.HashMap.empty[String, Long].withDefaultValue(0L)

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val p = Option(e.properties)
      val tag = p.flatMap(x => Option(x.getProperty("spark.job.tags")))
        .flatMap(_.split(',').filter(_.startsWith(Trace.TagPrefix))
          .maxByOption(_.stripPrefix(Trace.TagPrefix).toInt)) // innermost span
      val stream = p.flatMap(x => Option(x.getProperty("sql.streaming.queryId")))
        .map(q => Trace.batchKey(q, p.get.getProperty("streaming.sql.batchId")))
      // a stream's jobs inherit the job tags of the thread that started it,
      // so the batch key wins
      stream.orElse(tag).foreach { k =>
        Trace.this.synchronized {
          e.stageIds.foreach(stageKey(_) = k)
          work.getOrElseUpdate(k, new Work).jobs += 1
        }
      }
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
      Trace.this.synchronized {
        stageKey.get(e.stageInfo.stageId).foreach(work(_).stages += 1)
      }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = Trace.this.synchronized {
      stageKey.get(e.stageId).foreach { k =>
        val w = work(k); val i = e.taskInfo
        w.tasks += 1
        w.taskRunMs += i.duration
        w.intervals += ((i.launchTime, i.finishTime))
        Option(e.taskMetrics).foreach { m =>
          w.taskCpuNs += m.executorCpuTime
          w.gcMs += m.jvmGCTime
          w.shuffleReadB += m.shuffleReadMetrics.totalBytesRead
          w.shuffleWriteB += m.shuffleWriteMetrics.bytesWritten
          w.spillB += m.memoryBytesSpilled + m.diskBytesSpilled
        }
      }
    }
  }

  private val qeListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
      addPhases(qe.tracker)
    override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()
  }

  /** Add a tracker's phase times; the listener sees only the actions, so
    * a DataFrame's own analysis, done when it is built, is added here. */
  def addPhases(t: QueryPlanningTracker): Unit = if (attached) synchronized {
    t.phases.foreach { case (ph, s) => phasesMs(ph) += s.durationMs }
  }

  private var attached = false
  /** Attach the listeners (traced phase of a run). */
  def start(): Unit = if (enabled && !attached) {
    spark.sparkContext.addSparkListener(listener)
    spark.listenerManager.register(qeListener)
    attached = true
  }
  /** Wait for the listener bus to deliver every pending event, then detach. */
  def stop(): Unit = if (attached) {
    org.apache.spark.PerfbenchBus.drain(spark)
    spark.sparkContext.removeSparkListener(listener)
    spark.listenerManager.unregister(qeListener)
    attached = false
  }

  /** Run `body` inside a span; jobs it launches carry the span's job tag. */
  def span[T](name: String, attrs: Map[String, String] = Map.empty)(body: => T): T =
    if (!attached) body
    else {
      val id = synchronized { val i = nextId; nextId += 1; i }
      val tag = Trace.TagPrefix + id
      val parent = open.top
      open.push(id)
      val sc = spark.sparkContext
      sc.addJobTag(tag)
      val t0 = System.currentTimeMillis()
      try body
      finally {
        val t1 = System.currentTimeMillis()
        sc.removeJobTag(tag)
        open.pop()
        synchronized { spans += Span(id, parent, name, t0, t1, tag, attrs) }
      }
    }

  /** Record a finished span whose jobs were attributed by `key`. */
  def record(name: String, start: Long, end: Long, key: String,
      attrs: Map[String, String] = Map.empty): Unit = if (attached) synchronized {
    spans += Span(nextId, open.top, name, start, end, key, attrs)
    nextId += 1
  }

  def all: Seq[Span] = synchronized(spans.toSeq)
  def workOf(s: Span): Work = synchronized(work.getOrElse(s.key, new Work))

  /** Sum of the work of `ss`. */
  def total(ss: Seq[Span]): Work = { val w = new Work; ss.foreach(s => w.add(workOf(s))); w }

  /** Wall time minus task-covered time, summed over `ss`. */
  def gapMs(ss: Seq[Span]): Long =
    ss.map(s => (s.end - s.start) - workOf(s).coveredMs(s.start, s.end)).sum

  /** Write every span as one JSON line, with self time (duration minus
    * the part covered by child spans) and its attributed counts. */
  def write(path: java.nio.file.Path): Unit = {
    val ss = all
    val children = ss.groupBy(_.parent)
    val lines = ss.sortBy(s => (s.start, s.id)).map { s =>
      val kids = children.getOrElse(s.id, Nil).map(c => (c.start max s.start, c.end min s.end))
      val self = (s.end - s.start) - Trace.unionMs(kids)
      val w = workOf(s)
      val fields = Seq(
        "run" -> Json.str(runId), "id" -> s.id.toString, "parent" -> s.parent.toString,
        "name" -> Json.str(s.name), "start_ms" -> s.start.toString,
        "dur_ms" -> (s.end - s.start).toString, "self_ms" -> self.toString,
        "jobs" -> w.jobs.toString, "stages" -> w.stages.toString,
        "tasks" -> w.tasks.toString, "task_run_ms" -> w.taskRunMs.toString,
        "task_cpu_ms" -> (w.taskCpuNs / 1000000).toString,
        "gap_ms" -> ((s.end - s.start) - w.coveredMs(s.start, s.end)).toString) ++
        s.attrs.toSeq.sorted.map { case (k, v) => k -> Json.str(v) }
      fields.map { case (k, v) => Json.str(k) + ":" + v }.mkString("{", ",", "}")
    }
    java.nio.file.Files.createDirectories(path.getParent)
    java.nio.file.Files.write(path, lines.mkString("", "\n", "\n").getBytes("UTF-8"))
  }
}

object Trace {
  val TagPrefix = "perfbench-span-"
  def batchKey(queryId: String, batchId: String): String = s"stream:$queryId:$batchId"

  /** Length of the union of half-open intervals, in ms. */
  def unionMs(iv: Seq[(Long, Long)]): Long = {
    var total = 0L; var curS = Long.MinValue; var curE = Long.MinValue
    iv.filter { case (a, b) => b > a }.sortBy(_._1).foreach { case (a, b) =>
      if (a > curE) { if (curE > curS) total += curE - curS; curS = a; curE = b }
      else curE = curE max b
    }
    if (curE > curS) total += curE - curS
    total
  }
}

object Json {
  def str(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"' => b ++= "\\\""; case '\\' => b ++= "\\\\"
      case c if c < ' ' => b ++= f"\\u${c.toInt}%04x"
      case c => b += c
    }
    (b += '"').toString
  }
}
