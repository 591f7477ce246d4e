package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path, Paths}
import org.apache.spark.sql.SparkSession

final case class Metric(name: String, value: Double, unit: String)

/** What a workload reports: operations attempted and failed (a failed
  * correctness check counts as a failed operation), end-to-end metrics,
  * per-layer metrics (traced runs only) and human-readable lines that name
  * the workload-specific figures. */
final case class Result(attempted: Long, failed: Long, e2e: Seq[Metric],
    layers: Seq[Metric], lines: Seq[String])

/** Everything a workload needs from the command line and the session. */
final case class Ctx(spark: SparkSession, seed: Long, seconds: Int,
    trace: Trace, work: Path, expected: Path, smoke: Boolean, jvmStartMs: Long,
    sessionReadyMs: Long) {
  def dir(name: String): String = {
    val p = work.resolve(name); Files.createDirectories(p); p.toString
  }
  def say(s: String): Unit = System.err.println(s"[perfbench] $s")
}

/** Benchmark entry point; `run.py` launches it once per run:
  * `--workload <name> --seed <n> --seconds <s> --trace <0|1> --work <dir>
  * --expected <dir> [--smoke]`. The last stdout line is the result JSON. */
object Main {
  val Workloads: Map[String, Ctx => Result] = Map(
    "query-suite" -> QuerySuite.run,
    "curation-stream" -> CurationStream.run)

  def main(argv: Array[String]): Unit = {
    val jvmStart = ManagementFactory.getRuntimeMXBean.getStartTime
    val opts = argv.sliding(2).collect { case Array(k, v) if k.startsWith("--") &&
      !v.startsWith("--") => k.drop(2) -> v }.toMap
    val flags = argv.filter(_.startsWith("--")).map(_.drop(2)).toSet
    val workload = opts.getOrElse("workload", "")
    require(Workloads.contains(workload), s"unknown workload '$workload'")
    val work = Paths.get(opts("work")).toAbsolutePath
    Files.createDirectories(work)
    val cpus = Runtime.getRuntime.availableProcessors
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName(s"perfbench-$workload")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      .config("spark.graft.artifacts.path", work.resolve("artifacts").toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val traced = opts.get("trace").contains("1")
    val ctx = Ctx(spark, opts("seed").toLong, opts("seconds").toInt,
      new Trace(spark, s"$workload-seed${opts("seed")}-${System.currentTimeMillis}", traced),
      work, Paths.get(opts("expected")), flags("smoke"), jvmStart, System.currentTimeMillis())
    val res = try Workloads(workload)(ctx) finally ctx.trace.stop()
    val heap = if (traced) Seq(Metric("host.heap_live_mb", liveHeapMb(), "MB")) else Nil
    if (traced) {
      val out = work.getParent.resolveSibling("traces").resolve(s"${ctx.trace.runId}.jsonl")
      ctx.trace.write(out)
      ctx.say(s"spans written to $out")
    }
    spark.stop()
    val metrics = if (traced) Layers.complete(res.layers ++ heap) else res.e2e
    res.lines.foreach(println)
    metrics.foreach(m => println(f"metric ${m.name}%-36s ${m.value}%14.4f ${m.unit}"))
    val correct = res.failed == 0
    val body = metrics.map(m => s"${Json.str(m.name)}:{\"value\":${num(m.value)}," +
      s"\"unit\":${Json.str(m.unit)}}").mkString("{", ",", "}")
    println(s"""{"correct":$correct,"attempted":${res.attempted},""" +
      s""""failed":${res.failed},"metrics":$body}""")
    System.out.flush()
    if (!correct) sys.exit(1)
  }

  private def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "0" else BigDecimal(v).bigDecimal.toPlainString

  // ---- shared measurement helpers ----

  /** The host reference job: a 200,000-row sum over four partitions. It
    * runs no engine code, and like both workloads its time is mostly
    * per-job driver work (planning, codegen lookup, scheduling), so it
    * slows and speeds up with the shared host as they do. */
  def referenceJobMs(spark: SparkSession): Double =
    timed(spark.range(0, 200000, 1, 4).selectExpr("sum(id * 3 % 7)").collect())._2 * 1000

  /** Reference job time on a host the adjusted metrics are scaled to: about
    * its median on the 4-core development host. */
  val ReferenceBaselineMs = 80.0

  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  /** Blocks of host reference samples taken at fixed points of a run.
    * A timing is reported adjusted to the reference host, raw x baseline /
    * reference, with the reference taken from the blocks right around the
    * phase it times, so that a phase run while neighbours slowed the host
    * reads like one run on a quiet host. The reference involves no engine
    * code, so an engine change moves the adjusted figures as it moves the
    * raw ones. */
  final class HostRef(spark: SparkSession) {
    private val blocks = scala.collection.mutable.ArrayBuffer.empty[Seq[Double]]
    /** Run 12 reference jobs and keep the last 10 as a new block (the
      * first of a block runs 2-4x slower after other work); returns the
      * block's index. */
    def sample(): Int = { blocks += Seq.fill(12)(referenceJobMs(spark)).drop(2); blocks.length - 1 }
    /** Median reference job time over the given blocks, or all of them. */
    def ms(bs: Int*): Double = median((if (bs.isEmpty) blocks.indices else bs).flatMap(blocks))
    def time(raw: Double, bs: Int*): Double = raw * ReferenceBaselineMs / ms(bs: _*)
    def rate(raw: Double, bs: Int*): Double = raw * ms(bs: _*) / ReferenceBaselineMs
  }

  def geomean(xs: Seq[Double]): Double = {
    require(xs.nonEmpty && xs.forall(_ > 0), "geometric mean needs positive values")
    math.exp(xs.map(math.log).sum / xs.length)
  }

  /** Linear-interpolated quantile (q in [0,1]) of a non-empty sample. */
  def quantile(xs: Seq[Double], q: Double): Double = {
    require(xs.nonEmpty, "quantile of an empty sample")
    val s = xs.sorted; val pos = q * (s.length - 1)
    val lo = pos.floor.toInt; val hi = pos.ceil.toInt
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }

  def timed[T](body: => T): (T, Double) = {
    val t0 = System.nanoTime(); val r = body; (r, (System.nanoTime() - t0) / 1e9)
  }

  /** Heap in use after a full collection, in MB: the live set. */
  def liveHeapMb(): Double = {
    System.gc(); System.gc()
    ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0
  }

  /** Total size in MB and file count of a directory tree. */
  def treeSize(root: String): (Double, Long) = {
    val p = Paths.get(root)
    if (!Files.exists(p)) (0.0, 0L)
    else {
      val files = Files.walk(p).filter(Files.isRegularFile(_)).toArray.map(_.asInstanceOf[Path])
      (files.map(Files.size).sum / 1048576.0, files.length.toLong)
    }
  }

  /** The pinned host canary of the legacy `graft.Bench` line
    * (20M-row md5 aggregate into the noop sink), copied unchanged so its
    * seconds compare across runs and hosts: it separates host drift from
    * a code effect. */
  def canary(spark: SparkSession): Double = timed {
    import org.apache.spark.sql.functions._
    spark.range(20000000L)
      .selectExpr("id % 1000 as k", "id as v", "md5(cast(id % 100000 as string)) as s")
      .groupBy("k").agg(sum("v").as("sv"), count(lit(1)).as("n"), max("s").as("m"))
      .orderBy("k")
      .write.format("noop").mode("overwrite").save()
  }._2
}
