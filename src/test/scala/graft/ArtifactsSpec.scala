package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** The bench-protocol artifact prewarm: every declared family must
  * build cleanly (no -1 sentinel) — a family that silently breaks here
  * would surface as conflated build-cost inside whichever query visits
  * the store first, exactly the accounting the `build` map exists to
  * prevent.
  */
class ArtifactsSpec extends AnyFunSuite with TempDirs {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  test("every artifact family prewarms cleanly at sf0.001") {
    val builds = Artifacts.prewarm(spark, "/root/testdata/sf0.001")
    assert(builds.map(_._1) ==
      Seq("dedup", "lex", "lm", "nb", "spans", "bloom", "bpe", "ivf", "pq", "srp"),
      s"family list drifted: ${builds.map(_._1)}")
    val failed = builds.filter(_._2 < 0)
    assert(failed.isEmpty, s"families failed to build: ${failed.map(_._1)}")
    // a second prewarm hits the fingerprint caches: near-instant, and
    // proves consumers will read the stores instead of rebuilding. The
    // bound is absolute-OR-relative: inside the full suite an earlier
    // suite's queries may have already warmed the caches, making BOTH
    // passes near-zero — a pure ratio then compares timing noise.
    val again = Artifacts.prewarm(spark, "/root/testdata/sf0.001")
    assert(again.forall(_._2 >= 0))
    assert(again.map(_._2).sum < math.max(builds.map(_._2).sum / 2, 2.0),
      s"second prewarm rebuilt instead of reading caches: $again vs $builds")
  }

  test("prewarmCold builds every repetition genuinely cold and leaves the first store live") {
    import java.nio.file.{Files, Paths}
    val roots = Seq.fill(2)(
      tmp("graft-cold-spec"))
    val prev = spark.conf.getOption("spark.graft.artifacts.path")
    try {
      val builds = Artifacts.prewarmCold(spark, "/root/testdata/sf0.001", roots)
      assert(builds.map(_._1) ==
        Seq("dedup", "lex", "lm", "nb", "spans", "bloom", "bpe", "ivf", "pq", "srp"))
      assert(builds.forall(_._2 >= 0), s"cold build failed: $builds")
      // EVERY root carries a full publication: repetition 2 rebuilt from
      // the corpus rather than hitting repetition 1's L1 frames (a
      // near-zero second sample would defeat the min-of-cold-builds gate)
      roots.foreach { r =>
        val fams = Files.list(Paths.get(r))
        try assert(fams.count() >= 10, s"root $r not fully published")
        finally fams.close()
      }
      // the session is left reading the FIRST root — the sweeps' warm
      // steady state
      assert(spark.conf.get("spark.graft.artifacts.path") == roots.head)
    } finally prev match {
      case Some(v) => spark.conf.set("spark.graft.artifacts.path", v)
      case None => spark.conf.unset("spark.graft.artifacts.path")
    }
  }

  test("anchor-term + lexstats artifacts are bit-identical to their inline derivations") {
    import org.apache.spark.sql.functions.{col, size, avg}
    val dir = "/root/testdata/sf0.01"
    // the persisted table (through the store + driver-row cache) must be
    // EXACTLY the inline derivation it replaced in lexicalRanks: same
    // rows, and idf bit-for-bit (doubles roundtrip parquet exactly; the
    // (idf desc, token) ranking order is total so selection can't drift)
    def keyed(df: org.apache.spark.sql.DataFrame): Set[(Long, String, Long)] =
      df.collect().map(r => (r.getAs[Long]("q_id"), r.getAs[String]("token"),
        java.lang.Double.doubleToLongBits(r.getAs[Double]("idf")))).toSet
    val shared = keyed(graft.operators.VectorQueries.anchorTermsShared(spark, dir))
    val inline = keyed(graft.operators.VectorQueries.anchorTermsBuild(spark, dir))
    assert(shared == inline, "persisted anchor-term table drifted from the inline derivation")
    assert(shared.nonEmpty && shared.groupBy(_._1).forall(_._2.size <= 8),
      "anchor-term table shape broke the 8-terms-per-anchor selection")
    // avgdl: the 1-row scalar equals the inline corpus average bit-for-bit
    val sharedAvg = graft.operators.VectorQueries.lexStatsShared(spark, dir)
      .head.getDouble(0)
    val inlineAvg = graft.operators.TextQueries.lexDocsShared(spark, dir)
      .select(size(col("t")).as("dl")).agg(avg(col("dl"))).head.getDouble(0)
    assert(java.lang.Double.doubleToLongBits(sharedAvg) ==
      java.lang.Double.doubleToLongBits(inlineAvg),
      s"persisted avgdl drifted: $sharedAvg vs $inlineAvg")
  }

  test("super quantizer: the driver path matches the distributed path it replaces below the floor") {
    import org.apache.spark.sql.functions.col
    val e = Tables.embeddings(spark, "/root/testdata/sf0.1").localCheckpoint()
    val cent = graft.operators.VectorQueries.trainCells(e) // nlist=40, nsuper=7
    val (ls, lm) = graft.operators.VectorQueries.superQuantizerLocal(cent)
    val (ds, dm) = graft.operators.VectorQueries.superQuantizerDistributed(cent)
    // the routing table — what assignCells actually consumes — is exact
    def routing(df: org.apache.spark.sql.DataFrame): Set[(Int, Int)] =
      df.select(col("cell"), col("super")).collect()
        .map(r => (r.getInt(0), r.getInt(1))).toSet
    assert(routing(lm) == routing(dm), "driver path routed cells differently")
    // scentroids agree to a float ulp: the two paths sum the per-dim
    // double means in different orders, and the float cast absorbs it
    // (the same argument the DuckDB-oracle comparison already rests on)
    def sups(df: org.apache.spark.sql.DataFrame): Map[Int, Seq[Float]] =
      df.collect().map(r => r.getInt(0) -> r.getSeq[Float](1)).toMap
    val (a, b) = (sups(ls), sups(ds))
    assert(a.keySet == b.keySet)
    for (k <- a.keySet; (x, y) <- a(k).zip(b(k)))
      assert(math.abs(x - y) <= math.max(1e-6f, math.abs(y) * 1e-6f),
        s"super $k scentroid drifted: $x vs $y")
  }

  test("ivf hop-2 routing join: broadcast under the conf ceiling, shuffle past it, same assignment") {
    import org.apache.spark.sql.functions.col
    val e = Tables.embeddings(spark, "/root/testdata/sf0.001")
      .filter(col("vec_id") < 300).localCheckpoint()
    val cent = graft.operators.VectorQueries.trainCells(e)
    def planOf(): (String, Seq[org.apache.spark.sql.Row]) = {
      val df = graft.operators.VectorQueries.assignCells(e, cent)
      val rows = df.orderBy("vec_id").collect().toSeq
      (df.queryExecution.executedPlan.toString, rows)
    }
    // default: the nlist-row routing table rides a broadcast hint
    val (bPlan, bRows) = planOf()
    assert(bPlan.contains("BroadcastHashJoin"), bPlan.take(2000))
    assert(!bPlan.contains("SortMergeJoin") && !bPlan.contains("ShuffledHashJoin"),
      "hop-2 shuffled under the default conf:\n" + bPlan.take(2000))
    // past the ceiling the hint is dropped and the join plans from
    // stats — with auto-broadcast off (a 10⁶-row table would be past it
    // anyway) the hop-2 join shuffles on `super`
    val prevAuto = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      spark.conf.set(
        graft.operators.VectorQueries.IvfBroadcastCellsConf, "0")
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      val (sPlan, sRows) = planOf()
      assert(sPlan.contains("SortMergeJoin") || sPlan.contains("ShuffledHashJoin"),
        "hop-2 did not shuffle past the conf ceiling:\n" + sPlan.take(2000))
      // only the routing table's distribution changes — never the result
      assert(sRows == bRows, "join strategy changed the cell assignment")
    } finally {
      spark.conf.unset(graft.operators.VectorQueries.IvfBroadcastCellsConf)
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prevAuto)
    }
  }
}
