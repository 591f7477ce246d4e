package graft

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types.StructType
import scala.collection.concurrent.TrieMap

/** The corpus-level artifact families (build once per corpus snapshot,
  * read by every consumer) and the ONE in-memory (L1) cache over the
  * disk store that backs them.
  *
  * [[families]] lists the families as named build thunks — shared by
  * the bench protocol (which prices each family as its own `build`
  * entry before the sweeps) and the scaling harness (which prewarms
  * both comparison dirs so per-query ratios measure queries, not
  * whichever query visits the store first). Every thunk calls the exact
  * shared getter the queries call (same fingerprint keys), so nothing
  * double-builds.
  *
  * Every shared getter goes through one of two L1 shapes, both over
  * [[ArtifactStore.readThrough]] (the L2, cross-JVM carrier):
  *   - [[frame]]: corpus-sized tables (tokenized corpus, pair graph,
  *     inverted file, band tables) as the published parquet scan;
  *   - [[rows]]/[[table]]: index-sized tables (centroids, codebooks, BPE
  *     merges, anchor terms) collected once to driver rows and re-entering
  *     plans as local relations.
  * Tags are unique across families (they share one store namespace), so
  * one map per shape serves every family.
  */
object Artifacts {
  private val frames = TrieMap.empty[String, DataFrame]
  private val driverRows = TrieMap.empty[String, (Seq[Row], StructType)]

  /** The published artifact (tag, fp) as a parquet scan, built and
    * published on a store miss. `fp` is the corpus fingerprint
    * (`Tables.parquetFingerprint` of the table the build reads). Keyed
    * additionally by the SparkContext identity: a frame is bound to the
    * session that planned it, so a fresh context re-reads through. Every
    * L1 hit re-checks the backing entry ([[ArtifactStore.stillLive]]
    * also TOUCHES it, so gc's last-use aging sees cache hits as uses): a
    * vanished entry (store gc, a changed store root) drops the frame and
    * re-reads through instead of serving a scan over deleted files.
    */
  private[graft] def frame(s: SparkSession, tag: String, fp: String)
      (build: => DataFrame): DataFrame = {
    val key = tag + ":" + System.identityHashCode(s.sparkContext) + ":" + fp
    frames.get(key) match {
      case Some(df) if ArtifactStore.stillLive(s, tag, fp) => df
      case _ =>
        frames.remove(key)
        frames.getOrElseUpdate(key, ArtifactStore.readThrough(s, tag, fp)(build))
    }
  }

  /** The published artifact (tag, fp) as driver rows — for index-sized
    * tables only. Rows carry no disk or context backing, so a hit needs
    * no liveness check and survives a new SparkContext. Row order is the
    * parquet read order: a caller that needs an order sorts on the driver.
    */
  private[graft] def rows(s: SparkSession, tag: String, fp: String)
      (build: => DataFrame): (Seq[Row], StructType) =
    driverRows.getOrElseUpdate(s"$tag:$fp", {
      val df = ArtifactStore.readThrough(s, tag, fp)(build)
      // the driver-row materialization is only sound while the artifact
      // stays index-sized (nlist×64 floats ≈ 25 MB at the documented
      // deployment nlist ≈ 10⁵). Past nlist ≈ 10⁶ (≈ 250 MB of driver
      // rows) the artifact must be a partitioned side table ([[frame]])
      // — and the check runs BEFORE collect(), because an OOM inside
      // collect is exactly the quiet death this guard exists to replace
      // (count on the published parquet reads footers only).
      val nRows = df.count()
      require(nRows <= 1000000,
        s"index artifact '$tag' has $nRows rows — past the " +
          "driver-row cache's supported sizing; store it as a " +
          "partitioned side table (Artifacts.frame) instead")
      (df.collect().toSeq, df.schema)
    })

  /** [[rows]] re-entering a plan as a local relation. */
  private[graft] def table(s: SparkSession, tag: String, fp: String)
      (build: => DataFrame): DataFrame = {
    val (r, schema) = rows(s, tag, fp)(build)
    s.createDataFrame(
      new java.util.ArrayList(scala.jdk.CollectionConverters.SeqHasAsJava(r).asJava),
      schema)
  }

  /** The families in prewarm order. Correctness does not depend on the
    * order: every getter resolves its own dependencies by calling the
    * other getters through the L1. The order only decides which family's
    * cold timing absorbs a build two families share.
    */
  def families(spark: SparkSession, sfDir: String): Seq[(String, () => Unit)] = Seq(
    "dedup" -> { () =>
      graft.operators.TextQueries.lshNeardupPairsShared(spark, sfDir)
      graft.operators.TextQueries.neardupComponentsShared(spark, sfDir)
      () },
    // lex before lm: the lm build derives its bigram stream from the
    // lexdocs artifact, so the shared tokenize is priced as lex, not
    // inside lm's cold timing. (bpe still tokenizes from text — its
    // lexdocs read was A/B-measured slower for a single consumer.)
    "lex" -> { () =>
      graft.operators.TextQueries.lexDocsShared(spark, sfDir)
      graft.operators.TextQueries.lexDfShared(spark, sfDir)
      graft.operators.TextQueries.gram5Shared(spark, sfDir)
      graft.operators.TextQueries.dsirFeatsShared(spark, sfDir)
      // the anchor BM25 term table + avgdl scalar (r19): tiny, derived
      // from lexdocs/lexdf — built here so q94/q99/q103 never pay the
      // anchor scan or the corpus-length scan at query time
      graft.operators.VectorQueries.anchorTermsShared(spark, sfDir)
      graft.operators.VectorQueries.lexStatsShared(spark, sfDir)
      () },
    "lm" -> (() => { graft.operators.TextQueries.docSurprisalShared(spark, sfDir); () }),
    "nb" -> (() => { graft.operators.TextQueries.nbQualityScored(spark, sfDir); () }),
    "spans" -> (() => { graft.operators.TextQueries.spanRunsShared(spark, sfDir); () }),
    "bloom" -> { () =>
      graft.operators.TextQueries.benchGramsShared(spark, sfDir)
      graft.operators.TextQueries.bloomSetShared(spark, sfDir)
      () },
    "bpe" -> (() => { graft.operators.TextQueries.bpeMergesShared(spark, sfDir, steps = 20); () }),
    "ivf" -> { () =>
      val e = Tables.embeddings(spark, sfDir)
      val cent = graft.operators.VectorQueries.trainCellsShared(spark, sfDir, e)
      graft.operators.VectorQueries.assignCellsShared(spark, sfDir, e, cent)
      () },
    "pq" -> { () =>
      val e = Tables.embeddings(spark, sfDir)
      val sv = graft.operators.VectorQueries.pqSubvecsShared(spark, sfDir, e)
      val cb = graft.operators.VectorQueries.pqCodebookShared(spark, sfDir, sv)
      graft.operators.VectorQueries.pqCodesShared(spark, sfDir, sv, cb)
      () },
    "srp" -> (() => { graft.operators.VectorQueries.srpBandsShared(spark, sfDir); () }))

  /** Build every family, returning (family, seconds); -1 marks a failed
    * build so it can never be mistaken for a timing. */
  def prewarm(spark: SparkSession, sfDir: String): Seq[(String, Double)] =
    families(spark, sfDir).map { case (name, build) =>
      val t0 = System.nanoTime()
      val ok = try { build(); true }
        catch { case e: Throwable =>
          System.err.println(s"[bench] build $name failed: ${e.getMessage}"); false }
      name -> (if (ok) (System.nanoTime() - t0) / 1e9 else -1.0)
    }

  /** Drop the JVM-local (L1) artifact caches over the disk store. The
    * bench's noise-robust build gate times each family COLD more than
    * once in one JVM: repetition N+1 must re-derive from the corpus, not
    * hit the frames/driver-rows repetition N cached. Never needed in a
    * deployed pipeline (the disk store is the real carrier).
    */
  def dropSessionCaches(): Unit = {
    frames.clear()
    driverRows.clear()
    graft.operators.VectorQueries.dropSuperCache()
  }

  /** Noise-robust cold-build pricing: time every family against `reps`
    * FRESH store roots (set per repetition via the session conf; L1
    * caches dropped so each pass is a genuine re-derivation) and report
    * each family's MIN across repetitions. A single host stall — r12
    * fired the build gate on 5/8 families from one window whose canary
    * noise band was 7.5× — now has to span every repetition of a family
    * to poison its reported cost, while a real regression moves ALL
    * repetitions and still trips the gate. Any failed repetition keeps
    * the -1 failure sentinel. Leaves the conf pointing at the FIRST
    * (fully published) root with empty L1s: the sweeps then read
    * published artifacts — the deployed steady state.
    */
  def prewarmCold(spark: SparkSession, sfDir: String, roots: Seq[String])
      : Seq[(String, Double)] = {
    require(roots.nonEmpty)
    val reps = roots.map { root =>
      spark.conf.set("spark.graft.artifacts.path", root)
      dropSessionCaches()
      prewarm(spark, sfDir).toMap
    }
    spark.conf.set("spark.graft.artifacts.path", roots.head)
    dropSessionCaches()
    families(spark, sfDir).map { case (name, _) =>
      val samples = reps.map(_(name))
      name -> (if (samples.exists(_ < 0)) -1.0 else samples.min)
    }
  }
}
