package graft

import org.apache.spark.sql.SparkSession

/** Scratch main for local spot checks while developing. Not part of the
  * driver contract. */
object Dev {
  def main(args: Array[String]): Unit = {
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "8")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    args.headOption match {
      case Some("explain") =>
        val dir2 = args.lift(1).getOrElse("/root/testdata/sf0.1")
        val names = args.drop(2) match {
          case e if e.nonEmpty => e.toSeq
          case _ => Seq("q02_filter_project", "q03_segment_revenue",
            "q08_latest_event", "q41_delivery_refinement")
        }
        names.foreach { n =>
          println(s"========== $n ==========")
          SparkEntry.queries(n)(spark, dir2).explain("formatted")
        }
      case Some("explainall") =>
        // write every query's formatted physical plan to one file per
        // query — the optimization round's before/after plan evidence
        // (plans/r18/<query>_<suffix>.txt). Artifacts prewarm first so
        // consumer plans show the persisted-artifact scan, not a build.
        val dir2 = args.lift(1).getOrElse("/root/testdata/sf0.1")
        val outDir = args.lift(2).getOrElse("/root/repo/plans/r18")
        val suffix = args.lift(3).getOrElse("before")
        java.nio.file.Files.createDirectories(java.nio.file.Paths.get(outDir))
        val allNames = args.drop(4) match {
          case e if e.nonEmpty => e.toSeq
          case _ => SparkEntry.queries.keys.toSeq.sorted
        }
        Artifacts.prewarm(spark, dir2).foreach { case (fam, secs) =>
          println(f"[dev] build $fam: $secs%.2f s") }
        allNames.foreach { n =>
          val df = SparkEntry.queries(n)(spark, dir2)
          val txt = df.queryExecution.explainString(
            org.apache.spark.sql.execution.FormattedMode)
          java.nio.file.Files.write(
            java.nio.file.Paths.get(s"$outDir/${n}_$suffix.txt"),
            txt.getBytes("UTF-8"))
        }
        println(s"[dev] wrote ${allNames.size} plans to $outDir (suffix $suffix)")
      case Some("time") =>
        // cold vs warm run per query: splits plan/codegen-compile cost from
        // steady-state execution so bench tuning targets the right thing.
        // noop write, same as Bench — count() would prune UDF projections
        // and final sorts, under-measuring exactly the interesting queries
        val dir2 = args.lift(1).getOrElse("/root/testdata/sf0.1")
        args.drop(2).foreach { n =>
          val fn = SparkEntry.queries(n)
          def once(): Double = {
            val t0 = System.nanoTime()
            fn(spark, dir2).write.format("noop").mode("overwrite").save()
            val secs = (System.nanoTime() - t0) / 1e9
            spark.catalog.clearCache()
            secs
          }
          val cold = once(); val warm = once()
          println(f"[dev] $n cold=$cold%.2f s warm=$warm%.2f s")
        }
      case Some("dump") =>
        // single-query Verify: write one query's parquet so an oracle can
        // be iterated against it without the full 79-query Verify sweep.
        val dir2 = args.lift(1).getOrElse("/root/testdata/sf0.01")
        val out = args.lift(2).getOrElse("/tmp/dev_dump")
        args.drop(3).foreach { n =>
          SparkEntry.queries(n)(spark, dir2)
            .write.mode("overwrite").parquet(s"$out/$n")
          println(s"[dev] dumped $n -> $out/$n")
        }
      case Some("scale") | Some("scale30") =>
        // 10× scale sanity (default: the FULL query inventory):
        // replicate sf0.1 with shifted keys (10× rows AND 10× keys →
        // per-key state constant, the realistic growth model), then
        // compare per-query seconds vs sf0.1. A healthy operator scales
        // ≈ linearly (ratio ≈ 10 / cores-limited); a superlinear ratio
        // flags a blocking-key or candidate-pair blowup.
        // `scale30` is the build-economics variant: 30× replicas of the
        // two corpora feeding the build-heavy pipelines (dedup graph, ANN
        // indexes, labeled NB corpus, BPE table), a second scale point for
        // the artifact-store amortization argument.
        import org.apache.spark.sql.functions._
        val thirty = args.headOption.contains("scale30")
        // scale30 compares build-dominated FIRST visits at two scales —
        // a disk store warmed by an earlier session would turn its
        // builds into reads and void the comparison; give it a fresh one
        if (thirty) spark.conf.set("spark.graft.artifacts.path",
          java.nio.file.Files.createTempDirectory("graft-scale30-store").toString)
        val src = "/root/testdata/sf0.1"
        val dst = if (thirty) "/tmp/graft_sf3" else "/tmp/graft_sf1"
        val copies = if (thirty) 30 else 10
        def replicate(table: String, shifts: Map[String, Long],
            nCopies: Int = copies): Unit = {
          val out = s"$dst/$table.parquet"
          // cache keyed on a fingerprint of the source PART FILES (a
          // directory entry's own size/mtime misses in-place part
          // rewrites) + replication params — stale replicas after
          // testdata/generator changes would silently corrupt ratios
          val fp = s"${Tables.parquetFingerprint(spark, src, table)}:" +
            s"$nCopies:${shifts.toSeq.sorted.mkString(",")}"
          val marker = java.nio.file.Paths.get(s"$out.fingerprint")
          if (java.nio.file.Files.exists(java.nio.file.Paths.get(out)) &&
              java.nio.file.Files.exists(marker) &&
              new String(java.nio.file.Files.readAllBytes(marker)) == fp) return
          val base = Tables(spark, src, table)
          val parts = (0 until nCopies).map { i =>
            shifts.foldLeft(base) { case (df, (c, stride)) =>
              df.withColumn(c, col(c) + lit(i * stride))
            }
          }
          parts.reduce(_ unionByName _)
            .write.mode("overwrite").parquet(out)
          java.nio.file.Files.write(marker, fp.getBytes)
        }
        replicate("documents", Map("doc_id" -> 1000000L))
        // stride must NOT collide with q45's planted-id offset (+1_000_000)
        replicate("embeddings", Map("vec_id" -> 10000000L))
        if (!thirty) {
          replicate("events", Map("event_id" -> 10000000L, "user_id" -> 10000L))
          replicate("lineitem", Map("l_orderkey" -> 10000000L))
          replicate("orders", Map("o_orderkey" -> 10000000L, "o_custkey" -> 1000000L))
          replicate("customer", Map("c_custkey" -> 1000000L))
          // dimension tables stay FIXED as the fact side grows (a 10×
          // corpus still has 5 regions and 25 nations; lineitem's
          // l_partkey/l_suppkey aren't shifted, so part/supplier must
          // keep their key space too). Replicating them with unshifted
          // keys (the pre-r9 shape) duplicated every PK 10×, which
          // multiplied q49's nation→region join output 100× and poisoned
          // its ratio to 44× — wrong DATA, not a wrong plan.
          Seq("region", "nation", "supplier", "part").foreach(t =>
            replicate(t, Map.empty, nCopies = 1))
        }
        val names = args.drop(1) match {
          case e if e.nonEmpty => e.toSeq
          case _ if thirty => Seq("q29_minhash_lsh", "q46_ann_ivf",
            "q57_ann_pq", "q74_bpe_merges", "q92_nb_quality_classifier")
          case _ => SparkEntry.queries.keys.toSeq.sorted
        }
        // prewarm both dirs' artifact stores (the Bench/timevs protocol):
        // ratios must measure queries, not store-visit order. scale30
        // prewarms NEITHER side — its ratios compare build-dominated
        // first visits at both scales (build30/build0.1 is its point),
        // and warming only one side would make them meaningless.
        if (!thirty) Seq(src, dst).foreach { d =>
          Artifacts.prewarm(spark, d).foreach { case (fam, secs) =>
            println(f"[dev] build $fam @ $d: $secs%.2f s") }
        }
        names.foreach { n =>
          val fn = SparkEntry.queries(n)
          def run(dir: String): Double = {
            val t0 = System.nanoTime()
            // noop write = full-plan evaluation (same rationale as Bench)
            fn(spark, dir).write.format("noop").mode("overwrite").save()
            val secs = (System.nanoTime() - t0) / 1e9
            spark.catalog.clearCache() // no cross-run reuse of cached plans
            secs
          }
          run(src) // warm plan/codegen on the small size first
          val small = run(src)
          val big = run(dst)
          println(f"[dev] $n%-28s sf0.1=$small%6.2f s  ${copies}x=$big%7.2f s  ratio=${big / small}%5.1f")
        }
      case Some("timevs") =>
        // time queries at sf0.1 vs an arbitrary comparison dir (e.g. the
        // organic sf1 tree from `gensf1`) — the `scale` runner with the
        // destination taken from args instead of the replica default
        val src2 = "/root/testdata/sf0.1"
        val dst2 = args.lift(1).getOrElse("/tmp/graft_sf1n")
        // prewarm BOTH dirs' artifact stores first (same protocol as
        // Bench): per-query ratios must measure queries, not whichever
        // query happens to visit a store first. Build times print — the
        // build-cost ratio is its own scaling datum.
        Seq(src2, dst2).foreach { d =>
          Artifacts.prewarm(spark, d).foreach { case (fam, secs) =>
            println(f"[dev] build $fam @ $d: $secs%.2f s")
          }
        }
        args.drop(2).foreach { n =>
          val fn = SparkEntry.queries(n)
          def run(dir: String): Double = {
            val t0 = System.nanoTime()
            fn(spark, dir).write.format("noop").mode("overwrite").save()
            val secs = (System.nanoTime() - t0) / 1e9
            spark.catalog.clearCache()
            secs
          }
          run(src2)
          val small = run(src2)
          val big = run(dst2)
          println(f"[dev] $n%-28s sf0.1=$small%6.2f s  cmp=$big%7.2f s  ratio=${big / small}%5.1f")
        }
      case Some("q39prof") =>
        // isolate q39's first-run cost: regexp? explode? agg? sort-limit?
        import org.apache.spark.sql.functions._
        val dir2 = args.lift(1).getOrElse("/root/testdata/sf0.1")
        def time[T](label: String)(f: => T): T = {
          val t0 = System.nanoTime(); val r = f
          println(f"[dev] $label: ${(System.nanoTime()-t0)/1e9}%.2f s"); r
        }
        val docs = Tables.documents(spark, dir2)
        time("scan only")(docs.count())
        val toks = docs.select(explode(split(
          regexp_replace(lower(col("text")), "[^a-z ]", " "), "\\s+")).as("token"))
          .filter(length(col("token")) > 0)
        time("explode+regexp count")(toks.count())
        val grouped = toks.groupBy("token").agg(count(lit(1)).as("n"))
        time("grouped count")(grouped.count())
        time("full q39 (sort-limit)")(grouped.orderBy(col("n").desc, col("token")).limit(10).collect())
        time("full q39 again")(grouped.orderBy(col("n").desc, col("token")).limit(10).collect())
      case Some("q29") =>
        import org.apache.spark.sql.functions._
        import graft.functions.TextFunctions._
        val dir2 = "/root/testdata/sf0.1"
        def time[T](label: String)(f: => T): T = {
          val t0 = System.nanoTime(); val r = f
          println(f"[dev] $label: ${(System.nanoTime()-t0)/1e9}%.2f s"); r
        }
        val docsOld = Tables.documents(spark, dir2)
          .select(col("doc_id"), wordNgrams(tokens(col("text")), 3).as("shingles"))
          .filter(size(col("shingles")) > 0)
        time("docs+shingles UNBOUND count")(docsOld.count())
        val docs = Tables.documents(spark, dir2)
          .withColumn("toks", tokens(col("text")))
          .select(col("doc_id"), wordNgrams(col("toks"), 3).as("shingles"))
          .filter(size(col("shingles")) > 0)
        time("docs+shingles BOUND count")(docs.count())
        val banded = docs.select(col("doc_id"),
          explode(lshBandsUdf(8, 4)(minhashUdf(32)(col("shingles")))).as("bucket"))
        time("banded count")(banded.count())
        val cand = banded.as("a").join(banded.as("b"),
            col("a.bucket") === col("b.bucket") && col("a.doc_id") < col("b.doc_id"))
          .select(col("a.doc_id").as("d1"), col("b.doc_id").as("d2")).distinct()
        time("cand count")(cand.count())
        val fin = cand
          .join(docs.select(col("doc_id").as("d1"), col("shingles").as("sh1")), "d1")
          .join(docs.select(col("doc_id").as("d2"), col("shingles").as("sh2")), "d2")
          .withColumn("jac", size(array_intersect(col("sh1"), col("sh2"))) /
            size(array_union(col("sh1"), col("sh2"))))
          .filter(col("jac") >= 0.5)
        time("final count")(fin.count())
        time("final count again")(fin.count())
      case Some("prewarm") =>
        // build (or disk-read) every artifact family for a data dir,
        // printing per-family seconds — run TWICE from separate sbt
        // invocations with the same SPARK_GRAFT_ARTIFACTS to demonstrate
        // the cross-JVM store: the second JVM's builds are reads (~0 s)
        val d = args.lift(1).getOrElse("/root/testdata/sf0.01")
        Artifacts.prewarm(spark, d).foreach { case (fam, secs) =>
          println(f"[dev] build $fam @ $d: $secs%.2f s")
        }
      case Some("storegc") =>
        // ops maintenance: age out cold store entries (default 7 days)
        val root = graft.ArtifactStore.rootOf(spark).get
        val hours = args.lift(1).map(_.toLong).getOrElse(7L * 24)
        val gone = graft.ArtifactStore.gc(root, hours * 3600 * 1000)
        println(s"[dev] store gc @ $root: removed ${gone.size} entries")
        gone.foreach(p => println(s"[dev]   $p"))
      case Some("oracle") =>
        // print one query's oracle SQL (for DuckDB-side iteration without
        // a full Verify sweep)
        args.drop(1).foreach { n =>
          java.nio.file.Files.write(
            java.nio.file.Paths.get(s"/tmp/oracle_$n.sql"),
            SparkEntry.oracleSql(n).getBytes("UTF-8"))
          println(s"[dev] wrote /tmp/oracle_$n.sql")
        }

      case Some("gensf1") =>
        genOrganicSf1(spark, args.lift(1).getOrElse("/tmp/graft_sf1n"))

      case Some("gensf10") =>
        // the next organic decade (r16 verdict task 7): same generator,
        // fact counts ×10 past sf1 — ~500k docs, 200k vectors, 15M
        // lineitems. Pair with `timevs /tmp/graft_sf10n <queries>` for
        // the two-decade pair-family table (SCALING §6c-r17).
        genOrganic(spark, args.lift(1).getOrElse("/tmp/graft_sf10n"), 10L)

      case Some("gensf100text") =>
        // the THIRD organic decade, text/vector side only (r17 verdict
        // task 7 stretch): ~5M docs + 2M embeddings (~2 GB). The two
        // builds and the worst decade-2 families (dedup/spans/q119/
        // q123/q124) read only documents/embeddings; the relational
        // facts' laws are already measured on the replica sweeps, so the
        // 100×-scaled fact tables (~600M lineitems, ~13 GB, most of the
        // gen wall) are deliberately not generated — recorded in
        // SCALING §6c-r18.
        val dstT = args.lift(1).getOrElse("/tmp/graft_sf100t")
        if (java.nio.file.Files.exists(
            java.nio.file.Paths.get(s"$dstT/_DONE_TEXT")))
          println(s"[dev] $dstT already generated")
        else {
          genOrganicText(spark, dstT, 100L)
          java.nio.file.Files.write(
            java.nio.file.Paths.get(s"$dstT/_DONE_TEXT"),
            "organic sf100 text side".getBytes)
          println(s"[dev] organic text tree (mult=100) complete at $dstT")
        }

      case Some("verifysf1") =>
        // weekly-style ORGANIC-sf1 correctness surface (first-class, not a
        // SCALING appendix): ensure the FK-valid organic tree exists, then
        // run the full Verify dump over it — outDir then holds every
        // query's parquet + oracle_sql.json, DuckDB-comparable with
        // scripts/check.py exactly like the driver's sf0.01 gate:
        //   sbt "runMain graft.Dev verifysf1" && \
        //   python3 scripts/check.py /tmp/graft_sf1n /tmp/verify_sf1n
        val dstV = args.lift(1).getOrElse("/tmp/graft_sf1n")
        val outV = args.lift(2).getOrElse("/tmp/verify_sf1n")
        genOrganicSf1(spark, dstV)
        Verify.main(Array(dstV, outV)) // getOrCreate reuses this session

      case Some("lexprof") =>
        // per-sub-artifact pricing of the lex family (it doubled in
        // membership in r12: gram5 + dsirFeats joined lexDocs/lexDf) —
        // each timed individually against a FRESH store root, then the
        // family total, so the bench envelope can be sized per member
        val d = args.lift(1).getOrElse("/root/testdata/sf0.1")
        val subs: Seq[(String, () => Unit)] = Seq(
          "lexDocs" -> (() => { graft.operators.TextQueries.lexDocsShared(spark, d); () }),
          "lexDf" -> (() => { graft.operators.TextQueries.lexDfShared(spark, d); () }),
          "gram5" -> (() => { graft.operators.TextQueries.gram5Shared(spark, d); () }),
          "dsirFeats" -> (() => { graft.operators.TextQueries.dsirFeatsShared(spark, d); () }))
        (1 to 2).foreach { rep =>
          spark.conf.set("spark.graft.artifacts.path", java.nio.file.Files
            .createTempDirectory("graft-lexprof-store").toString)
          Artifacts.dropSessionCaches()
          var total = 0.0
          subs.foreach { case (name, build) =>
            val t0 = System.nanoTime()
            build()
            val secs = (System.nanoTime() - t0) / 1e9
            total += secs
            println(f"[dev] rep$rep lex/$name%-10s $secs%6.2f s")
          }
          println(f"[dev] rep$rep lex total     $total%6.2f s")
        }

      case Some("dedupfresh") =>
        // price incremental dedup-graph refresh vs full rebuild
        // (SCALING §5): 80/20 base/delta split of the documents table
        import org.apache.spark.sql.functions._
        import graft.operators.DedupMaintenance
        val ddir = args.lift(1).getOrElse("/root/testdata/sf0.1")
        def dtime[T](label: String)(f: => T): T = {
          val t0 = System.nanoTime(); val r = f
          println(f"[dev] $label: ${(System.nanoTime()-t0)/1e9}%.2f s"); r
        }
        // delta = 2% of the corpus — the realistic daily-segment shape;
        // a 20% delta amortizes nothing at these corpus sizes (measured)
        val dAll = Tables.documents(spark, ddir).select("doc_id", "text")
        val dBase = dAll.filter(col("doc_id") % 50 =!= 3)
        val dDelta = dAll.filter(col("doc_id") % 50 === 3)
        println(s"[dev] base=${dBase.count()} delta=${dDelta.count()}")
        val g0 = dtime("build base graph")(DedupMaintenance.build(dBase))
        g0.labels.count()
        dtime("incremental refresh")(
          DedupMaintenance.refresh(g0, dDelta).labels.count())
        dtime("full rebuild")(DedupMaintenance.build(dAll).labels.count())

      case Some("lexfresh") =>
        // price incremental lexical-index + LM-count refresh vs full
        // rebuild (SCALING §5c): 2% delta, the dedupfresh protocol
        import org.apache.spark.sql.functions._
        import graft.operators.CorpusStatsMaintenance
        val ldir = args.lift(1).getOrElse("/root/testdata/sf0.1")
        def ltime[T](label: String)(f: => T): T = {
          val t0 = System.nanoTime(); val r = f
          println(f"[dev] $label: ${(System.nanoTime()-t0)/1e9}%.2f s"); r
        }
        val lAll = Tables.documents(spark, ldir).select("doc_id", "text")
        val lBase = lAll.filter(col("doc_id") % 50 =!= 3)
        val lDelta = lAll.filter(col("doc_id") % 50 === 3)
        println(s"[dev] base=${lBase.count()} delta=${lDelta.count()}")
        val lex0 = ltime("build base lex index")(
          CorpusStatsMaintenance.buildLex(lBase))
        val lm0 = ltime("build base lm counts")(
          CorpusStatsMaintenance.buildLm(lBase))
        ltime("incremental lex refresh")(
          CorpusStatsMaintenance.refreshLex(lex0, lDelta).df.count())
        ltime("incremental lm refresh")(
          CorpusStatsMaintenance.refreshLm(lm0, lDelta).c2.count())
        ltime("full lex rebuild")(
          CorpusStatsMaintenance.buildLex(lAll).df.count())
        ltime("full lm rebuild")(
          CorpusStatsMaintenance.buildLm(lAll).c2.count())

      case Some("buildone") =>
        // time ONE artifact family's cold build against a fresh store
        // root — the sf100 third-decade harness: a full Artifacts
        // prewarm would run EVERY family, including builds priced as
        // infeasible at that scale (the uncapped dedup join), so the
        // feasible families are measured one at a time.
        val famB = args.lift(1).getOrElse("spans")
        val dirB1 = args.lift(2).getOrElse("/root/testdata/sf0.1")
        spark.conf.set("spark.graft.artifacts.path",
          java.nio.file.Files.createTempDirectory("graft-buildone").toString)
        Artifacts.dropSessionCaches()
        val thunkB = Artifacts.families(spark, dirB1).toMap.apply(famB)
        val t0B = System.nanoTime()
        thunkB()
        println(f"[dev] buildone $famB $dirB1: ${(System.nanoTime() - t0B) / 1e9}%.1f s")

      case Some("ivfprof") =>
        // stage-by-stage timing of the IVF build (train / super / corpus
        // assignment) — the r15 build-law tuning loop
        val dir2 = args.lift(1).getOrElse("/root/testdata/sf0.1")
        def tt[T](label: String)(f: => T): T = {
          val t0 = System.nanoTime(); val r = f
          println(f"[dev] ivfprof $label: ${(System.nanoTime()-t0)/1e9}%.2f s"); r
        }
        val ivfE = Tables.embeddings(spark, dir2).localCheckpoint()
        println(s"[dev] ivfprof n=${ivfE.count()}")
        val ivfCent = tt("trainCells")(
          graft.operators.VectorQueries.trainCells(ivfE))
        val (ivfSup, ivfMap, _) = tt("superQuantizer")(
          graft.operators.VectorQueries.superQuantizer(ivfCent))
        println(s"[dev] ivfprof cells=${ivfCent.count()} supers=${ivfSup.count()} mapped=${ivfMap.count()}")
        tt("assignCells (warm super cache)")(
          graft.operators.VectorQueries.assignCells(ivfE, ivfCent)
            .localCheckpoint().count())
        // the small-nlist floor question (r15 task 7): is the two-hop
        // job overhead worth dodging below some nlist? exact is one
        // broadcast join at N·nlist pairs
        tt("assignCellsExact (reference)")(
          graft.operators.VectorQueries.assignCellsExact(ivfE, ivfCent)
            .localCheckpoint().count())

      case Some("q119prof") =>
        // attribute q119's replica-ratio creep (2.0× r14 → 2.3× r15):
        // is it the cell-size distribution under the sampled training
        // (Σ|cell|² is q119's pair work), the two-level assignment, or
        // window noise? Prints the census at both dirs + repeated
        // timings.
        import org.apache.spark.sql.functions._
        for (d <- Seq("/root/testdata/sf0.1", args.lift(1).getOrElse("/tmp/graft_sf1"))) {
          Artifacts.prewarm(spark, d)
          val e119 = Tables.embeddings(spark, d)
          val cent119 = graft.operators.VectorQueries.trainCellsShared(spark, d, e119)
          val asg = graft.operators.VectorQueries
            .assignCellsShared(spark, d, e119, cent119)
          val cen = asg.groupBy("cell").agg(count(lit(1)).as("n"))
            .agg(count(lit(1)).as("cells"), max("n").as("maxc"),
              sum(col("n") * col("n")).as("sumsq"), sum("n").as("n"))
            .head()
          println(s"[dev] q119prof $d cells=${cen.getLong(0)} max|cell|=" +
            s"${cen.getLong(1)} sum|cell|^2=${cen.getLong(2)} n=${cen.getLong(3)}")
          val fn = SparkEntry.queries("q119_semdedup")
          for (i <- 1 to 3) {
            val t0 = System.nanoTime()
            fn(spark, d).write.format("noop").mode("overwrite").save()
            println(f"[dev] q119prof $d run$i: ${(System.nanoTime() - t0) / 1e9}%.2f s")
            spark.catalog.clearCache()
          }
        }

      case Some("prunebench") =>
        // Admission-store pruning at REALISTIC batch shapes (r15 verdict
        // task 2): the AdmissionPruningSpec proves a one-doc batch
        // prunes; this measures what a {1,10,100}-doc batch actually
        // scans against an 8-epoch store at fan-outs K ∈ {16,256,2048}.
        // The store key is the minhash band bucket (~32 distinct keys
        // per doc), so a B-doc batch carries ≈ 32·B keys and touches
        // min(32·B, K) buckets — the measured scanned/store file ratio
        // is the number behind the sizing rule's 100× story: per-batch
        // IO ≈ min(batchKeys, K) · (store bytes / K), which the
        // lifecycle pins at batchKeys · TargetBucketBytes by growing K
        // with the store.
        import org.apache.spark.sql.functions._
        import graft.streaming.{AdmissionStore, NearDupAdmission}
        import spark.implicits._
        def pbAlpha(n: Int): String =
          s"${(97 + n % 26).toChar}${(97 + (n / 26) % 26).toChar}${(97 + (n / 676) % 26).toChar}${(97 + (n / 17576) % 26).toChar}"
        val pbWords = Seq("alpha", "bravo", "charlie", "delta", "echo",
          "foxtrot", "golf", "hotel", "india", "juliet", "kilo", "lima")
        def pbDoc(i: Int): String =
          (0 until 8).map(k =>
            pbWords((i * 7 + k * 3) % pbWords.size) + pbAlpha(i * 8 + k))
            .mkString(" ")
        def scanFiles(df: org.apache.spark.sql.DataFrame): Long = {
          // collect(), not a noop write: the write path builds its OWN
          // QueryExecution, leaving this df's scan metrics at zero
          df.collect()
          df.queryExecution.executedPlan.collect {
            case f: org.apache.spark.sql.execution.FileSourceScanExec => f
          }.map(_.metrics("numFiles").value).sum
        }
        def allFiles(root: String): Long = {
          val st = java.nio.file.Files.walk(java.nio.file.Paths.get(root))
          try {
            import scala.jdk.CollectionConverters._
            st.iterator().asScala.count(p =>
              java.nio.file.Files.isRegularFile(p) &&
                p.getFileName.toString.startsWith("part-"))
          } finally st.close()
        }
        // K=2048 was tried once: the 8-epoch store scattered 42k files
        // (~26 rows each) — the small-files cost that makes chooseK size
        // from BYTES instead of maximizing K; not a useful steady point
        for (k <- Seq(16, 256)) {
          val store = java.nio.file.Files
            .createTempDirectory(s"prunebench_k$k").toString
          val keptD = java.nio.file.Files
            .createTempDirectory(s"prunebench_kept$k").toString
          val hint = AdmissionStore.TargetBucketBytes * k
          for (ep <- 0 until 8) {
            val batch = (ep * 1000 until ep * 1000 + 200)
              .map(i => (i.toLong, pbDoc(i))).toDF("doc_id", "text")
            NearDupAdmission.admit(batch, ep.toLong, store, keptD,
              expectedStoreBytes = hint)
          }
          val bands = s"$store/bands"
          require(AdmissionStore.layoutK(spark, bands).contains(k),
            s"hint did not yield K=$k")
          val total = allFiles(bands)
          for (b <- Seq(1, 10, 100)) {
            val probe = (900000 until 900000 + b)
              .map(i => (i.toLong, pbDoc(i))).toDF("doc_id", "text")
            val banded = graft.operators.TextQueries.bandedOf(
              probe.select(col("doc_id"),
                graft.functions.TextFunctions.wordNgramsUdf(3)(col("text"))
                  .as("shingles")))
            val touched = AdmissionStore
              .touchedBuckets(banded, col("bucket"), k)
            val scanned = scanFiles(
              AdmissionStore.readTouched(spark, bands, touched))
            println(f"[dev] prunebench K=$k%-5d batch=$b%-4d touched=${touched.size}%-5d files=$scanned/$total ratio=${scanned.toDouble / total}%.3f")
          }
        }

      case Some("lshcand") =>
        // LSH candidate-volume census for a corpus dir: Σ bucket² is the
        // band self-join's candidate count — the quantity behind the
        // dedup BUILD's scaling (q29's query cost reads the persisted
        // graph; the build pays the join). Attributes the organic-sf10
        // build ratio (§6c-r17). With a second CAP argument, also
        // censuses the capped batch mode's candidate stage (r17 task 1):
        // exact-collapse to representatives, then ΣB² with over-cap
        // buckets dropped — the measured ΣB² cut SCALING §6c records.
        import org.apache.spark.sql.functions._
        val dirL = args.lift(1).getOrElse("/root/testdata/sf0.1")
        val capL = args.lift(2).map(_.toInt).getOrElse(0)
        val docsL = Tables.documents(spark, dirL)
          .select(col("doc_id"),
            graft.functions.TextFunctions.wordNgramsUdf(3)(col("text"))
              .as("shingles"))
          .filter(size(col("shingles")) > 0)
          .localCheckpoint()
        val bandedL = graft.operators.TextQueries.bandedOf(docsL)
        val stats = bandedL.groupBy("bucket").agg(count(lit(1)).as("n"))
          .agg(count(lit(1)).as("buckets"), sum(col("n") * col("n")).as("cand"),
            max(col("n")).as("maxb"), sum(col("n")).as("rows"))
          .head()
        println(s"[dev] lshcand $dirL: bandRows=${stats.getAs[Long]("rows")} " +
          s"buckets=${stats.getAs[Long]("buckets")} maxBucket=${stats.getAs[Long]("maxb")} " +
          s"sumB2=${stats.getAs[Long]("cand")}")
        if (capL > 0) {
          val keyedL = docsL.withColumn("gh", md5(to_json(col("shingles"))))
          val repsL = docsL.join(
            keyedL.groupBy(col("gh")).agg(min(col("doc_id")).as("doc_id"))
              .select(col("doc_id")), "doc_id")
          val nDocs = docsL.count(); val nReps = repsL.count()
          val perB = graft.operators.TextQueries.bandedOf(repsL)
            .groupBy("bucket").agg(count(lit(1)).as("n"))
          val capped = perB.filter(col("n") <= capL)
            .agg(count(lit(1)).as("buckets"), sum(col("n") * col("n")).as("cand"),
              max(col("n")).as("maxb"))
            .head()
          val dropped = perB.filter(col("n") > capL)
            .agg(coalesce(count(lit(1)), lit(0L)).as("hot"),
              coalesce(sum(col("n") * col("n")), lit(0L)).as("cand"))
            .head()
          println(s"[dev] lshcand $dirL cap=$capL: docs=$nDocs reps=$nReps " +
            s"cappedSumB2=${capped.getAs[Long]("cand")} " +
            s"cappedMaxBucket=${capped.getAs[Long]("maxb")} " +
            s"hotBuckets=${dropped.getAs[Long]("hot")} " +
            s"droppedSumB2=${dropped.getAs[Long]("cand")}")
        }

      case Some("simhashcand") =>
        // r17 verdict task 4: the simhash bandBits law MEASURED at scale.
        // For each width: Σ bucket² over the band table (the candidate
        // join's volume — the bands·n²/2^bits law) and the full q124
        // wall under that conf. Any valid width keeps the keep set
        // bit-for-bit (pigeonhole completeness, spec-pinned); what the
        // knob trades is candidate volume vs banding slack. → SCALING §6c.
        import org.apache.spark.sql.functions._
        val dirS = args.lift(1).getOrElse("/root/testdata/sf0.1")
        val bitsL = { val l = args.drop(2).map(_.toInt)
          if (l.isEmpty) Seq(16, 32) else l.toSeq }
        val shS = Tables.documents(spark, dirS)
          .select(col("doc_id"), graft.functions.TextFunctions
            .simhashNonEmptyUdf(graft.functions.TextFunctions.tokens(col("text")))
            .as("sim"))
          .filter(col("sim").isNotNull)
          .localCheckpoint()
        for (bits <- bitsL) {
          // widths past the completeness frontier (bands <= hammingMax)
          // run under the DECLARED-lossy conf — that is the point of
          // measuring them: candidate collapse vs the recorded miss set
          val lossyS = 64 / bits <= graft.operators.TextQueries.SimhashHammingMax
          val bandedS = shS.select(col("doc_id"),
            explode(graft.operators.TextQueries
              .simhashBandKeys(col("sim"), bits, lossyS)).as("bucket"))
          val st = bandedS.groupBy("bucket").agg(count(lit(1)).as("n"))
            .agg(count(lit(1)).as("buckets"),
              sum(col("n") * col("n")).as("cand"), max(col("n")).as("maxb"))
            .head()
          spark.conf.set(
            graft.operators.TextQueries.SimhashBandBitsConf, bits.toString)
          if (lossyS) spark.conf.set(
            graft.operators.TextQueries.SimhashLossyBandsConf, "true")
          val t0 = System.nanoTime()
          val rows = graft.operators.TextQueries
            .defs("q124_simhash_keep")(spark, dirS)
            .collect()
          val secs = (System.nanoTime() - t0) / 1e9
          val keptN = rows.map(_.getAs[Long]("n_kept")).sum
          val keptSum = rows.map(_.getAs[Long]("id_checksum")).sum
          spark.conf.unset(graft.operators.TextQueries.SimhashBandBitsConf)
          spark.conf.unset(graft.operators.TextQueries.SimhashLossyBandsConf)
          println(f"[dev] simhashcand $dirS bits=$bits bands=${64 / bits} " +
            f"lossy=$lossyS " +
            f"buckets=${st.getAs[Long]("buckets")} maxBucket=${st.getAs[Long]("maxb")} " +
            f"sumB2=${st.getAs[Long]("cand")} q124wall=$secs%.1f s " +
            f"kept=$keptN idsum=$keptSum")
        }

      case Some("dedupbuild") =>
        // Wall-clock of the batch dedup pair-graph BUILD, uncapped vs the
        // saturation pre-pass (r17 verdict task 1): runs the direct build
        // (no artifact store — genuinely cold within this JVM) under the
        // given spark.graft.dedup.maxBucket and reports pairs + wall, so
        // the capped mode's ΣB² cut and its recall cost (pairs dropped)
        // are measured on the same tree in the same session.
        import org.apache.spark.sql.functions._
        val dirD = args.lift(1).getOrElse("/root/testdata/sf0.1")
        for (capD <- args.drop(2).map(_.toInt)) {
          if (capD > 0) spark.conf.set(
            graft.operators.TextQueries.DedupMaxBucketConf, capD.toString)
          else spark.conf.unset(graft.operators.TextQueries.DedupMaxBucketConf)
          val t0 = System.nanoTime()
          val n = graft.operators.TextQueries
            .lshNeardupPairs(spark, dirD, 0.5).count()
          val secs = (System.nanoTime() - t0) / 1e9
          println(f"[dev] dedupbuild dir=$dirD cap=$capD pairs=$n wall=$secs%.1f s")
        }
        spark.conf.unset(graft.operators.TextQueries.DedupMaxBucketConf)

      case Some("satprofile") =>
        // r18 verdict task 1: the NAMED saturation production profile
        // ([[TextQueries.SaturationProductionProfile]] — dedup
        // maxBucket=100 + simhash bandBits=32 declared-lossy), applied
        // VERBATIM from the code constant and measured in one run
        // against the oracle-checked defaults on the same tree: the
        // dedup pair-graph build wall + surviving pairs, and the q124
        // wall + kept docs. The recall trade prints next to the
        // numbers (pairs/kept deltas vs the default row). → SCALING
        // §6c-r19. `satprofile <dir> profileonly` skips the defaults
        // side — the sf100 third-decade run, where BOTH default laws
        // are measured-infeasible in this sandbox (dedup 458 s and
        // q124 42–85 s at sf10 under ~n²-family laws → hours at 100×;
        // the two-decade extrapolations are recorded in SCALING
        // §6c-r19 instead).
        import org.apache.spark.sql.functions._
        val dirP = args.lift(1).getOrElse("/tmp/graft_sf10n")
        val profileOnly = args.lift(2).contains("profileonly")
        case class Row19(label: String, pairs: Long, dedupWall: Double,
          kept: Long, q124Wall: Double)
        def measure(label: String): Row19 = {
          val t0 = System.nanoTime()
          val pairs = graft.operators.TextQueries
            .lshNeardupPairs(spark, dirP, 0.5).count()
          val dW = (System.nanoTime() - t0) / 1e9
          val t1 = System.nanoTime()
          val kept = graft.operators.TextQueries
            .defs("q124_simhash_keep")(spark, dirP)
            .collect().map(_.getAs[Long]("n_kept")).sum
          val qW = (System.nanoTime() - t1) / 1e9
          val r = Row19(label, pairs, dW, kept, qW)
          println(f"[dev] satprofile $dirP $label: dedup pairs=$pairs " +
            f"wall=$dW%.1f s | q124 kept=$kept wall=$qW%.1f s")
          r
        }
        val defaults =
          if (profileOnly) None
          else Some(measure("defaults (cap off, bandBits=16)"))
        graft.operators.TextQueries.SaturationProductionProfile
          .foreach { case (k, v) => spark.conf.set(k, v) }
        val prof = measure("saturation-production profile")
        graft.operators.TextQueries.SaturationProductionProfile
          .foreach { case (k, _) => spark.conf.unset(k) }
        defaults.foreach { d =>
          println(f"[dev] satprofile trade: dedup wall ÷${
            d.dedupWall / prof.dedupWall}%.2f with ${
            d.pairs - prof.pairs} of ${d.pairs} true pairs " +
            f"dropped; q124 wall ÷${d.q124Wall / prof.q124Wall}%.2f " +
            f"with ${prof.kept - d.kept} extra docs kept " +
            "(missed multi-bit dups — under-drop only)")
        }

      case Some("lockbench") =>
        // r17 verdict task 6: price the maintenance election's per-batch
        // overhead. writeEpoch performs TWO lock-freshness checks (entry
        // + rename-ε), each an exists() and — only when a lock file is
        // present — one getFileStatus mtime read. Measured here: the
        // shipped per-batch wall (checks included) and the raw per-check
        // cost in both the absent (steady-state) and present (the 15-min
        // staleness window) cases. Numbers → SCALING §2f-r18.
        import org.apache.spark.sql.functions._
        import graft.streaming.AdmissionStore
        val rootLb = java.nio.file.Files.createTempDirectory("lockbench")
          .toString
        val tableLb = s"$rootLb/bands"
        val nEp = 40
        val t0Lb = System.nanoTime()
        for (ep <- 0 until nEp)
          AdmissionStore.writeEpoch(
            spark.range(1000).select(
              concat(lit("b"), pmod(col("id"), lit(50))).as("bucket"),
              col("id").as("doc_id")),
            col("bucket"), tableLb, ep.toLong)
        val perBatchMs = (System.nanoTime() - t0Lb) / 1e6 / nEp
        val fsLb = new org.apache.hadoop.fs.Path(tableLb).getFileSystem(
          spark.sparkContext.hadoopConfiguration)
        val lockLb = new org.apache.hadoop.fs.Path(s"${tableLb}_maint.lock")
        def checkUs(n: Int): Double = {
          var acc = 0
          val t1 = System.nanoTime()
          for (_ <- 0 until n)
            if (fsLb.exists(lockLb) && System.currentTimeMillis() -
              fsLb.getFileStatus(lockLb).getModificationTime <=
              AdmissionStore.MaintLockStaleMs) acc += 1
          ((System.nanoTime() - t1) / 1e3 / n) + 0 * acc
        }
        val absentUs = checkUs(20000)
        java.nio.file.Files.createFile(java.nio.file.Paths.get(
          s"${tableLb}_maint.lock"))
        val presentUs = checkUs(20000)
        java.nio.file.Files.delete(java.nio.file.Paths.get(
          s"${tableLb}_maint.lock"))
        println(f"[dev] lockbench perBatch=$perBatchMs%.1f ms " +
          f"check(absent)=$absentUs%.2f us check(present)=$presentUs%.2f us " +
          f"=> 2 checks = ${200 * absentUs / 1e3 / perBatchMs}%.5f%% of a batch")

      case Some("rebucketbench") =>
        // Re-bucket rewrite cost at two store sizes (r16 verdict task 4):
        // rebucket is a full-store rewrite, so its per-step cost must
        // scale ~linearly with store bytes, and the LIFECYCLE amortizes
        // it geometrically — maintain() fires when bytes/K crosses the
        // target, i.e. roughly when the store has DOUBLED since its last
        // re-bucket, so the total rewrite volume over a store's life is
        // S + S/2 + S/4 + … ≈ 2× its final size (and strictly less when
        // maintenance is rarer: chooseK jumps straight to the final K′,
        // one rewrite covering several doublings). Numbers → SCALING
        // §2f-r17.
        import org.apache.spark.sql.functions._
        import graft.streaming.AdmissionStore
        def buildStore(rows: Long): String = {
          val store = java.nio.file.Files
            .createTempDirectory(s"rebucketbench_$rows").toString + "/bands"
          for (ep <- 0 until 8) {
            val df = spark.range(rows / 8)
              .select(concat(lit("b"), pmod(col("id") * 31 + ep, lit(50000)))
                .as("bucket"), (col("id") + ep * rows).as("doc_id"))
            AdmissionStore.writeEpoch(df, col("bucket"), store, ep.toLong)
          }
          store
        }
        def bytesOf(store: String): Long = {
          val st = java.nio.file.Files.walk(java.nio.file.Paths.get(store))
          try {
            import scala.jdk.CollectionConverters._
            st.iterator().asScala.filter(p =>
              java.nio.file.Files.isRegularFile(p) &&
                !p.getFileName.toString.startsWith(".")).map(
              java.nio.file.Files.size(_)).sum
          } finally st.close()
        }
        // unprinted warmup: the first rewrite of a session absorbs
        // plan/codegen/shuffle-machinery init that would otherwise make
        // the SMALL store look slower than the big one
        AdmissionStore.rebucket(spark, buildStore(100000L), col("bucket"), 64)
        // both orders in one run: at test scale the rewrite is task/
        // file-count bound (equal file counts at both sizes), so the
        // size effect must be read against the order/noise effect
        for (rows <- Seq(1600000L, 400000L, 1600000L, 400000L)) {
          val store = buildStore(rows)
          val bytes = bytesOf(store)
          def nFiles(root: String): Long = {
            val st = java.nio.file.Files.walk(java.nio.file.Paths.get(root))
            try {
              import scala.jdk.CollectionConverters._
              st.iterator().asScala.count(p =>
                java.nio.file.Files.isRegularFile(p) &&
                  p.getFileName.toString.startsWith("part-")).toLong
            } finally st.close()
          }
          val filesIn = nFiles(store)
          // the store's ACTUAL pre-rebucket K (stamped by chooseK(0) at
          // first write) — printed rather than assumed, so the label
          // stays honest if DefaultBuckets ever changes
          val kIn = AdmissionStore.layoutK(spark, store)
            .getOrElse(sys.error(s"rebucketbench: no _PBK stamp in $store"))
          val t0 = System.nanoTime()
          AdmissionStore.rebucket(spark, store, col("bucket"), 64)
          val secs = (System.nanoTime() - t0) / 1e9
          require(AdmissionStore.layoutK(spark, store).contains(64))
          val rowsBack = spark.read.parquet(store).count()
          println(f"[dev] rebucketbench rows=$rows%-9d bytes=${bytes / 1048576.0}%.1f MiB filesIn=$filesIn filesOut=${nFiles(store)} $kIn->64 in $secs%.2f s (${bytes / 1048576.0 / secs}%.1f MiB/s) rowsBack=$rowsBack")
        }

      case Some("admissionhandoff") =>
        // Cross-JVM lifecycle handoff (r16 verdict task 5): one JVM
        // writes + re-buckets (phase "write"), a FRESH JVM (phase
        // "read") routes purely from the persisted _PBK stamp and must
        // (a) prune to a fraction of the store's files and (b) still
        // gate a clone. Run as two separate `sbt runMain` invocations so
        // the second genuinely starts with cold caches (the
        // ArtifactStore measured-handoff pattern).
        import org.apache.spark.sql.functions._
        import graft.streaming.{AdmissionStore, NearDupAdmission}
        import spark.implicits._
        val phase = args.lift(1).getOrElse("write")
        val root = args.lift(2).getOrElse("/tmp/graft_admission_handoff")
        val store = s"$root/store"; val kept = s"$root/kept"
        def hAlpha(n: Int): String =
          s"${(97 + n % 26).toChar}${(97 + (n / 26) % 26).toChar}${(97 + (n / 676) % 26).toChar}"
        def hDoc(i: Int): String = (0 until 8).map(k =>
          s"word${hAlpha((i * 7 + k) % 13)} tok${hAlpha(i * 8 + k)}").mkString(" ")
        phase match {
          case "write" =>
            val r = java.nio.file.Paths.get(root)
            if (java.nio.file.Files.exists(r)) {
              val st = java.nio.file.Files.walk(r)
              try {
                import scala.jdk.CollectionConverters._
                st.sorted(java.util.Comparator.reverseOrder())
                  .iterator().asScala.foreach(java.nio.file.Files.delete(_))
              } finally st.close()
            }
            for (ep <- 0 until 3)
              NearDupAdmission.admit((ep * 100 until ep * 100 + 60)
                .map(i => (i.toLong, hDoc(i))).toDF("doc_id", "text"),
                ep.toLong, store, kept)
            val bands = s"$store/bands"
            val bytes = AdmissionStore
              .widthSignal(spark, bands, AdmissionStore.TargetBucketBytes)
              .storeBytes
            // force the lifecycle across the boundary: target sized so
            // the suggested K lands at 64
            val reports = NearDupAdmission.maintain(spark, store,
              math.max(1L, bytes / 64 + 1))
            require(reports.exists(r2 => r2.rebucketed && r2.k == 64),
              s"write phase did not re-bucket to 64: $reports")
            println(s"[dev] admissionhandoff write: store=$store " +
              s"K=${AdmissionStore.layoutK(spark, bands)} " +
              "— now run: runMain graft.Dev admissionhandoff read")
          case "read" =>
            val bands = s"$store/bands"
            val k = AdmissionStore.layoutK(spark, bands).getOrElse(
              sys.error("no _PBK — run the write phase first"))
            require(k == 64, s"fresh JVM read a wrong stamp: K=$k")
            // pruned probe: one doc touches ≤32 of the 64 buckets
            val probe = Seq((9999L, hDoc(1))).toDF("doc_id", "text")
            val banded = graft.operators.TextQueries.bandedOf(
              probe.select(col("doc_id"),
                graft.functions.TextFunctions.wordNgramsUdf(3)(col("text"))
                  .as("shingles")))
            val touched = AdmissionStore.touchedBuckets(banded, col("bucket"), k)
            val pruned = AdmissionStore.readTouched(spark, bands, touched)
            pruned.collect()
            val scanned = pruned.queryExecution.executedPlan.collect {
              case f: org.apache.spark.sql.execution.FileSourceScanExec => f
            }.map(_.metrics("numFiles").value).sum
            val st = java.nio.file.Files.walk(java.nio.file.Paths.get(bands))
            val total = try {
              import scala.jdk.CollectionConverters._
              st.iterator().asScala.count(p =>
                java.nio.file.Files.isRegularFile(p) &&
                  p.getFileName.toString.startsWith("part-"))
            } finally st.close()
            require(scanned < total,
              s"fresh JVM did not prune: $scanned of $total files")
            // and the re-bucketed store still GATES from this JVM: the
            // clone of an admitted doc drops, the fresh doc lands
            NearDupAdmission.admit(
              Seq((5000L, hDoc(17)), (5001L, hDoc(7000)))
                .toDF("doc_id", "text"), 9L, store, kept)
            val kept9 = spark.read.parquet(s"$kept/epoch=9")
              .select("doc_id").collect().map(_.getLong(0)).toSet
            require(kept9 == Set(5001L),
              s"fresh JVM misjudged the handoff store: $kept9")
            println(f"[dev] admissionhandoff read: OK — fresh JVM routed " +
              f"with stamped K=$k, scanned $scanned/$total files " +
              f"(${scanned.toDouble / total}%.3f), clone blocked, fresh admitted")
          case other => sys.error(s"unknown handoff phase $other")
        }

      case Some("skew") =>
        // Zipf-stress variant of the 10× replica (r15): SAME documents
        // row count as /tmp/graft_sf1 (run `scale` first — ratios below
        // are skew/uniform at equal size, isolating key-skew cost from
        // data growth), but (a) a hot 40-token template is prefixed onto
        // ~5% of every shifted copy — ONE hot key family in every
        // census shuffle (bigrams for q67, 5-gram chunks for q89/q104,
        // stride-1 windows for q117) — and (b) a 300-doc near-dup
        // family (shared template + one unique token each) stresses
        // q52's component fixpoint with a giant component. The
        // unbounded-key shuffles had only ever been measured under
        // uniform replicas.
        import org.apache.spark.sql.functions._
        val src = "/root/testdata/sf0.1"
        val uni = "/tmp/graft_sf1"
        require(new java.io.File(s"$uni/documents.parquet").exists(),
          "run `Dev scale` first: the uniform replica is the denominator")
        val dst = "/tmp/graft_sfskew"
        def alphaTok(n: Int): String =
          s"${(97 + n % 26).toChar}${(97 + (n / 26) % 26).toChar}${(97 + (n / 676) % 26).toChar}"
        val hotTpl = (0 until 40).map(k => "skewhot" + alphaTok(k)).mkString(" ")
        val famTpl = (0 until 30).map(k => "skewfam" + alphaTok(k)).mkString(" ")
        val out = s"$dst/documents.parquet"
        val fp = s"${Tables.parquetFingerprint(spark, src, "documents")}:skew3"
        val marker = java.nio.file.Paths.get(s"$out.fingerprint")
        if (!(java.nio.file.Files.exists(java.nio.file.Paths.get(out)) &&
            java.nio.file.Files.exists(marker) &&
            new String(java.nio.file.Files.readAllBytes(marker)) == fp)) {
          val base = Tables.documents(spark, src)
          val copies = (0 until 10).map { i =>
            val shifted = base.withColumn("doc_id",
              col("doc_id") + lit(i * 1000000L))
            if (i == 0) shifted
            else shifted.withColumn("text",
              when(col("doc_id") % 20 === (i % 20),
                concat(lit(hotTpl + " "), col("text")))
                .otherwise(col("text")))
          }
          // the near-dup family REPLACES 300 uniform-replica rows (keeps
          // row counts identical): shared 30-token template + one unique
          // token → pairwise shingle jaccard ~0.9, one 300-node component
          val famIds = (0 until 300).map(i => 100000000L + i) // outside every copy range
          val fam = spark.createDataFrame(famIds.map(id =>
              (id, s"$famTpl ztail${alphaTok((id % 300).toInt)}", "en",
                "skewfam", (famTpl.length + 9).toLong)))
            .toDF("doc_id", "text", "lang", "source", "n_chars")
          copies.reduce(_ unionByName _)
            .limit(base.count().toInt * 10 - 300)
            .unionByName(fam)
            // GlobalLimit funnels to one partition → one giant row group
            // → a single-task scan for every consumer; re-spread so the
            // comparison measures keys, not a degenerate layout
            .repartition(10, col("doc_id"))
            .write.mode("overwrite").parquet(out)
          java.nio.file.Files.write(marker, fp.getBytes)
        }
        val names = if (args.drop(1).nonEmpty) args.drop(1).toSeq
          else Seq("q67_bigram_surprisal", "q89_passage_dedup",
            "q104_boilerplate_chunks", "q117_dup_spans", "q52_dedup_components")
        Seq(uni, dst).foreach { d =>
          Artifacts.prewarm(spark, d).foreach { case (fam2, secs) =>
            println(f"[dev] skew build $fam2 @ $d: $secs%.2f s") }
        }
        names.foreach { n =>
          val fn = SparkEntry.queries(n)
          def run(dir: String): Double = {
            val t0 = System.nanoTime()
            fn(spark, dir).write.format("noop").mode("overwrite").save()
            val secs = (System.nanoTime() - t0) / 1e9
            spark.catalog.clearCache(); secs
          }
          run(uni); run(dst) // cold pass: plan+codegen, absorbed
          val u = run(uni); val k = run(dst)
          println(f"[dev] skew $n%-28s uniform=$u%6.2f s  skewed=$k%6.2f s  ratio=${k / u}%5.1f")
        }

      case Some("ivfrefresh") =>
        // price incremental index refresh vs full rebuild (SCALING §5):
        // 80/20 base/delta split, one timed refresh (frozen centroids,
        // delta-only assignment) vs one timed from-scratch rebuild on
        // the same combined corpus
        import org.apache.spark.sql.functions._
        import graft.operators.IndexMaintenance
        val dir2 = args.lift(1).getOrElse("/root/testdata/sf0.1")
        def time[T](label: String)(f: => T): T = {
          val t0 = System.nanoTime(); val r = f
          println(f"[dev] $label: ${(System.nanoTime()-t0)/1e9}%.2f s"); r
        }
        val e = Tables.embeddings(spark, dir2)
        val base = e.filter(col("vec_id") < 20 || col("vec_id") % 5 =!= 3)
        val delta = e.filter(col("vec_id") >= 20 && col("vec_id") % 5 === 3)
          .select(col("vec_id"), col("embedding"))
        println(s"[dev] base=${base.count()} delta=${delta.count()}")
        val idx = time("build base index")(IndexMaintenance.buildIvf(base))
        idx.assigned.count() // force
        val (_, rep) = time("incremental refresh")(
          IndexMaintenance.refreshIvf(idx, delta) match {
            case (i2, r) => i2.assigned.count(); (i2, r) })
        println(s"[dev] $rep")
        time("full rebuild")(IndexMaintenance.buildIvf(e).assigned.count())

      case Some("annquality") =>
        // measured ANN quality/speed table: each approximate variant's
        // returned (q_id, neighbor_id) pairs vs q33's exact top-10, with
        // warm per-query seconds. First pass builds the shared index
        // artifacts (IVF centroids, PQ codebook/codes) so the timed pass
        // prices query cost, the deployed shape.
        import org.apache.spark.sql.DataFrame
        val qdir = args.lift(1).getOrElse("/root/testdata/sf0.1")
        val variants = Seq("q33_ann_bruteforce", "q34_ann_srp",
          "q37_ann_srp_multiprobe", "q46_ann_ivf", "q57_ann_pq", "q63_ann_ivfpq")
        def pairs(df: DataFrame): Set[(Long, Long)] =
          df.select("q_id", "neighbor_id").collect()
            .map(r => (r.getLong(0), r.getLong(1))).toSet
        variants.foreach(n => SparkEntry.queries(n)(spark, qdir).count()) // warm
        val exact = pairs(SparkEntry.queries("q33_ann_bruteforce")(spark, qdir))
        variants.foreach { n =>
          val t0 = System.nanoTime()
          val p = pairs(SparkEntry.queries(n)(spark, qdir))
          val secs = (System.nanoTime() - t0) / 1e9
          val recall = (p & exact).size.toDouble / exact.size
          println(f"[dev] $n%-24s pairs=${p.size}%4d  recall@5=${recall}%.3f  $secs%.2f s")
        }

      case Some("retrievalquality") =>
        // measured quality table for the retrieval stack (q94/q99 family):
        // label purity@5 of lexical-only, dense-only, and RRF-hybrid
        // retrieval — same 20 anchors, labels from the embeddings table.
        // Purity counts retrieved docs whose label matches the anchor's;
        // coverage is the fraction of retrieved docs that HAVE an
        // embedding (lexical can surface docs outside the embedded set —
        // the gap hybrid fusion exists to bridge).
        import org.apache.spark.sql.DataFrame
        import org.apache.spark.sql.functions.col
        val qdir = args.lift(1).getOrElse("/root/testdata/sf0.1")
        val labels = Tables.embeddings(spark, qdir).select("vec_id", "label")
          .collect().map(r => r.getAs[Long]("vec_id") -> r.getAs[Int]("label")).toMap
        def topPairs(df: DataFrame): Seq[(Long, Long)] =
          df.select("q_id", "doc_id").collect()
            .map(r => (r.getAs[Long]("q_id"), r.getAs[Long]("doc_id"))).toSeq
        def report(name: String, f: => DataFrame): Unit = {
          f.count() // warm: plan + artifacts
          val t0 = System.nanoTime()
          val pairs = topPairs(f)
          val secs = (System.nanoTime() - t0) / 1e9
          val labeled = pairs.filter { case (_, d) => labels.contains(d) }
          val pure = labeled.count { case (q, d) => labels(d) == labels(q) }
          println(f"[dev] $name%-14s purity@5=${pure.toDouble / labeled.size}%.3f " +
            f"coverage=${labeled.size.toDouble / pairs.size}%.3f  $secs%.2f s")
        }
        report("lexical-only", graft.operators.VectorQueries.lexicalRanks(spark, qdir, 5)
          .withColumnRenamed("r_lex", "rk"))
        report("dense-only", graft.operators.VectorQueries.denseRanks(spark, qdir, 5)
          .withColumnRenamed("r_dense", "rk"))
        report("hybrid-rrf", SparkEntry.queries("q99_hybrid_rrf")(spark, qdir))

      case Some("negquality") =>
        // measured quality table for the q103 hard-negative miner (the
        // DPR argument made quantitative): a good hard negative is
        // lexically confusable with the anchor (it sits in the BM25
        // top-20 — by construction 100% here, ~0% for a random doc) yet
        // semantically no closer than a random doc (anchor cosine ≈ the
        // random-pair baseline, far below the dense top-5 positives).
        import org.apache.spark.sql.DataFrame
        import org.apache.spark.sql.functions._
        val qdir = args.lift(1).getOrElse("/root/testdata/sf0.1")
        val e = Tables.embeddings(spark, qdir)
        // the SAME anchor population q103 mines (NQueries), so the
        // positives/random rows stay comparable if the constant moves
        val anchors = e.filter(col("vec_id") <
            graft.operators.VectorQueries.NQueries)
          .select(col("vec_id").as("q_id"), col("embedding").as("qv"))
        // hoisted + checkpointed: stats() runs three times and q103 builds
        // its own copy — without this the BM25 chain would run 4x per call
        val lex = graft.operators.VectorQueries.lexicalRanks(spark, qdir, 20)
          .select(col("q_id"), col("doc_id"), lit(1).as("inlex"))
          .localCheckpoint()
        def stats(name: String, pairs: DataFrame): Unit = {
          // pairs: (q_id, doc_id) — cosine vs anchor + lexical-top20 hit
          val r = pairs
            .join(e.select(col("vec_id").as("doc_id"), col("embedding")), "doc_id")
            .join(broadcast(anchors), "q_id")
            .join(lex, Seq("q_id", "doc_id"), "left")
            .agg(count(lit(1)).as("n"),
              avg(graft.functions.VectorFunctions
                .cosine(col("qv"), col("embedding"))).as("avg_cos"),
              avg(coalesce(col("inlex"), lit(0))).as("lex_hit"))
            .head
          println(f"[dev] $name%-16s n=${r.getAs[Long]("n")}%4d  " +
            f"avg_cos=${r.getAs[Double]("avg_cos")}%+.4f  " +
            f"lex_top20=${r.getAs[Double]("lex_hit") * 100}%5.1f%%")
        }
        stats("dense-top5-pos", graft.operators.VectorQueries
          .denseRanks(spark, qdir, 5).select("q_id", "doc_id"))
        stats("mined-hard-neg", SparkEntry.queries("q103_hard_negatives")(spark, qdir)
          .select("q_id", "doc_id"))
        // random baseline: a deterministic md5-salted sample of embedded
        // docs per anchor (5 each), excluding the anchor itself
        val wRnd = org.apache.spark.sql.expressions.Window
          .partitionBy("q_id").orderBy(col("h"))
        val rnd = anchors.select(col("q_id"))
          .join(e.select(col("vec_id").as("doc_id")),
            col("doc_id") =!= col("q_id"))
          .withColumn("h", md5(concat_ws(":", col("q_id"), col("doc_id"))))
          .withColumn("rk", row_number().over(wRnd))
          .filter(col("rk") <= 5).select("q_id", "doc_id")
        stats("random-baseline", rnd)

      case Some("soak") =>
        // Long-lived stream soak (round-8 verdict item 2): ONE topic, 200+
        // rate-limited micro-batches through the full GeotagPipeline
        // (ledger source w/ in-source JSON decode → validate → per-key
        // history merge + dedup/cap → election → bucketed upsert), with a
        // concurrent LedgerMaintenance thread aging out consumed segments
        // WHILE the stream runs, one kill/resume mid-flight, and exact
        // closed-form accounting at the end. The per-key history cap (100)
        // engages ~20% in, so the back half of the run IS the bounded-state
        // steady state — flat per-batch latency there is the claim that the
        // 8-batch throughput row (SCALING §3) holds over time.
        import java.nio.file.Files
        import org.apache.spark.sql.functions._
        import org.apache.spark.sql.streaming.{StreamingQueryListener, Trigger}
        import org.apache.spark.sql.streaming.StreamingQueryListener._
        import graft.streaming.{ConsistencyChecker, GeotagPipeline}
        import graft.sources.LedgerMaintenance
        val nParts = 4
        val nKeys = 400
        val perKey = 520                   // 5× the cap → cap engages early
        val total = nKeys * perKey         // 208k rows
        val cap = 100                      // GeotagPipeline's dedupAndCap cap
        val jMin = perKey - cap            // first retained point index per key
        val rate = 250                     // ×4 parts ×1 s interval = 1000/batch → ~208 batches
        val killAt = args.lift(1).map(_.toInt).getOrElse(100)
        val topic = Files.createTempDirectory("soak_topic").toString
        val table = Files.createTempDirectory("soak_table").toString + "/lookup"
        val ckpt = Files.createTempDirectory("soak_ckpt").toString

        // row id = k + nKeys*j (key k, point index j): ts_ms == id, so per
        // key the ts sequence is strictly increasing and j == ts div nKeys
        // — the retained set after dedup+cap is closed-form (j >= 400).
        // 10 separate appends → ≥10 ledger segments per partition, giving
        // the maintenance thread real segment boundaries to age out.
        (0 until 10).foreach { chunk =>
          spark.range(chunk.toLong * total / 10, (chunk + 1).toLong * total / 10)
            .select(
              (col("id") % nKeys).cast("int").as("k"),
              (col("id") / nKeys).cast("int").as("j"),
              col("id").as("ts"))
            .select(
              (col("k") % nParts).as("partition"),
              concat(lit("h"), col("k")).as("key"),
              encode(concat(
                lit("{\"addr_hash\":\"h"), col("k"),
                lit("\",\"type\":\"DEL\",\"lat\":"), lit(12.0) + col("j") * 0.00001,
                lit(",\"lng\":"), lit(77.0) + col("j") * 0.00001,
                lit(",\"accuracy\":"), lit(10) + col("j") % 150,
                lit(",\"ts_ms\":"), col("ts"), lit("}")), "UTF-8").as("value"))
            .write.format("graft-ledger").option("path", topic)
            .mode("append").save()
        }

        // open-fd census via /proc: the first soak run DIED on fd
        // exhaustion (unclosed Files.list streams in the ledger listing,
        // leaked once per driver tick) — the count per batch proves the
        // leak stays fixed, not just that one run survived.
        def openFds(): Long = {
          val d = new java.io.File("/proc/self/fd").list()
          if (d == null) -1L else d.length.toLong
        }
        val progresses = new java.util.concurrent.CopyOnWriteArrayList[
          (Long, Double, Long, String, Long)]() // (rows, secs, heapMB, endOffsets, fds)
        spark.streams.addListener(new StreamingQueryListener {
          override def onQueryStarted(e: QueryStartedEvent): Unit = ()
          override def onQueryIdle(e: QueryIdleEvent): Unit = ()
          override def onQueryTerminated(e: QueryTerminatedEvent): Unit = ()
          override def onQueryProgress(e: QueryProgressEvent): Unit = {
            val p = e.progress
            if (p.numInputRows > 0) {
              val rt = Runtime.getRuntime
              progresses.add((p.numInputRows,
                // triggerExecution is the whole batch wall time (the other
                // durationMs entries are its sub-steps — summing them
                // would double-count)
                p.durationMs.getOrDefault("triggerExecution", 0L).toDouble / 1e3,
                (rt.totalMemory - rt.freeMemory) / (1024 * 1024),
                p.sources.head.endOffset, openFds()))
            }
          }
        })

        // maintenance thread: every 2 s age out segments every partition
        // has fully consumed (per the LATEST reported committed offsets) —
        // the broker-side retention churn a year-long deployment sees,
        // running CONCURRENTLY with the stream's own offset walk.
        @volatile var stopMaint = false
        var deletedSegments = 0
        val maint = new Thread(() => {
          while (!stopMaint) {
            Thread.sleep(2000)
            if (!progresses.isEmpty) {
              val off = progresses.get(progresses.size - 1)._4
              try deletedSegments += LedgerMaintenance.retainBelowCommitted(topic, off).size
              catch { case e: Exception =>
                println(s"[soak] maintenance error (non-fatal): ${e.getMessage}") }
            }
          }
        })
        maint.setDaemon(true); maint.start()

        def startStream() = GeotagPipeline.stream(spark, topic, table, ckpt, rate)
          .trigger(Trigger.AvailableNow()).start()

        // phase 1: run to ~killAt batches, then KILL mid-flight
        val q1 = startStream()
        while (q1.isActive && progresses.size < killAt) Thread.sleep(200)
        q1.stop(); q1.awaitTermination()
        val batchesAtKill = progresses.size
        println(s"[soak] killed after $batchesAtKill batches; " +
          s"deleted $deletedSegments segments so far; resuming from checkpoint")
        // phase 2: resume from the checkpoint, drain to the end
        val q2 = startStream()
        require(q2.awaitTermination(900000), "soak resume did not finish in 900 s")
        stopMaint = true
        val batches = progresses.size
        val rows = (0 until batches).map(progresses.get(_)._1).sum
        require(rows == total, s"stream processed $rows rows, produced $total")

        // exact accounting: dedup key (lat,lng,acc) is unique per (key,j)
        // and ts is per-key increasing, so iterated merge+dedup+cap
        // retains EXACTLY the last `cap` points of each key: j in
        // [perKey-cap, perKey) — closed-form, no replay needed.
        val sink = spark.read.parquet(table)
        val n = sink.count()
        require(n == nKeys.toLong * cap,
          s"sink has $n rows, expected ${nKeys * cap} ($nKeys keys x cap $cap)")
        val badKeys = sink.groupBy("addr_hash")
          .agg(count(lit(1)).as("c"),
            min(expr(s"ts_ms div $nKeys")).as("jmin"),
            max(expr(s"ts_ms div $nKeys")).as("jmax"))
          .filter(col("c") =!= cap || col("jmin") =!= jMin ||
            col("jmax") =!= (perKey - 1))
          .count()
        require(badKeys == 0, s"$badKeys keys retain the wrong history window")
        // reconcile through the checker over the SURVIVING log range: every
        // row the cap semantics say must be retained is in the sink
        val missing = ConsistencyChecker.report(
          ConsistencyChecker.missingFromSink(spark, topic, sink,
            keyCols = Seq("addr_hash", "ts_ms"),
            decode = df => GeotagPipeline.validate(df)
              .filter(expr(s"ts_ms div $nKeys") >= jMin)
              .select(col("addr_hash"), col("ts_ms")),
            sourceOptions = Map(
              "format" -> "json", "jsonSchema" -> GeotagPipeline.PayloadDdl)),
          Seq("addr_hash", "ts_ms")).missingCount
        require(missing == 0, s"$missing retained rows missing from sink")

        // latency flatness across the cap-engaged steady state (batch ~45
        // on): the mean of the last 50 batches vs the 50 ending at the
        // kill point — growth there would be unbounded-state drag. The
        // resume's first batch re-pays stream-start machinery; exclude it.
        def avg(s: Seq[Double]): Double = s.sum / s.size
        val secs = (0 until batches).map(progresses.get(_)._2)
        val earlySteady = avg(secs.slice(batchesAtKill - 50, batchesAtKill))
        val late = avg(secs.slice(batches - 50, batches))
        val heapMax = (0 until batches).map(progresses.get(_)._3).max
        val fdSeries = (0 until batches).map(progresses.get(_)._5)
        // decile means of per-batch seconds: the SHAPE of any drift (step
        // at cap engagement? monotone creep? one stall?) — not just two
        // window means
        val deciles = (0 until 10).map { d =>
          avg(secs.slice(d * batches / 10, (d + 1) * batches / 10))
        }
        println("[soak] latency deciles s/batch: " +
          deciles.map(v => f"$v%.2f").mkString(" "))
        println(f"[soak] batches=$batches rows=$rows killResumeAt=$batchesAtKill " +
          f"deletedSegments=$deletedSegments steadyEarly=$earlySteady%.3f s/batch " +
          f"steadyLate=$late%.3f s/batch ratio=${late / earlySteady}%.2f " +
          f"heapMax=${heapMax}MB fdFirst=${fdSeries.head} fdLast=${fdSeries.last} " +
          f"missing=0 badKeys=0")
        require(late / earlySteady < 1.5,
          f"per-batch latency grew ${late / earlySteady}%.2fx across the steady state")
        // fd bound: a leaky listing grows the fd table linearly in batches
        // (the first soak run leaked ~10-15 per batch and died at the 20k
        // ulimit); steady state must hold the count roughly flat
        require(fdSeries.last < fdSeries.head + batches,
          s"open fds grew ${fdSeries.head} -> ${fdSeries.last} over $batches batches — leak")

      case Some("ledgerbench") =>
        // source throughput vs the reference's configured envelope
        // (1000 entries/s/partition default cap, PulsarConf.scala:6-10):
        // 8 partitions × 50k entries streamed uncapped through the full
        // DSv2 path (admission → plan → bounded readers → sink)
        import java.nio.file.Files
        val nParts = 8
        val perPart = 50000
        val topic = Files.createTempDirectory("ledgerbench_topic")
        (0 until nParts).foreach { p =>
          val dir = topic.resolve(s"partition-$p"); Files.createDirectories(dir)
          // 5 ledgers per partition to exercise segment walking
          (0 until 5).foreach { l =>
            val rows = (0 until perPart / 5)
              .map(i => s"k$i,{\"payload\":\"entry-$p-$l-$i\"}").mkString("\n")
            Files.write(dir.resolve(s"ledger-${l + 1}.log"), rows.getBytes)
          }
        }
        val t0 = System.nanoTime()
        val q = spark.readStream.format("graft-ledger")
          .option("path", topic.toString)
          .option("maxRatePerPartition", "1000000000")
          .load()
          .writeStream.format("noop")
          .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
          .start()
        val finished = q.awaitTermination(300000)
        val secs = (System.nanoTime() - t0) / 1e9
        val total = nParts.toLong * perPart
        require(finished, s"ledgerbench did not finish within 300 s")
        println(f"[dev] ledger source (bulk): $total entries in $secs%.2f s = ${total / secs}%.0f entries/s (${total / secs / nParts}%.0f per partition; reference cap 1000/s/partition)")

        // second pass, reference-shaped micro-batches: admission caps each
        // batch at rate × batchInterval per partition (the allocator's
        // quota math), batches run back-to-back under AvailableNow — this
        // prices the per-batch machinery (offset walk, plan, commit), not
        // just the bulk scan above
        val t1 = System.nanoTime()
        val q2 = spark.readStream.format("graft-ledger")
          .option("path", topic.toString)
          .option("maxRatePerPartition", "6250") // 8 × 6250 × 1 s = 50k/batch
          .load()
          .writeStream.format("noop")
          .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
          .start()
        require(q2.awaitTermination(300000), "micro-batch pass did not finish within 300 s")
        val secs2 = (System.nanoTime() - t1) / 1e9
        val batches = q2.recentProgress.count(_.numInputRows > 0)
        println(f"[dev] ledger source (micro): $total entries / $batches batches in $secs2%.2f s = ${total / secs2}%.0f entries/s (${secs2 / batches}%.3f s/batch incl. admission+plan+commit)")

      case Some("writebench") =>
        // write-path throughput: 400k entries through the DSv2 batch
        // append (encode → staged pieces → merged segments → atomic
        // publish), then a full read-back count validates what landed.
        // The reference has no producer to benchmark (PulsarProducer is a
        // stub); this documents the engine's own write envelope.
        import org.apache.spark.sql.functions._
        val wtopic = java.nio.file.Files.createTempDirectory("writebench_topic")
        val n = 400000L
        val df = spark.range(n).select(
          (col("id") % 8).cast("int").as("partition"),
          concat(lit("k"), col("id")).as("key"),
          encode(concat(lit("{\"payload\":\"entry-"), col("id"), lit("\"}")),
            "UTF-8").as("value"))
        val t0 = System.nanoTime()
        df.write.format("graft-ledger").option("path", wtopic.toString)
          .mode("append").save()
        val secs = (System.nanoTime() - t0) / 1e9
        val back = spark.read.format("graft-ledger")
          .option("path", wtopic.toString).load().count()
        require(back == n, s"read-back $back != $n")
        println(f"[dev] ledger write: $n entries in $secs%.2f s = ${n / secs}%.0f entries/s (read-back verified)")
      case Some("ledger") =>
        // drive the DSv2 ledger source end-to-end: write a topic dir, read
        // it rate-limited through the public format("graft-ledger") API
        import java.nio.file.Files
        val topic = Files.createTempDirectory("dev_topic")
        val p0 = topic.resolve("partition-0"); Files.createDirectories(p0)
        Files.write(p0.resolve("ledger-1.log"),
          (0 until 10).map(i => s"k$i,payload-$i").mkString("\n").getBytes)
        val q = spark.readStream.format("graft-ledger")
          .option("path", topic.toString)
          .option("maxRatePerPartition", "4")
          .load()
          .writeStream.format("memory").queryName("dev_ledger")
          .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
          .start()
        q.awaitTermination(60000)
        spark.sql("select * from dev_ledger").show(20, truncate = false)
        println(s"[dev] ledger rows = ${spark.sql("select count(*) from dev_ledger").collect().head.getLong(0)}")
      case _ =>
        val flagship = SparkEntry.entry(spark)
        flagship.show(5, truncate = false)
        println(s"[dev] entry rows = ${flagship.count()}")
    }
    spark.stop()
  }

  /** ORGANIC sf1 tree builder (the `gensf1` entry; `verifysf1` calls it
    * to guarantee the tree before a full correctness dump). Idempotent:
    * a completed tree (marker `_DONE`) is never regenerated.
    */
  private def genOrganicSf1(spark: SparkSession, dst: String): Unit =
    genOrganic(spark, dst, 1L)

  private def genOrganic(spark: SparkSession, dst: String, mult: Long): Unit = {
        // ORGANIC sf tree (~10·mult× sf0.1 rows AND key space, freshly
        // drawn — not replicas): scaling ratios measured on it reflect
        // organic key-cardinality growth, where the 10× replica's exact
        // text/vector copies inflate the exact-pair baselines (q28/q44
        // see every original×copy pair at jaccard/cos 1.0). Fully
        // deterministic (hash-seeded column math, no Math.random), same
        // schemas as TESTDATA.md, written once and fingerprint-free (the
        // generator IS the fingerprint: delete the dir to regenerate).
        // `mult` scales every FACT row count (and user/customer key
        // spaces) past the sf1 profile — mult=10 is the r17 sf10 decade;
        // planted dup/near-dup RATES stay fixed (every 625th doc, every
        // 200th vector), so pair-family laws are measured under constant
        // density, not a density artifact. Distributions mirror the
        // sf0.1 profile: 31-word vocab, doc len 10..100, lang {en 41%,
        // zh/es/fr/de ~15%}, 20 sources, ~0.16% planted exact dups;
        // embeddings unit-norm around 10 hash-seeded label centroids
        // with ~0.5% planted near-dups; TPC-H-ish facts with fixed dims.
        import org.apache.spark.sql.functions._
        import org.apache.spark.sql.{Column, DataFrame}
        val src = "/root/testdata/sf0.1"
        if (java.nio.file.Files.exists(java.nio.file.Paths.get(s"$dst/_DONE"))) {
          println(s"[dev] $dst already generated"); return
        }
        // uniform in [0,1) from a tagged hash — deterministic, columnar
        def u(tag: String, cols: Column*): Column =
          pmod(hash((lit(tag) +: cols): _*), lit(1000000)).cast("double") / 1e6
        def pick(tag: String, id: Column, vals: Seq[String]): Column =
          element_at(array(vals.map(lit): _*),
            pmod(hash(lit(tag), id), lit(vals.length)).cast("int") + 1)
        def save(df: DataFrame, name: String): Unit = {
          df.write.mode("overwrite").parquet(s"$dst/$name.parquet")
          println(s"[dev] wrote $name")
        }
        // dimension tables stay FIXED as the fact side grows
        Seq("region", "nation", "part", "supplier").foreach(t =>
          save(Tables(spark, src, t), t))
        val nCust = 150000L * mult; val nOrd = 1500000L * mult
        val nUsers = 15000L * mult
        save(spark.range(nCust).select(col("id").as("c_custkey"),
          format_string("Customer#%09d", col("id")).as("c_name"),
          pmod(hash(lit("cn"), col("id")), lit(25)).cast("int").as("c_nationkey"),
          round(lit(-1000.0) + u("cb", col("id")) * 11000.0, 2).as("c_acctbal"),
          pick("cs", col("id"), Seq("AUTOMOBILE", "HOUSEHOLD", "BUILDING",
            "FURNITURE", "MACHINERY")).as("c_mktsegment")), "customer")
        val orders = spark.range(nOrd).select(col("id").as("o_orderkey"),
          pmod(hash(lit("oc"), col("id")), lit(nCust)).as("o_custkey"),
          pick("os", col("id"), Seq("F", "O", "P")).as("o_orderstatus"),
          round(lit(1000.0) + u("ot", col("id")) * 499000.0, 2).as("o_totalprice"),
          timestamp_micros(lit(788918400000000L) +
            (u("od", col("id")) * 2404).cast("long") * 86400000000L)
            .as("o_orderdate"),
          pick("op", col("id"), Seq("1-URGENT", "2-HIGH", "3-MEDIUM",
            "4-NOT SPECIFIED", "5-LOW")).as("o_orderpriority"))
        save(orders, "orders")
        save(orders.select(col("o_orderkey"),
            explode(sequence(lit(1), (pmod(hash(lit("ln"), col("o_orderkey")),
              lit(7)) + 1).cast("int"))).as("l_linenumber"))
          .select(col("o_orderkey").as("l_orderkey"), col("l_linenumber"))
          .withColumn("rid", hash(lit("li"), col("l_orderkey"), col("l_linenumber")))
          .select(col("l_orderkey"),
            // FK moduli MUST match the COPIED dimension tables (the dims
            // stay fixed as the fact side grows): sf0.1 part has 20,000
            // keys and supplier 1,000 — a larger modulus would orphan
            // ~90% of lineitem FKs, falsify the q115 all-zero audit on
            // this tree, and cut part/supplier join selectivity to ~10%
            pmod(hash(lit("lp"), col("rid")), lit(20000L)).as("l_partkey"),
            pmod(hash(lit("ls"), col("rid")), lit(1000L)).as("l_suppkey"),
            col("l_linenumber"),
            (pmod(hash(lit("lq"), col("rid")), lit(50)) + 1)
              .cast("double").as("l_quantity"),
            round(lit(900.0) + u("le", col("rid")) * 104100.0, 2)
              .as("l_extendedprice"),
            (pmod(hash(lit("ld"), col("rid")), lit(11)).cast("double") / 100.0)
              .as("l_discount"),
            (pmod(hash(lit("lt"), col("rid")), lit(9)).cast("double") / 100.0)
              .as("l_tax"),
            pick("lr", col("rid"), Seq("R", "A", "N")).as("l_returnflag"),
            pick("ll", col("rid"), Seq("F", "O")).as("l_linestatus"),
            timestamp_micros(lit(789004800000000L) +
              (u("lsd", col("rid")) * 2498).cast("long") * 86400000000L)
              .as("l_shipdate")), "lineitem")
        save(spark.range(1000000L * mult).select(col("id").as("event_id"),
          timestamp_micros(lit(1704067200000000L) +
            (u("ets", col("id")) * (30.0 * 86400 - 60) * 1e6).cast("long"))
            .as("ts"),
          pmod(hash(lit("eu"), col("id")), lit(nUsers)).as("user_id"),
          pick("et", col("id"), Seq("signup", "view", "click", "purchase",
            "error")).as("event_type"),
          round(u("ev", col("id")) * 560.0, 2).as("value"),
          format_string("{\"k\": %d}",
            pmod(hash(lit("ek"), col("id")), lit(100))).as("props")), "events")
        genOrganicText(spark, dst, mult)
        java.nio.file.Files.write(java.nio.file.Paths.get(s"$dst/_DONE"),
          s"organic sf${mult}x0.1x10".getBytes)
        println(s"[dev] organic tree (mult=$mult) complete at $dst")
  }

  /** The TEXT/VECTOR side of the organic generator (documents +
    * embeddings) — the part every dedup/ANN/LM family reads. Split out
    * (r18) so the THIRD organic decade can be generated without the
    * 100×-scaled relational facts: the sf100 question is specifically
    * the two builds + the worst text/vector families (all documents/
    * embeddings-only), while the relational families' laws are already
    * measured through the replica sweeps. Identical hash-seeded
    * expressions to the pre-split generator — gensf1/gensf10 trees are
    * bit-identical across the refactor. */
  private def genOrganicText(spark: SparkSession, dst: String,
      mult: Long): Unit = {
        import org.apache.spark.sql.functions._
        import org.apache.spark.sql.{Column, DataFrame}
        val src = "/root/testdata/sf0.1"
        def u(tag: String, cols: Column*): Column =
          pmod(hash((lit(tag) +: cols): _*), lit(1000000)).cast("double") / 1e6
        def pick(tag: String, id: Column, vals: Seq[String]): Column =
          element_at(array(vals.map(lit): _*),
            pmod(hash(lit(tag), id), lit(vals.length)).cast("int") + 1)
        def save(df: DataFrame, name: String): Unit = {
          df.write.mode("overwrite").parquet(s"$dst/$name.parquet")
          println(s"[dev] wrote $name")
        }
        // documents: fresh token streams from the corpus vocabulary
        val vocab = Tables.documents(spark, src)
          .select(explode(split(lower(col("text")), " ")).as("t"))
          .filter(length(col("t")) > 0).distinct()
          .collect().map(_.getString(0)).sorted
        println(s"[dev] vocab=${vocab.length}")
        val vocabArr = array(vocab.map(lit): _*)
        val nDocs = 50000L * mult
        val docs0 = spark.range(nDocs).select(col("id").as("doc_id"),
          when(u("dl", col("id")) < 0.41, "en")
            .otherwise(pick("dl2", col("id"), Seq("zh", "es", "fr", "de")))
            .as("lang"),
          concat(lit("src"), pmod(hash(lit("dsr"), col("id")), lit(20)))
            .as("source"),
          array_join(transform(
            sequence(lit(0), (pmod(hash(lit("dn"), col("id")), lit(91)) + 9)
              .cast("int")),
            i => element_at(vocabArr,
              pmod(hash(lit("dt"), col("doc_id"), i), lit(vocab.length))
                .cast("int") + 1)), " ").as("text"))
        // organic near-dup rate ≈ sf0.1's (8 dup texts / 5000 docs): every
        // 625th doc is an exact copy of its predecessor under a new id
        val dupTexts = docs0
          .select((col("doc_id") + 1).as("doc_id"), col("text").as("dup_text"))
        save(docs0.join(dupTexts, Seq("doc_id"), "left")
          .select(col("doc_id"),
            when(pmod(col("doc_id"), lit(625)) === 624 && col("dup_text").isNotNull,
              col("dup_text")).otherwise(col("text")).as("text"),
            col("lang"), col("source"))
          .withColumn("n_chars", length(col("text"))), "documents")
        // embeddings: unit-norm around 10 hash-seeded centroids; every
        // 200th vector is a tiny perturbation of its predecessor
        val nVec = 20000L * mult
        val dims = 64
        def rawVec(tag: String, id: Column): Column = transform(
          sequence(lit(0), lit(dims - 1)),
          j => element_at(array((0 until 10).map(l => (u(s"c$l", j) - 0.5) +
            (u(tag, id, j) - 0.5) * 0.6): _*),
            pmod(hash(lit("elab"), id), lit(10)).cast("int") + 1))
        val e0 = spark.range(nVec).select(col("id").as("vec_id"),
          rawVec("ev", col("id")).as("raw"),
          pmod(hash(lit("elab"), col("id")), lit(10)).cast("int").as("label"))
        val dupVecs = e0.select((col("vec_id") + 1).as("vec_id"),
          transform(col("raw"), x => x + 0.004).as("dup_raw"))
        save(e0.join(dupVecs, Seq("vec_id"), "left")
          .withColumn("v",
            when(pmod(col("vec_id"), lit(200)) === 199 && col("dup_raw").isNotNull,
              col("dup_raw")).otherwise(col("raw")))
          .withColumn("nrm", sqrt(aggregate(col("v"), lit(0.0),
            (a, x) => a + x * x)))
          .select(col("vec_id"),
            transform(col("v"), x => (x / col("nrm")).cast("float"))
              .as("embedding"),
            col("label")), "embeddings")
  }
}
