package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.functions.col
import org.scalatest.funsuite.AnyFunSuite
import graft.operators._

/** Physical-plan invariants: the scale claims made in the query Scaladoc
  * (pushdown reaches the scan, small sides broadcast, aggregates run
  * partial+final, codegen spans the hot path) asserted against the actual
  * optimized plans — so a regression that silently de-optimizes a query
  * fails CI, not a 100 TB run.
  */
class PlanSpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  private val dir = "/root/testdata/sf0.001"

  private def physical(df: DataFrame): String = {
    df.collect() // materialize so AQE settles on the final plan
    val qe: QueryExecution = df.queryExecution
    qe.executedPlan.toString()
  }

  test("q02 filter and projection push to the parquet scan") {
    val plan = physical(RelationalQueries.defs("q02_filter_project")(spark, dir))
    assert(plan.contains("PushedFilters: ["), s"no pushed filters:\n$plan")
    assert(plan.contains("In(l_returnflag"), s"returnflag IN not pushed:\n$plan")
    // pruned ReadSchema: only the 5 needed columns, not the full lineitem
    val readSchema = plan.linesIterator.find(_.contains("ReadSchema")).getOrElse("")
    assert(!readSchema.contains("l_shipdate"), s"unpruned scan: $readSchema")
  }

  test("q03 dimension joins broadcast; fact join does not broadcast the fact") {
    val plan = physical(RelationalQueries.defs("q03_segment_revenue")(spark, dir))
    assert(plan.contains("BroadcastHashJoin"), s"no broadcast join:\n$plan")
    // the per-order revenue rollup must run BELOW the join with map-side
    // partials — the join then moves order-count rows, not lineitem rows
    assert("""HashAggregate\(keys=\[l_orderkey[#\d]*L?\], functions=\[partial_sum""".r
      .findFirstIn(plan).isDefined,
      s"fact not pre-aggregated per order before the join:\n$plan")
  }

  test("q05 semi-join stays a join (no driver collect) and broadcasts the filtered side") {
    val plan = physical(RelationalQueries.defs("q05_big_spender_semi")(spark, dir))
    assert(plan.contains("LeftSemi"), s"not a semi join:\n$plan")
  }

  test("q01 aggregates run partial then final") {
    val plan = physical(RelationalQueries.defs("q01_pricing_summary")(spark, dir))
    assert(plan.contains("partial_"), s"no partial aggregation:\n$plan")
    // whole-stage codegen shows as "*(n)" operator prefixes in toString
    assert("""\*\(\d+\) HashAggregate""".r.findFirstIn(plan).isDefined,
      s"agg outside codegen:\n$plan")
  }

  test("q42 collect_list runs as ObjectHashAggregate with partial merge") {
    val plan = physical(RelationalQueries.defs("q42_event_history")(spark, dir))
    assert(plan.contains("ObjectHashAggregate"), s"collect_list not object-hash:\n$plan")
    assert(plan.contains("partial_collect_list") || plan.contains("partial_"),
      s"no map-side partial for collect_list:\n$plan")
  }

  test("q38 final anti-join broadcasts the (tiny) dup-id side") {
    val plan = physical(TextQueries.defs("q38_dedup_keep")(spark, dir))
    assert(plan.contains("LeftAnti"), s"no anti join:\n$plan")
    assert(plan.contains("BroadcastHashJoin") || plan.contains("BroadcastNestedLoop"),
      s"anti join didn't broadcast:\n$plan")
  }

  test("q33 ANN scan keeps cosine inside whole-stage codegen") {
    val plan = physical(VectorQueries.defs("q33_ann_bruteforce")(spark, dir))
    assert("""\*\(\d+\) """.r.findFirstIn(plan).isDefined, s"no codegen span:\n$plan")
    assert(plan.toLowerCase.contains("cosinesimilarity"),
      s"native cosine missing:\n$plan")
  }

  test("q46 IVF assignment aggregates partial min_by (no corpus-wide window sort)") {
    // the pin targets the INDEX-BUILD stage: q46's own plan now reads the
    // persisted inverted-file artifact (a checkpointed LogicalRDD), so the
    // window-regression risk lives in assignCells itself
    val e = Tables.embeddings(spark, dir)
    val cent = VectorQueries.cellMeans(
      e.select(col("label").as("cell"), col("embedding")))
    val plan = physical(VectorQueries.assignCells(e, cent))
    assert(plan.contains("partial_min_by"),
      s"assignment not a partial min_by aggregation:\n$plan")
  }

  test("q37 multi-table LSH joins on (table, bucket) — broadcast query side, no cartesian") {
    // the OR-construction's scale shape: the corpus side is hashed once
    // per table and candidates come from a bucket-keyed equi-join against
    // the broadcast (query × table × probe) side — a de-optimization to
    // BroadcastNestedLoopJoin (cartesian) would re-pair every query with
    // every corpus vector and void the L(1+bits)/2^bits scan-fraction claim
    val plan = physical(VectorQueries.defs("q37_ann_srp_multiprobe")(spark, dir))
    assert(!plan.contains("BroadcastNestedLoopJoin") && !plan.contains("CartesianProduct"),
      s"q37 candidates degenerated to a cartesian:\n$plan")
    assert(plan.contains("BroadcastHashJoin"),
      s"q37 probe join is not a broadcast hash join:\n$plan")
  }

  test("q54 repetition ratio aggregates partial then final") {
    val plan = physical(TextQueries.defs("q54_repetition")(spark, dir))
    assert(plan.contains("partial_"), s"no partial aggregation:\n$plan")
  }

  test("q57 PQ code assignment is a partial min_by, not a window") {
    // same artifact-cache caveat as the q46 pin: target the code-assignment
    // build stage, not the query that reads the persisted code table
    val e = Tables.embeddings(spark, dir)
    val subvecs = VectorQueries.pqSubvecs(VectorQueries.pqNormalize(e))
    val plan = physical(
      VectorQueries.pqAssign(subvecs, VectorQueries.pqCodebook(subvecs)))
    assert(plan.contains("partial_min_by"),
      s"PQ assignment not a partial min_by aggregation:\n$plan")
  }

  test("q62 banded leakage joins on buckets — no nested-loop cartesian like q56") {
    // q56's exact form is a BroadcastNestedLoopJoin by declared design;
    // the q62 scale sibling must candidate via the (table, bucket)
    // equi-join — a regression to a cartesian would silently reintroduce
    // the O(n²) scan this query exists to remove
    val plan = physical(VectorQueries.embeddingLeakPairsLsh(spark, dir))
      .split("== Initial Plan ==")(0)
    assert(!plan.contains("BroadcastNestedLoopJoin") && !plan.contains("CartesianProduct"),
      s"banded candidates degenerated to a nested-loop join:\n$plan")
    assert(plan.contains("SortMergeJoin") || plan.contains("ShuffledHashJoin") ||
      plan.contains("BroadcastHashJoin"),
      s"no equi-join on the band buckets:\n$plan")
  }

  test("q47 as-of is one user_id exchange + window — no join, no pair blowup") {
    // AQE prints "Final Plan" then "Initial Plan" — judge the final only
    val plan = physical(RelationalQueries.defs("q47_asof_latest_click")(spark, dir))
      .split("== Initial Plan ==")(0)
    assert(!plan.contains("Join"), s"as-of carry-forward form must not join:\n$plan")
    // exactly one hash exchange (the user_id window shuffle); the trailing
    // ORDER BY adds no hash exchange: a range exchange, or none when its
    // measured input is small (SmallResultSort)
    val hashEx = plan.linesIterator
      .count(_.contains("Exchange hashpartitioning"))
    assert(hashEx == 1, s"expected exactly 1 hash exchange, got $hashEx:\n$plan")
    assert(plan.contains("hashpartitioning(user_id"),
      s"window shuffle not on user_id:\n$plan")
  }

  test("events scan prunes columns for a two-column aggregate") {
    val plan = physical(RelationalQueries.defs("q13_distinct_types")(spark, dir))
    val readSchema = plan.linesIterator.find(_.contains("ReadSchema")).getOrElse("")
    assert(readSchema.contains("event_type") && !readSchema.contains("props"),
      s"distinct scan reads too much: $readSchema")
  }

  test("q65 rate table broadcasts; both documents scans prune to used columns") {
    val plan = physical(TextQueries.defs("q65_mixture_downsample")(spark, dir))
    assert(plan.contains("BroadcastHashJoin"),
      s"per-lang rate table not broadcast:\n$plan")
    // neither scan may read the text payload: the rate side needs lang
    // only, the keep side (lang, doc_id)
    val schemas = plan.linesIterator.filter(_.contains("ReadSchema")).toSeq
    assert(schemas.nonEmpty && schemas.forall(!_.contains("text")),
      s"downsample scans read the text payload: $schemas")
  }

  test("q67 bigrams come from zip_with, not a per-doc window") {
    // a Window form would re-shuffle and sort the whole corpus by doc;
    // the array form keeps bigram construction inside the scan projection
    val plan = physical(TextQueries.defs("q67_bigram_surprisal")(spark, dir))
      .split("== Initial Plan ==")(0)
    assert(!plan.contains("Window"), s"bigram build regressed to a window:\n$plan")
    assert(plan.contains("partial_"), s"no partial aggregation:\n$plan")
  }

  test("q68 contamination candidates equi-join on the gram — no cartesian") {
    val plan = physical(TextQueries.defs("q68_ngram_contamination")(spark, dir))
      .split("== Initial Plan ==")(0)
    assert(!plan.contains("CartesianProduct") && !plan.contains("BroadcastNestedLoopJoin"),
      s"gram join degenerated:\n$plan")
  }

  test("q75 encode UDF evaluates per word type — above the (source, word) aggregate") {
    // the greedy-merge replay must run once per word TYPE (post-count-agg
    // projection), never once per exploded token occurrence: at 100 TB the
    // per-token form replays identical folds billions of times. tokens()
    // is pure Column math, so the ONLY "UDF" in this plan is the encoder;
    // plan toString is top-down, so its index must precede the
    // (source, w) count aggregate that feeds it.
    // Catalyst collapses the post-agg projection into the final type
    // aggregate's result expressions, so the pin is structural: the
    // (source, w)-keyed count aggregate itself emits n_syms (encode runs
    // once per group, in the agg's result projection), and no per-row
    // Project below it evaluates the UDF (a per-token regression would
    // surface as a visible "UDF(" Project under the Generate).
    val plan = physical(TextQueries.defs("q75_bpe_encode")(spark, dir))
      .split("== Initial Plan ==")(0)
    val typeAggEmitsEncode =
      """HashAggregate\(keys=\[source[#\d]*, w[#\d]*\], functions=\[count\(1\)\], output=\[[^\]]*n_syms""".r
        .findFirstIn(plan).isDefined
    assert(typeAggEmitsEncode,
      s"(source, word) type aggregate no longer emits n_syms — encode left the per-type projection:\n$plan")
    assert(!plan.contains("UDF("),
      s"encode UDF materialized as a per-row Project (per-token replay):\n$plan")
  }

  test("q83 explicit-values pivot is one scan with map-side partial cells") {
    // explicit pivot values ⇒ no driver distinct-values job (zero extra
    // scans) and the matrix builds as conditional partial aggregates
    val plan = physical(RelationalQueries.defs("q83_lang_source_pivot")(spark, dir))
      .split("== Initial Plan ==")(0)
    assert("FileScan parquet".r.findAllIn(plan).size == 1,
      s"pivot reads the corpus more than once:\n$plan")
    assert(plan.contains("partial_"), s"pivot lost map-side partials:\n$plan")
  }

  test("q84 rollup expands grouping sets in one pass: Expand + partial agg, one scan") {
    val plan = physical(RelationalQueries.defs("q84_mixture_rollup")(spark, dir))
      .split("== Initial Plan ==")(0)
    assert(plan.contains("Expand"), s"rollup not planned as grouping-set Expand:\n$plan")
    assert("FileScan parquet".r.findAllIn(plan).size == 1,
      s"rollup reads the corpus more than once:\n$plan")
    assert(plan.contains("partial_"),
      s"grouping sets lost map-side partials:\n$plan")
  }

  test("q87 CMS probe is a broadcast join against the tiny counter table") {
    // the 4×1024 counter table must broadcast (KB-scale at any corpus
    // size); a sort-merge or cartesian here would shuffle the candidates
    val plan = physical(TextQueries.defs("q87_cms_heavy_hitters")(spark, dir))
    assert(plan.contains("BroadcastHashJoin"),
      s"CMS counter probe not broadcast:\n$plan")
    assert(!plan.contains("SortMergeJoin") && !plan.contains("CartesianProduct"),
      s"CMS probe planned as a shuffle join:\n$plan")
    assert(plan.contains("TakeOrderedAndProject"),
      s"top-20 candidate cut lost its TakeOrdered:\n$plan")
  }

  test("q88 weighted sample is TakeOrdered over one scan — no global sort, no window") {
    val plan = physical(TextQueries.defs("q88_weighted_sample")(spark, dir))
      .split("== Initial Plan ==")(0)
    assert(plan.contains("TakeOrderedAndProject"),
      s"A-ES top-k lost TakeOrderedAndProject (global sort?):\n$plan")
    assert(!plan.contains("Window"), s"weighted sample planned a window:\n$plan")
    assert("FileScan parquet".r.findAllIn(plan).size == 1,
      s"weighted sample reads the corpus more than once:\n$plan")
  }

  test("q90 tfidf ranks the vocab-sized score table, never the occurrence stream") {
    // the window must sit above BOTH aggregations (tf and df) — a window
    // over raw occurrences would sort the corpus through source-count tasks
    val plan = physical(TextQueries.defs("q90_tfidf_terms")(spark, dir))
    assert(plan.contains("Window"), s"ranking lost its window:\n$plan")
    assert(plan.contains("partial_count"), s"tf/df lost map-side partials:\n$plan")
    val winIdx = plan.indexOf("Window")
    assert(plan.indexOf("HashAggregate", winIdx) > winIdx,
      s"window not above the aggregates (occurrence-stream sort):\n$plan")
    assert(!plan.contains("CartesianProduct"), s"cartesian in tfidf:\n$plan")
  }

  test("q91 balanced sample: rate table broadcasts to the keep decision") {
    // the census/rate tables are nlist-sized and must reach the keep
    // decision as a broadcast — a sort-merge join here would shuffle the
    // inverted file a second time for a KB-sized dimension. (The one
    // Window in the plan is the flatten-target over the nlist-sized
    // census — bounded by design, the q65 rate-table shape — so no
    // no-Window assert here.)
    val plan = physical(
      VectorQueries.defs("q91_cluster_balanced_sample")(spark, dir))
      .split("== Initial Plan ==")(0)
    assert(plan.contains("BroadcastHashJoin"),
      s"rate table not broadcast to the keep decision:\n$plan")
  }

  test("q92 NB classifier: model joins broadcast, no corpus window") {
    val plan = physical(
      TextQueries.defs("q92_nb_quality_classifier")(spark, dir))
      .split("== Initial Plan ==")(0)
    assert(!plan.contains("Window"),
      s"NB scoring regressed to a window:\n$plan")
    assert(plan.contains("BroadcastHashJoin"),
      s"vocab model not broadcast to the scoring join:\n$plan")
  }

  test("q93 triplet mining is a partial max_by aggregate, not a corpus window") {
    // both role argmaxes must stay inside one hash aggregation over the
    // anchor scan — a regression to rank-1 windows would sort the
    // anchors×corpus score stream per anchor
    val plan = physical(VectorQueries.defs("q93_triplet_mining")(spark, dir))
      .split("== Initial Plan ==")(0)
    assert(!plan.contains("Window"),
      s"triplet argmax regressed to a window sort:\n$plan")
    assert(plan.contains("partial_max_by"),
      s"max_by lost its map-side partial:\n$plan")
  }

  test("q69 domain cap is a bounded partial aggregate, not a per-source window") {
    val plan = physical(TextQueries.defs("q69_domain_cap")(spark, dir))
      .split("== Initial Plan ==")(0)
    assert(!plan.contains("Window"),
      s"domain cap regressed to a full-history window sort:\n$plan")
    assert(plan.contains("ObjectHashAggregate") && plan.contains("partial_"),
      s"top-K aggregator lost its map-side combine:\n$plan")
  }

  test("q77/q78 elections group as ObjectHashAggregate with bounded buffers, no window") {
    // the same scale shape q40 carries: collect_list groupBy (map-side
    // partial merge; group state capped by dedupAndCap) + a per-group UDF —
    // never a corpus-wide window and never a cartesian
    Seq("q77_election_haversine", "q78_trimmed_centroid").foreach { q =>
      val plan = physical(GeoQueries.defs(q)(spark, dir))
        .split("== Initial Plan ==")(0)
      assert(plan.contains("ObjectHashAggregate") && plan.contains("partial_"),
        s"$q lost its partial collect_list aggregate:\n$plan")
      assert(!plan.contains("Window"), s"$q grew a window:\n$plan")
      assert(!plan.contains("CartesianProduct"), s"$q grew a cartesian:\n$plan")
    }
  }

  test("q81 walk: per-user windows, broadcast ping lists, no cartesian") {
    // the A13 walk groups per user and elects per delivery: the sequence-
    // number windows must stay PARTITIONED by user_id (a global window
    // would serialize the corpus through one task) and the one-row-per-
    // user ping lists must reach deliveries as a broadcast, not a shuffle
    // of the fact side
    val plan = physical(GeoQueries.defs("q81_refine_walk")(spark, dir))
      .split("== Initial Plan ==")(0)
    val specs = "windowspecdefinition\\(".r.findAllIn(plan).size
    val userPartitioned = "windowspecdefinition\\(user_id".r.findAllIn(plan).size
    assert(specs > 0 && specs == userPartitioned,
      s"q81 has a window not partitioned by user_id ($userPartitioned/$specs):\n$plan")
    assert(plan.contains("BroadcastHashJoin"),
      s"q81 ping lists not broadcast:\n$plan")
    assert(!plan.contains("CartesianProduct"), s"q81 grew a cartesian:\n$plan")
  }

  test("q76 held-out LM broadcasts; no one-partition window anywhere") {
    val plan = physical(TextQueries.defs("q76_heldout_perplexity")(spark, dir))
      .split("== Initial Plan ==")(0)
    assert(plan.contains("BroadcastHashJoin") || plan.contains("BroadcastExchange"),
      s"train LM not broadcast:\n$plan")
    assert(!plan.contains("Window"),
      s"scalar totals regressed to a window:\n$plan")
  }

  test("q70 budget keeps join broadcast cutoff levels — corpus is never window-sorted") {
    val plan = physical(TextQueries.defs("q70_token_budget")(spark, dir))
      .split("== Initial Plan ==")(0)
    // both windows run over bounded inputs (the per-level aggregate and
    // one tie-group); the corpus side reaches them only through the
    // broadcast level joins
    assert(plan.contains("BroadcastHashJoin"),
      s"cutoff levels not broadcast:\n$plan")
  }

  test("q94 BM25: query terms broadcast, window above the tf aggregate") {
    val plan = physical(TextQueries.defs("q94_bm25_search")(spark, dir))
      .split("== Initial Plan ==")(0)
    // the 10-term query table must broadcast to the occurrence stream so
    // only query-term postings shuffle into the tf aggregate
    assert(plan.contains("BroadcastHashJoin"),
      s"query terms not broadcast to the posting scan:\n$plan")
    assert(plan.contains("partial_count"),
      s"tf/df lost their map-side partials:\n$plan")
    // the ranking window must sit above the tf aggregation (≤ 10·hits
    // rows), never over raw occurrences
    val winIdx = plan.indexOf("Window")
    assert(winIdx >= 0 && plan.indexOf("HashAggregate", winIdx) > winIdx,
      s"BM25 window not above the aggregates:\n$plan")
    assert(!plan.contains("CartesianProduct"),
      s"cartesian in BM25 (avgdl must broadcast):\n$plan")
  }

  test("q95 cluster topics: window ranks the (cell, token) table, censuses broadcast") {
    val plan = physical(VectorQueries.defs("q95_cluster_topics")(spark, dir))
      .split("== Initial Plan ==")(0)
    assert(plan.contains("BroadcastHashJoin"),
      s"ncells/sizes not broadcast:\n$plan")
    val winIdx = plan.indexOf("Window")
    assert(winIdx >= 0 && plan.indexOf("HashAggregate", winIdx) > winIdx,
      s"topic window not above the (cell, token) aggregate:\n$plan")
    assert(!plan.contains("CartesianProduct"),
      s"cartesian in cluster topics:\n$plan")
  }

  test("q96 kNN eval: anchors broadcast, cosine inside codegen, bounded vote window") {
    val plan = physical(VectorQueries.defs("q96_knn_label_eval")(spark, dir))
      .split("== Initial Plan ==")(0)
    assert(plan.contains("BroadcastNestedLoopJoin") ||
      plan.contains("BroadcastHashJoin"),
      s"anchor set not broadcast to the corpus scan:\n$plan")
    assert(!plan.contains("CartesianProduct"),
      s"kNN eval fell back to a cartesian:\n$plan")
  }

  test("q97 canonical keep: partial min_by aggregate over the label join, no window") {
    // the selection must be ONE partial-aggregable min_by on component —
    // a regression to a per-component rank window would sort the joined
    // (member, quality) stream; a cartesian would mean the label join
    // lost its doc_id key
    val plan = physical(TextQueries.defs("q97_component_canonical")(spark, dir))
      .split("== Initial Plan ==")(0)
    assert(!plan.contains("Window"),
      s"canonical keep regressed to a window sort:\n$plan")
    assert(plan.contains("partial_min_by"),
      s"min_by lost its map-side partial:\n$plan")
    assert(!plan.contains("CartesianProduct"),
      s"label-to-quality join fell back to a cartesian:\n$plan")
  }

  test("q98 perplexity buckets: broadcast-cutoff terciles, no corpus ntile sort") {
    // the tercile must assign via ccnetTerciles' two-phase form: a
    // map-side-partial census on (lang, round-6 s), rank boundaries
    // located on the census, and a BROADCAST of the per-lang boundary
    // keys back onto the per-doc rows — an ntile window would pull every
    // document of a language through one task's sort (a dominant
    // language at 100 TB = a single-reducer sort of billions of rows)
    val plan = physical(TextQueries.defs("q98_perplexity_buckets")(spark, dir))
      .split("== Initial Plan ==")(0)
    assert(!plan.contains("ntile"),
      s"tercile regressed to a per-lang ntile corpus sort:\n$plan")
    assert(plan.contains("partial_count"),
      s"round-6 census lost its map-side partial:\n$plan")
    assert(plan.contains("BroadcastHashJoin"),
      s"per-lang boundary keys not broadcast to the assignment:\n$plan")
    assert(!plan.contains("CartesianProduct"), s"LM join fell back to a cartesian:\n$plan")
  }

  test("q99 hybrid RRF: anchor terms broadcast, per-anchor windows, no cartesian") {
    // the query-term table (20 anchors x 8 terms) and the anchor vectors
    // must BROADCAST to the tf scan / corpus scan, every ranking window
    // must partition by q_id, and nothing may fall back to a cartesian
    // (the avgdl crossJoin is a 1-row broadcast nested loop, not a
    // CartesianProduct)
    val plan = physical(VectorQueries.defs("q99_hybrid_rrf")(spark, dir))
      .split("== Initial Plan ==")(0)
    assert(plan.contains("BroadcastHashJoin"),
      s"query-term table not broadcast to the posting scan:\n$plan")
    assert(!plan.contains("CartesianProduct"),
      s"hybrid retrieval fell back to a cartesian:\n$plan")
    assert("""windowspecdefinition\(q_id""".r.findFirstIn(plan).isDefined,
      s"ranking windows lost their q_id partitioning:\n$plan")
  }

  test("q100 funnel: doc_id equi-joins, broadcast-cutoff tercile, partial funnel agg") {
    // four gate frames meet the train universe as doc_id-keyed joins (a
    // cartesian anywhere poisons the whole report), the LM gate assigns
    // buckets via ccnetTerciles' broadcast cutoffs (never a per-lang
    // ntile sort of the corpus), and the final per-lang accounting
    // aggregates with map-side partials
    val plan = physical(TextQueries.defs("q100_curation_funnel")(spark, dir))
      .split("== Initial Plan ==")(0)
    assert(!plan.contains("CartesianProduct"),
      s"a funnel gate join fell back to a cartesian:\n$plan")
    assert(!plan.contains("ntile"),
      s"LM tercile regressed to a per-lang ntile corpus sort:\n$plan")
    // r18: the dedup gate is two windows over ONE component-keyed
    // shuffle (rank-1 keeper + member count; partitions are
    // dup-cluster-sized, never a lang or corpus partition) — the former
    // min_by aggregate + join-back re-shuffled the same member rows
    // twice for identical output
    assert(plan.contains("windowspecdefinition(component"),
      s"canonical-keep selection lost its component-keyed window:\n$plan")
    assert(plan.contains("partial_sum"),
      s"funnel accounting lost its map-side partials:\n$plan")
  }

  test("q101 temperature mixture: partial census below the bounded language window") {
    // the token census must aggregate with map-side partials BEFORE the
    // normalization windows — the windows then see one row per language
    // (a bounded frame at any corpus size), never token- or doc-level rows
    val plan = physical(TextQueries.defs("q101_temperature_mixture")(spark, dir))
      .split("== Initial Plan ==")(0)
    assert(plan.contains("partial_sum"),
      s"token census lost its map-side partial:\n$plan")
    val windowLine = plan.linesIterator.find(_.contains("windowspecdefinition"))
    assert(windowLine.isDefined, s"normalization window missing:\n$plan")
    assert(!plan.contains("CartesianProduct"), s"grew a cartesian:\n$plan")
  }

  test("q102 DSIR: the 256-bucket LM broadcasts, scoring is partial aggs, no window") {
    // the whole point of feature hashing is that both LMs fit one bounded
    // table — it must BROADCAST to the feature scan, the per-doc weight
    // sum and per-source report must aggregate with map-side partials,
    // and there is no window over anything
    val plan = physical(TextQueries.defs("q102_dsir_weights")(spark, dir))
      .split("== Initial Plan ==")(0)
    assert(plan.contains("BroadcastHashJoin"),
      s"bucket LM not broadcast to the feature scan:\n$plan")
    assert(plan.contains("partial_sum"),
      s"weight/report aggregation lost its map-side partials:\n$plan")
    assert(!plan.contains("windowspecdefinition"),
      s"DSIR scoring grew a window it doesn't need:\n$plan")
    assert(!plan.contains("CartesianProduct"), s"grew a cartesian:\n$plan")
  }

  test("q103 hard negatives: anchors broadcast, per-anchor windows only, no cartesian") {
    // the anchor vectors and query-term tables are the bounded sides —
    // they broadcast; every window partitions by q_id over candidate
    // rows; the candidate join is doc_id-keyed, never a cartesian
    val plan = physical(VectorQueries.defs("q103_hard_negatives")(spark, dir))
      .split("== Initial Plan ==")(0)
    assert(plan.contains("BroadcastHashJoin"),
      s"anchor side not broadcast:\n$plan")
    assert(!plan.contains("CartesianProduct"),
      s"candidate verify fell back to a cartesian:\n$plan")
    val windows = """windowspecdefinition\(\w+""".r.findAllIn(plan).toSeq
    assert(windows.nonEmpty && windows.forall(_.contains("q_id")),
      s"a window is not partitioned by q_id: $windows\n$plan")
  }

  test("q105 outliers: prototypes broadcast, one corpus scan, partial report agg") {
    // the labels x dims prototype table is bounded — it must BROADCAST to
    // the verify scan; the report aggregates with map-side partials; no
    // window, no cartesian, no corpus self-join
    val plan = physical(VectorQueries.defs("q105_label_outliers")(spark, dir))
      .split("== Initial Plan ==")(0)
    assert(plan.contains("BroadcastHashJoin"),
      s"prototype table not broadcast:\n$plan")
    assert(plan.contains("partial_sum"),
      s"outlier report lost its map-side partials:\n$plan")
    assert(!plan.contains("windowspecdefinition"),
      s"outlier verify grew a window it doesn't need:\n$plan")
    assert(!plan.contains("CartesianProduct"), s"grew a cartesian:\n$plan")
  }

  test("q106 source overlap: shingle equi-join, broadcast sizes, no window") {
    // the self-join must stay keyed on the shingle (a cartesian over the
    // per-source sets would be sources² × shingles²), the bounded size
    // censuses broadcast, and the matrix aggregates with partials
    val plan = physical(TextQueries.defs("q106_source_overlap")(spark, dir))
      .split("== Initial Plan ==")(0)
    assert(!plan.contains("CartesianProduct"),
      s"overlap self-join fell back to a cartesian:\n$plan")
    assert(plan.contains("BroadcastHashJoin"),
      s"size censuses not broadcast:\n$plan")
    assert(plan.contains("partial_count"),
      s"censuses lost their map-side partials:\n$plan")
    assert(!plan.contains("windowspecdefinition"),
      s"overlap matrix grew a window it doesn't need:\n$plan")
  }

  test("q107 novelty: gram-keyed census join, partial aggs, no window") {
    val plan = physical(TextQueries.defs("q107_ngram_novelty")(spark, dir))
      .split("== Initial Plan ==")(0)
    assert(!plan.contains("CartesianProduct"), s"grew a cartesian:\n$plan")
    assert(plan.contains("partial_count"),
      s"df census lost its map-side partial:\n$plan")
    assert(!plan.contains("windowspecdefinition"),
      s"novelty grew a window it doesn't need:\n$plan")
  }

  test("q117 dup spans: consumer reads the run-table artifact; the BUILD " +
    "keeps the hash-keyed census + per-doc islands window") {
    // r18: the xW window census moved into the spanRunsShared artifact.
    // The CONSUMER plan must be artifact-shaped — no window function and
    // no xW explode left in the per-query path
    val plan = physical(TextQueries.defs("q117_dup_spans")(spark, dir))
      .split("== Initial Plan ==")(0)
    assert(!plan.contains("CartesianProduct"), s"grew a cartesian:\n$plan")
    assert(!plan.contains("windowspecdefinition"),
      s"q117 consumer recomputes the islands window it should read:\n$plan")
    assert(!plan.contains("Generate"),
      s"q117 consumer re-explodes the xW window stream:\n$plan")
    // the BUILD (the once-per-corpus artifact derivation) retains the
    // audited shape: map-side census partial, and the only window is the
    // gaps-and-islands run detector PARTITIONED BY doc_id (bounded by
    // doc length) — a lang- or corpus-level window would single-task-
    // sort the corpus
    val build = physical(graft.operators.CorpusStatsMaintenance.spanRuns(
        graft.operators.CorpusStatsMaintenance.buildSpans(
          Tables.documents(spark, dir).select(col("doc_id"), col("text")))))
      .split("== Initial Plan ==")(0)
    assert(build.contains("partial_count"),
      s"span build's census lost its map-side partial:\n$build")
    val winSpecs = """windowspecdefinition\(([a-z_]+)#""".r
      .findAllMatchIn(build).map(_.group(1)).toSet
    assert(winSpecs == Set("doc_id"),
      s"islands window not doc_id-partitioned: $winSpecs\n$build")
  }

  test("q108 Zipf: rank window sits above the vocab census, means broadcast") {
    // the window must rank CENSUS rows (vocab-sized) partitioned by lang
    // — a window over occurrences would sort the corpus — and the
    // per-lang regression means broadcast back to <= 100 rows per lang
    val plan = physical(TextQueries.defs("q108_zipf_fit")(spark, dir))
      .split("== Initial Plan ==")(0)
    assert("""windowspecdefinition\(lang""".r.findFirstIn(plan).isDefined,
      s"rank window lost its lang partitioning:\n$plan")
    assert(plan.contains("partial_count"),
      s"token census lost its map-side partial — the window would rank occurrences:\n$plan")
    assert(plan.contains("BroadcastHashJoin"),
      s"regression means not broadcast:\n$plan")
    assert(!plan.contains("CartesianProduct"), s"grew a cartesian:\n$plan")
  }

  test("q111 funnel: conditional-min steps aggregate partial, no window, no cartesian") {
    // each step must be a partial-aggable min over user_id-keyed joins —
    // the windowFunnel-UDAF form would buffer unbounded per-user event
    // lists; a window or cartesian anywhere breaks the O(1)/user claim
    val plan = physical(RelationalQueries.defs("q111_event_funnel")(spark, dir))
      .split("== Initial Plan ==")(0)
    assert(plan.contains("partial_min"),
      s"step minima lost their map-side partials:\n$plan")
    assert(!plan.contains("windowspecdefinition"),
      s"funnel grew a window it doesn't need:\n$plan")
    assert(!plan.contains("CartesianProduct"), s"grew a cartesian:\n$plan")
  }

  test("q112 retention: cohort min partial, bounded size table broadcast, no window") {
    val plan = physical(RelationalQueries.defs("q112_cohort_retention")(spark, dir))
      .split("== Initial Plan ==")(0)
    assert(plan.contains("partial_min"),
      s"cohort assignment lost its map-side partial:\n$plan")
    assert(plan.contains("BroadcastHashJoin"),
      s"cohort-size table not broadcast:\n$plan")
    assert(!plan.contains("windowspecdefinition"),
      s"retention grew a window it doesn't need:\n$plan")
    assert(!plan.contains("CartesianProduct"), s"grew a cartesian:\n$plan")
  }

  test("q113 gap-fill: census partial below the checkpoint, type-partitioned MA") {
    // the (type, hour) census — the ONLY corpus-sized stage — is
    // checkpointed bounded, so the final plan reads its LogicalRDD; pin
    // the census's own partial-agg shape on the pre-checkpoint frame,
    // then the MA window partitioning and no-cartesian on the query
    val census = RelationalQueries.ev(spark, dir)
      .select(col("event_type"),
        org.apache.spark.sql.functions.expr("ts_us div 3600000000").as("h"))
      .groupBy(col("event_type"), col("h"))
      .agg(org.apache.spark.sql.functions.count(
        org.apache.spark.sql.functions.lit(1)).as("n"))
    assert(physical(census).contains("partial_count"),
      "hourly census lost its map-side partial")
    val plan = physical(RelationalQueries.defs("q113_timeseries_gapfill")(spark, dir))
      .split("== Initial Plan ==")(0)
    assert("""windowspecdefinition\(event_type""".r.findFirstIn(plan).isDefined,
      s"MA window lost its type partitioning:\n$plan")
    assert(!plan.contains("CartesianProduct"),
      s"spine join degenerated to a cartesian:\n$plan")
  }

  test("q114 cube: ONE Expand pass with partial aggs, not four queries") {
    // Spark must plan the cube as a single Expand + partial hash agg —
    // each input row fans to its 4 grouping sets map-side and only
    // aggregate buffers cross the shuffle
    val plan = physical(RelationalQueries.defs("q114_sales_cube")(spark, dir))
      .split("== Initial Plan ==")(0)
    assert(plan.contains("Expand"), s"cube lost its one-pass Expand form:\n$plan")
    assert(plan.contains("partial_count") && plan.contains("partial_sum"),
      s"cube aggregation lost its map-side partials:\n$plan")
    assert(!plan.contains("Union"), s"cube degenerated to unioned queries:\n$plan")
  }

  test("q116 basket pairs: basket table computed once, TakeOrdered top-k, partial census") {
    // the identical distinct-items subplan on both join sides must dedup
    // via ReusedExchange; the top-20 must be a TakeOrdered (no global
    // sort materialization); the pair census aggregates with partials.
    // (r19 measured two row-local no-join pair-explode forms SLOWER than
    // this self-join — the rejection and numbers live in
    // OPTIMIZATION_r19.md; this pin is the surviving shape's contract.)
    val plan = physical(RelationalQueries.defs("q116_basket_pairs")(spark, dir))
      .split("== Initial Plan ==")(0)
    assert(plan.contains("ReusedExchange") || plan.contains("ReusedQueryStage")
      || plan.contains("TableCacheQueryStage"),
      s"distinct-items subplan computed twice — exchange reuse lost:\n$plan")
    assert(plan.contains("TakeOrderedAndProject"),
      s"top-20 lost its TakeOrdered form:\n$plan")
    assert(plan.contains("partial_count"),
      s"pair census lost its map-side partial:\n$plan")
    assert(!plan.contains("CartesianProduct"), s"grew a cartesian:\n$plan")
  }

  test("q109/q110 correlations: means broadcast, partial sums, no window") {
    // the two-pass Pearson kernel: the bounded means table must
    // broadcast back to the doc rows, residual sums aggregate with
    // map-side partials, and nothing needs a window or cartesian
    for (q <- Seq("q109_len_quality_corr", "q110_surprisal_quality_corr")) {
      val plan = physical(TextQueries.defs(q)(spark, dir))
        .split("== Initial Plan ==")(0)
      assert(plan.contains("BroadcastHashJoin"),
        s"$q: means table not broadcast:\n$plan")
      assert(plan.contains("partial_sum"),
        s"$q: residual sums lost their map-side partials:\n$plan")
      assert(!plan.contains("windowspecdefinition"),
        s"$q: grew a window it doesn't need:\n$plan")
      assert(!plan.contains("CartesianProduct"), s"$q: grew a cartesian:\n$plan")
    }
  }

  test("artifact-reader queries carry no inline tokenization in their plans") {
    // q94/q107/q102 read their staging tables (tokenized corpus, df
    // census, 5-gram shingles, DSIR buckets) from the persisted
    // lexical-artifact store; a regression back to per-query staging
    // shows up as the tokenizer's regexp_replace (tokens() is pure
    // Column math) or the gram/feature UDF markers reappearing in the
    // physical plan — and silently re-bills build cost to the query.
    Seq(
      "q94_bm25_search" -> TextQueries.defs("q94_bm25_search"),
      "q107_ngram_novelty" -> TextQueries.defs("q107_ngram_novelty"),
      "q102_dsir_weights" -> TextQueries.defs("q102_dsir_weights")
    ).foreach { case (q, fn) =>
      val plan = physical(fn(spark, dir)).toLowerCase
      assert(!plan.contains("regexp_replace"),
        s"$q: inline tokenization reappeared:\n$plan")
      assert(!plan.contains("wordngrams"),
        s"$q: inline gram derivation reappeared:\n$plan")
    }
  }

  test("q119 semdedup: centroids broadcast, cell-equi pair join, no cartesian") {
    val plan = physical(VectorQueries.defs("q119_semdedup")(spark, dir))
    assert(plan.contains("BroadcastHashJoin"), s"centroids not broadcast:\n$plan")
    // the pairwise stage must be the cell-bucketed equi join (Σ|cell|²),
    // never an unkeyed corpus² product
    assert(!plan.contains("CartesianProduct"),
      s"pairwise stage degenerated to corpus²:\n$plan")
    // the drop-set distinct must run two-stage (map-side dedup below the
    // exchange, final above) — a keys-only HashAggregate pair
    assert("""HashAggregate\(keys=\[vec_id""".r.findAllIn(plan).size >= 2,
      s"drop-set dedup not two-stage:\n$plan")
  }

  test("q120 bloom: words bitset broadcast, literal width, no cartesian") {
    val plan = physical(TextQueries.defs("q120_bloom_decontaminate")(spark, dir))
    // m is a driver-side literal (one bloomWidthFor kernel with the
    // maintenance path), so the probe plan carries NO 1-row scalar join
    // at all; the m/32-row lane table rides a BroadcastHashJoin — the
    // probe path must not shuffle the corpus gram stream against it
    assert(!plan.contains("BroadcastNestedLoopJoin"),
      s"width became a planned scalar join again:\n$plan")
    assert(plan.contains("BroadcastHashJoin"),
      s"words bitset not broadcast:\n$plan")
    assert(!plan.contains("CartesianProduct"), s"cartesian:\n$plan")
    assert(plan.contains("partial_"), s"no partial aggregation:\n$plan")
    // every join on the probe path is a broadcast lookup (the audit set
    // and the lane table are both bounded): the corpus gram stream must
    // not shuffle before the per-doc partial agg
    assert(!plan.contains("SortMergeJoin"),
      s"probe path shuffled the gram stream:\n$plan")
  }

  test("q123 probe-only bloom: chained broadcast lookups, no shuffle join") {
    val plan = physical(TextQueries.defs("q123_bloom_probe")(spark, dir))
    // the deployed form: k=4 chained broadcast lane lookups + the final
    // per-doc partial agg are the WHOLE plan — any shuffle join, scalar
    // join, or cartesian means the production path regressed
    assert(plan.contains("BroadcastHashJoin"),
      s"words bitset not broadcast:\n$plan")
    assert(!plan.contains("SortMergeJoin"),
      s"probe path shuffled the gram stream:\n$plan")
    assert(!plan.contains("BroadcastNestedLoopJoin") &&
      !plan.contains("CartesianProduct"), s"unexpected join shape:\n$plan")
    assert(plan.contains("partial_"), s"no partial aggregation:\n$plan")
    // r19: the four probe positions come from ONE bloomPositionsUdf
    // evaluation per gram (element_at over its array alias) —
    // CollapseProject re-inlining the UDF 4× would undo the win (count
    // in the final AQE plan only; toString appends the initial plan too)
    assert("UDF".r.findAllMatchIn(plan.split("== Initial Plan ==")(0)).size == 1,
      s"bloom positions UDF not evaluated exactly once per gram:\n$plan")
  }

  test("q121 shuffle manifest: join-free, one sharded rank window, partial aggs") {
    val plan = physical(TextQueries.defs("q121_epoch_shuffle_manifest")(spark, dir))
    // the permutation key is row-local and the manifest is a rollup —
    // there is nothing to join
    assert(!plan.contains("Join"), s"manifest grew a join:\n$plan")
    assert(plan.contains("row_number"), s"rank window missing:\n$plan")
    // the window partitions by (epoch, shard) — world_size-sharded, the
    // q73 pattern — never by a constant
    assert(!plan.contains("Window [") ||
      !plan.contains("windowspecdefinition(1"),
      s"window degenerated to a single partition:\n$plan")
    assert(plan.contains("partial_"), s"no partial aggregation:\n$plan")
  }

  test("q122 gopher rules: row-local rules, windowless repetition census, no cartesian") {
    val plan = physical(TextQueries.defs("q122_gopher_rules")(spark, dir))
    // four rules are pure Column math and the fifth is a (doc, bigram)
    // partial agg joined back on doc_id — a corpus window would be the
    // regression
    assert(!plan.contains("Window"), s"rules grew a window:\n$plan")
    assert(!plan.contains("CartesianProduct"), s"cartesian:\n$plan")
    assert(plan.contains("partial_"), s"no partial aggregation:\n$plan")
  }
}
