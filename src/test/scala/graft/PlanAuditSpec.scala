package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.FormattedMode
import scala.jdk.CollectionConverters._
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll

/** Physical-plan regression guards: the scale claims in SURVEY §2/§3
  * (single-scan operators, map-side top-k pruning, blocking joins
  * that never degenerate to cross products, pushdown + pruning) are
  * asserted here so a refactor that silently re-introduces a rescan
  * or a nested-loop join fails the suite, not just the next manual
  * plan audit.
  */
class PlanAuditSpec extends AnyFunSuite with BeforeAndAfterAll {

  val dir = "/root/testdata/sf0.001"

  @transient lazy val spark: SparkSession = GraftSession("PlanAuditSpec", 4)

  override def afterAll(): Unit = spark.stop()

  private def formatted(name: String): String =
    SparkEntry.queries(name)(spark, dir).queryExecution.explainString(FormattedMode)

  // count detail headers only — FormattedMode prints each node in the
  // tree AND again as a "(n) Scan parquet" detail section
  private def scans(plan: String): Int =
    """\(\d+\) Scan parquet""".r.findAllIn(plan).length

  test("single-scan operators stay single-scan") {
    Seq("text_filter", "text_rep_ngram", "agg_kmv_distinct",
      "embed_quantize", "pipeline_clean", "oct_ktx_parse",
      "text_chunk", "mm_audio_feats").foreach { n =>
      assert(scans(formatted(n)) === 1, s"$n grew extra scans")
    }
  }

  test("r13 operators keep their scale contracts") {
    // the profile is a union of per-column single-distinct branches:
    // six ONE-COLUMN scans (same bytes as one six-column scan on
    // columnar storage), each a plain two-phase hash aggregate. The
    // Expand-based single-agg alternative multiplies rows 6x before
    // partial aggregation — measured 3.5x slower at sf0.1 and
    // data-scaled at 100 TB, so its absence is the contract.
    val prof = formatted("q_table_profile")
    assert(scans(prof) === 6, "q_table_profile branch count changed")
    assert(!prof.contains("Expand"),
      "table profile regressed to the row-multiplying Expand plan")
    // all three ranking functions ride ONE Window node (one exchange,
    // one sort) — a per-function window would triple the shuffle
    val rank = formatted("q_rank_family")
    assert("""\(\d+\) Window\b""".r.findAllIn(rank).length === 1,
      "rank family split across Window nodes")
    // the RANGE frame is likewise one Window pass
    val rf = formatted("q_range_frame")
    assert("""\(\d+\) Window\b""".r.findAllIn(rf).length === 1,
      "range frame split across Window nodes")
    assert(scans(rf) === 1)
    // variant extraction is scan-side: one scan, one aggregate — the
    // parse must not force a pre-shuffle materialization
    val varp = formatted("q_variant")
    assert(scans(varp) === 1, "q_variant grew extra scans")
    assert(varp.contains("variant_get") || varp.contains("parse_json"),
      "variant path extraction vanished from the plan")
    // the windowed CEP row stays one scan + one hash exchange, like
    // its unwindowed twin (the day key rides the same shuffle)
    val mrw = formatted("q_match_recognize_win")
    assert(scans(mrw) === 1, "q_match_recognize_win grew extra scans")
  }

  test("pipeline_lineage: every leaf table attributed, predicates separated from projections") {
    val rows = graft.ops.Pipeline.lineage(spark, dir).collect()
      .map(r => (r.getString(0), r.getString(1))).toMap
    // the resolver must never fall through to the unknown-table mark
    assert(!rows.values.exists(_.contains("?")), s"unattributed leaf: $rows")
    // projection lineage crosses the alias chain down to leaf columns
    assert(rows("revenue") ===
      "lineitem.l_discount,lineitem.l_extendedprice")
    assert(rows("n_name") === "nation.n_name")
    // predicate lineage includes the filter column that appears in NO
    // projection — the impact-analysis case projection lineage misses
    assert(rows("_predicates").contains("orders.o_orderdate"))
    assert(!rows("revenue").contains("o_orderdate"))
  }

  test("stratified sampling prunes top-k map-side via WindowGroupLimit") {
    assert(formatted("sample_stratified").contains("WindowGroupLimit"))
  }

  test("r10 pair operators: no cross products, corpus joins never broadcast") {
    Seq("dedup_containment", "mm_phash", "graph_jaccard_links").foreach { n =>
      val p = formatted(n)
      assert(!p.contains("CartesianProduct"), s"$n plans a CartesianProduct")
      assert(!p.contains("BroadcastNestedLoopJoin"), s"$n plans a nested-loop join")
    }
    // the merge hints must actually land: a corpus-scaled build side
    // planned as broadcast is the r9 AQE-OOM failure class
    Seq("dedup_containment", "mm_phash").foreach { n =>
      assert(formatted(n).contains("SortMergeJoin"),
        s"$n lost its merge-hinted corpus join")
    }
    // nb_classify's V×C grid is a DELIBERATE bounded cross (Catalyst
    // constant-folds any synthetic key away): allow exactly one BNLJ
    // and require both its inputs to be aggregate-bounded (the vocab
    // top-k limit and the distinct classes), never a raw corpus scan
    val nb = formatted("text_nb_classify")
    assert(!nb.contains("CartesianProduct"))
    // detail headers only — FormattedMode prints each node twice
    assert("""\(\d+\) BroadcastNestedLoopJoin""".r.findAllIn(nb).length === 1,
      "the bounded V×C grid must be the ONLY nested-loop join")
    assert(nb.contains("TakeOrderedAndProject") || nb.contains("Limit"),
      "the vocab cap vanished — the grid side is no longer bounded")
  }

  test("q_match_recognize: one scan, one hash exchange, native regex projection") {
    val p = formatted("q_match_recognize")
    assert(scans(p) === 1, "pattern matching grew extra scans")
    // exactly ONE hash exchange (the groupBy user assembling the
    // sequences) plus the final orderBy's range exchange — a second
    // hashpartitioning would mean the match stage re-shuffled
    assert("""hashpartitioning""".r.findAllIn(p).length === 1,
      "the match stage re-shuffled beyond the sequence assembly")
    // the regex evaluation is a native Project expression over the
    // assembled per-user strings (not a UDF), and the sequence
    // assembly is one partial+final ObjectHashAggregate pair
    assert(p.contains("regexp_extract_all") && !p.contains("BatchEvalPython"),
      p.take(400))
    assert("""partial_collect_list""".r.findAllIn(p).nonEmpty,
      "the sequence assembly lost its map-side partial aggregate")
  }

  test("q_ohlc's two window passes share one exchange (re-sort, no re-shuffle)") {
    val p = formatted("q_ohlc")
    // two Sort nodes (asc + desc pass) over ONE hash-partitioning
    // exchange of the event rows plus the final orderBy's range
    // exchange — a second hashpartitioning would mean the windows
    // re-shuffled
    val hashEx = """hashpartitioning""".r.findAllIn(p).length
    assert(hashEx >= 1 && p.contains("Window"), p.take(400))
    assert("""\(\d+\) Exchange""".r.findAllIn(p).length <= 3,
      "q_ohlc grew an extra exchange between its window passes")
  }

  test("blocking-join pair operators never plan a cross product") {
    Seq("dedup_minhash_pairs", "dedup_ngram_jaccard", "sim_pairs_thresh",
      "dedup_embed", "sim_lsh_topk", "dedup_decontaminate",
      "sim_pq_topk", "text_tfidf", "dedup_bloom", "agg_cms_topk",
      "dedup_substring", "dedup_substring_hashed", "text_charlm",
      "sim_pq_kmeans", "sim_knn_graph", "sim_hybrid_rrf",
      "sim_maxsim", "dedup_incremental", "dedup_keep_best").foreach { n =>
      val p = formatted(n)
      assert(!p.contains("CartesianProduct"), s"$n plans a CartesianProduct")
      assert(!p.contains("BroadcastNestedLoopJoin"), s"$n plans a nested-loop join")
    }
  }

  test("range joins bucket to an equi-join, never a nested loop") {
    // the pure-range predicates would default to BNLJ/CartesianProduct;
    // the bucketed rewrites must plan a hash or sort-merge EQUI-join
    Seq("q_range_join", "q_interval_join").foreach { n =>
      val p = formatted(n)
      assert(!p.contains("CartesianProduct"), s"$n plans a CartesianProduct")
      assert(!p.contains("BroadcastNestedLoopJoin"), s"$n plans a nested-loop join")
      assert(p.contains("BroadcastHashJoin") || p.contains("SortMergeJoin") ||
        p.contains("ShuffledHashJoin"), s"$n lost its equi-join form")
    }
  }

  test("mixture sampling keeps the map-side WindowGroupLimit prune") {
    assert(formatted("sample_mixture").contains("WindowGroupLimit"))
  }

  test("bm25 / split-leakage / dsir keep their scale contracts") {
    // no pair operator may degenerate to a cross product
    Seq("sim_bm25_topk", "stats_split_leakage", "sample_dsir").foreach { n =>
      val p = formatted(n)
      assert(!p.contains("CartesianProduct"), s"$n plans a CartesianProduct")
      assert(!p.contains("BroadcastNestedLoopJoin"), s"$n plans a nested-loop join")
    }
    // bm25's bounded probe side must broadcast onto the posting join,
    // and the per-probe top-5 must prune map-side
    val bm = formatted("sim_bm25_topk")
    assert(bm.contains("BroadcastHashJoin"), "bm25 probe side lost its broadcast")
    assert(bm.contains("WindowGroupLimit"), "bm25 top-5 lost its map-side prune")
    // split leakage's best-neighbor rank must prune map-side too
    assert(formatted("stats_split_leakage").contains("WindowGroupLimit"),
      "split leakage best-neighbor lost its map-side prune")
    // dsir's selection must be distributed heap top-k, never a global
    // sort; its bounded model must broadcast back onto the features
    val ds = formatted("sample_dsir")
    assert(ds.contains("TakeOrderedAndProject"), "dsir top-k became a global sort")
    assert(ds.contains("BroadcastHashJoin"), "dsir model join lost its broadcast")
  }

  test("pca rounds compose without cartesian products or extra corpus scans") {
    val p = formatted("embed_pca_power")
    assert(!p.contains("CartesianProduct"), "pca plans a CartesianProduct")
    // the fit is a persisted train artifact (r13 optimization): the
    // power op's final plan reads the three 64-row artifact frames and
    // must never rescan the embeddings corpus — without per-round
    // truncation the lazily-composed round chain re-referenced the
    // centered long-form combinatorially (97 parquet scans measured)
    assert(!p.contains("embeddings.parquet"),
      "pca final plan rescans the embeddings corpus")
    assert(scans(p) <= 3, s"pca final plan grew extra scans: ${scans(p)}")
  }

  test("q15's scalar max joins as a 1-row broadcast, never a sort or single-partition window") {
    val p = formatted("q15_topsupp")
    assert(!p.contains("CartesianProduct"), "q15 plans a CartesianProduct")
    assert(!p.contains("Window"), "q15 degenerated to a window over the supplier frame")
    // the max-revenue condition must be a broadcast hash join (1-row build side)
    assert(p.contains("BroadcastHashJoin") || p.contains("BroadcastExchange"),
      "q15's scalar-max condition is not a broadcast join")
  }

  test("q22's urgent-order filter reaches the orders scan under the anti join") {
    val p = formatted("q22_global")
    assert(p.contains("LeftAnti"), "q22 lost its anti join")
    assert(p.contains("1-URGENT"), "q22's priority filter vanished from the plan")
    assert("""PushedFilters: \[[^\]]*o_orderpriority""".r.findFirstIn(p).isDefined,
      "q22's priority filter is not pushed to the orders scan")
  }

  test("q21's EXISTS/NOT-EXISTS decorrelation scans lineitem once, no self-join") {
    val p = formatted("q21_waiting")
    assert(!p.contains("CartesianProduct"), "q21 plans a CartesianProduct")
    // TPC-H Q21's correlated EXISTS pair would self-join lineitem
    // twice; the agg+window rewrite must keep exactly one lineitem
    // scan (orders + supplier are the other two)
    assert(scans(p) === 3, s"q21 expected 3 scans (lineitem+orders+supplier): ${scans(p)}")
    assert("""Scan parquet[\s\S]*lineitem""".r.findFirstIn(p).isDefined)
  }

  test("q3 carries no static broadcast hint on the linear-scaling customer side") {
    // The BUILDING slice grows with scale factor; the join choice must
    // be AQE's (runtime sizes), not a plan-time hint. The optimized
    // logical plan would pin a ResolvedHint/broadcast through to the
    // physical plan regardless of size — assert the hint is absent.
    // (the optimizer folds ResolvedHint into the Join node's JoinHint,
    // printed as `strategy=broadcast` — check both representations)
    val df = SparkEntry.queries("q3_topk")(spark, dir)
    val analyzed = df.queryExecution.analyzed.toString
    val optimized = df.queryExecution.optimizedPlan.toString
    assert(!analyzed.contains("ResolvedHint"), "q3 still carries a static join hint")
    assert(!optimized.contains("strategy=broadcast"), "q3 Join still pinned to broadcast")
  }

  test("fact scans push filters and prune columns") {
    val p = formatted("q1_agg")
    assert(p.contains("LessThanOrEqual(l_shipdate"), "shipdate filter not pushed")
    assert(!p.contains("l_partkey"), "unused column not pruned from ReadSchema")
    val p10 = formatted("q10_returns")
    assert(p10.contains("EqualTo(l_returnflag,R)"), "returnflag filter not pushed")
  }

  test("q6 pushes all four predicates to the lineitem scan") {
    val p = formatted("q6_revenue")
    assert(p.contains("GreaterThanOrEqual(l_shipdate"), "shipdate lower bound not pushed")
    assert(p.contains("LessThan(l_shipdate"), "shipdate upper bound not pushed")
    assert(p.contains("GreaterThanOrEqual(l_discount"), "discount bound not pushed")
    assert(p.contains("LessThan(l_quantity"), "quantity bound not pushed")
    // scan-and-aggregate only: no shuffle of data rows, just the
    // two-long partial aggregate exchange
    assert(scans(p) === 1)
  }

  test("q19's OR arms keep the equi hash join (no nested loop) and push the size envelope") {
    val p = formatted("q19_disjunct")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      "disjunctive join degenerated to a pair product")
    // the arm-independent bound p_size >= 1 is extractable from the
    // disjunction and must reach the part scan
    assert(p.contains("GreaterThanOrEqual(p_size,1)"), "common size bound not pushed")
    // the whole brand/size disjunction is pushable leaf-wise and must
    // reach the part scan as an Or(...) PushedFilter
    assert(p.contains("EqualTo(p_brand,Brand#1)"), "brand/size Or-filter not pushed")
    // and the quantity envelope must prune the lineitem scan
    assert(p.contains("GreaterThanOrEqual(l_quantity,1.0)"), "quantity envelope not pushed")
  }

  test("coreset's seed is an arg-min aggregate, never a corpus-wide window") {
    // the seed frame is checkpointed inside coreset, so audit the
    // factored-out un-checkpointed plan directly
    import org.apache.spark.sql.functions.col
    val base = Tables(spark, dir, "embeddings")
      .select(col("vec_id"), col("embedding"),
        ops.Similarity.dot(col("embedding"), col("embedding")).as("vn2"))
    val p = ops.Sampling.coresetSeed(base).queryExecution.explainString(FormattedMode)
    assert(!p.contains("Window"), "coreset seed funnels the corpus through a Window")
    assert(p.contains("HashAggregate") || p.contains("SortAggregate"),
      "coreset seed lost its aggregate arg-min")
  }

  test("q_skew_join's hot key is actually split by AQE, not just enabled") {
    // run at sf0.01 so the synthetic hot uid (-1, ~50% of events) owns
    // comfortably more shuffle bytes than the lowered 16KB threshold;
    // assert on the EXECUTED adaptive plan — the claim under test is
    // that OptimizeSkewedJoin fired, not that the config is set
    val skewDir = "/root/testdata/sf0.01"
    val df = relational.Queries.withSkewConfs(spark) {
      val plan = relational.Queries.skewJoinPlan(spark, skewDir)
      plan.collect()
      plan
    }
    val p = df.queryExecution.explainString(FormattedMode)
    assert(p.contains("skew=true"), "executed sort-merge join is not marked skew=true")
    assert("""AQEShuffleRead[\s\S]{0,200}skewed""".r.findFirstIn(p).isDefined,
      "no AQEShuffleRead in skewed mode — the hot partition was never split")
  }

  test("q18 aggregates lineitem before joining (only big orders reach the joins)") {
    val p = formatted("q18_large")
    // the per-order HashAggregate must sit BELOW the decorate joins.
    // FormattedMode prints root-first, so a child aggregate appears
    // AFTER the join that consumes it; the bad plan (join everything,
    // aggregate at the top) would print the aggregate first.
    val aggIdx = p.indexOf("HashAggregate")
    val joinIdx = p.indexOf("Join")
    assert(aggIdx >= 0 && joinIdx >= 0 && joinIdx < aggIdx,
      "per-order aggregate is not below the decorate joins")
  }

  test("zarr chunk decode broadcast-joins the tiny .zarray catalog, never shuffles the bytes") {
    // Zarr chunks carry no header, so the parse must join chunk bytes
    // against parsed .zarray metadata. The metadata side is
    // O(levels × channels); the chunk side is the 100 TB side — a
    // SortMergeJoin here would shuffle every payload byte on (c, s).
    Scratch.withDir("zarr_plan") { out =>
      graft.sources.ZarrBinary.writeContainer(spark, dir, out)
      val p = graft.sources.ZarrBinary.parseVoxels(spark, out)
        .queryExecution.explainString(FormattedMode)
      assert(p.contains("BroadcastHashJoin"),
        "chunk-metadata join is not a broadcast hash join")
      assert(!p.contains("SortMergeJoin"),
        "chunk bytes are shuffle-sorted for the metadata join")
    }
  }

  test("byte-round-trip operators never collect an unbounded frame on the driver") {
    // the staging-dir harnesses must keep parsed frames DISTRIBUTED
    // (eager localCheckpoint), never rebuild them driver-side — a
    // corpus-sized .collect() inside an operator is a driver OOM at
    // scale, not just a harness wart. Guarded at the source level
    // because a parallelize-from-collect and a localCheckpoint plan
    // both print as an ExistingRDD scan.
    def body(src: String, fn: String): String = {
      val i = src.indexOf(s"def $fn")
      assert(i >= 0, s"$fn not found")
      val rest = src.substring(i)
      val end = rest.indexOf("\n  def ")
      if (end < 0) rest else rest.substring(0, end)
    }
    val files = Seq(
      "src/main/scala/graft/octree/OctreeQueries.scala" ->
        Seq("ktxBytes", "tiffBytes"),
      "src/main/scala/graft/octree/KtxBinary.scala" ->
        Seq("writeBlocks", "parseProbes", "parseVoxels", "parseMipVoxels"),
      "src/main/scala/graft/octree/TiffBinary.scala" ->
        Seq("writeBlocks", "parseVoxels"))
    files.foreach { case (path, fns) =>
      val src = new String(java.nio.file.Files.readAllBytes(
        java.nio.file.Paths.get(path)), "UTF-8")
      fns.foreach { fn =>
        assert(!body(src, fn).contains(".collect("),
          s"$path/$fn collects a frame on the driver")
      }
    }
  }

  test("no Hadoop binaryFile scan is left under src/main") {
    // volume block files are listed on the driver and read on
    // executors through octree/TreeFiles; a binaryFile scan pays
    // Hadoop file-status and split costs on every tiny block file
    val stream = java.nio.file.Files.walk(java.nio.file.Paths.get("src/main"))
    val sources = try stream.iterator().asScala.filter(_.toString.endsWith(".scala")).toList
      finally stream.close()
    val hits = sources.filter(p => new String(java.nio.file.Files.readAllBytes(p), "UTF-8")
      .contains("format(\"binaryFile\")"))
    assert(sources.nonEmpty)
    assert(hits.isEmpty, s"binaryFile scans in ${hits.mkString(", ")}")
  }

  test("r10b operators keep their scale contracts") {
    // text_winnow: the selection is ONE doc-keyed window pass — a
    // second Window node would mean the explode+regroup crept back
    // (the full op checkpoints the print set, so audit the selection
    // subplan directly)
    val tw = graft.ops.TextAnalysis.winnowSel(Tables(spark, dir, "documents"))
      .queryExecution.explainString(FormattedMode)
    assert("""\(\d+\) Window""".r.findAllIn(tw).length === 1,
      "text_winnow selection is no longer a single window pass")
    assert(scans(tw) === 1, "the selection re-scans the corpus")
    assert(!tw.contains("CartesianProduct") &&
      !tw.contains("BroadcastNestedLoopJoin"))
    // q_ewma: both window passes (frame fold + desc rank) ride ONE
    // user_id exchange; a second hashpartitioning of the event rows
    // means the windows re-shuffled
    val qe = formatted("q_ewma")
    assert(qe.contains("Window"))
    assert("""\(\d+\) Exchange""".r.findAllIn(qe).length <= 3,
      "q_ewma grew an extra exchange between its window passes")
    // q_zorder_skip: file assignment must stay scan-side arithmetic —
    // NO Window (a global rank would single-partition the table); the
    // only nested-loop joins are the broadcast one-row maxima frames
    val zo = formatted("q_zorder_skip")
    assert(!zo.contains("Window"),
      "q_zorder_skip acquired a global-rank window")
    assert(!zo.contains("CartesianProduct"))
    // dedup_normalized / stats_diversity: still single corpus scans
    Seq("dedup_normalized", "stats_diversity").foreach { n =>
      assert(scans(formatted(n)) === 1, s"$n grew extra scans")
    }
  }

  test("q_dpp: the fact scan carries a dynamicpruning partition filter and prunes at runtime") {
    val (df, store) = graft.relational.Queries.dppPlan(spark, dir)
    try {
      val plan = df.queryExecution.explainString(FormattedMode)
      assert(plan.toLowerCase.contains("dynamicpruning"),
        "no dynamicpruning subquery reached the fact scan")
      assert(df.collect().nonEmpty)
    } finally Scratch.rm(store)
  }

  test("src_zorder_store read-back: the catalog scan opens ONLY the stats-planned files and pushes the box") {
    import org.apache.spark.sql.functions._
    import graft.sources.ZOrderStore
    val st = ZOrderStore.stage(spark, dir)
    try {
      val hit = ZOrderStore.plan(st)
      val hitFids = hit.map(_.getAs[Long]("fid"))
      val (pkLo, pkHi, skLo, skHi) = ZOrderStore.box(st)
      assert(hit.nonEmpty && hit.length < st.stats.length,
        "the stats plan did not prune (or pruned everything)")
      // the read a manifest-planning engine issues: the whole table,
      // the fid list from the stats as a partition predicate that must
      // cut the scan down to the planned files, the box riding along
      // for parquet row-group pruning
      val df = st.read(st.stats)
        .filter(col("fid").isin(hitFids: _*) &&
          col("pk") >= pkLo && col("pk") <= pkHi &&
          col("sk") >= skLo && col("sk") <= skHi)
        .agg(count(lit(1)).as("n"), sum("price_c").as("s"))
      df.collect()
      // AQE nests the executed plan inside AdaptiveSparkPlanExec /
      // QueryStageExec leaves — recurse through both to reach the scan
      import org.apache.spark.sql.execution.SparkPlan
      import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
      def allNodes(p: SparkPlan): Seq[SparkPlan] = p +: (p match {
        case a: AdaptiveSparkPlanExec => allNodes(a.executedPlan)
        case q: QueryStageExec => allNodes(q.plan)
        case o => o.children.flatMap(allNodes)
      })
      val scan = allNodes(df.queryExecution.executedPlan).collectFirst {
        case s: org.apache.spark.sql.execution.FileSourceScanExec => s
      }.getOrElse(fail("no FileSourceScanExec in the read-back plan"))
      // one z-sorted file per fid: files opened == stats-planned fids,
      // Exchange-free on the scan side (partition pruning at plan time)
      assert(scan.metrics("numFiles").value === hit.length.toLong,
        "the scan opened files outside the stats plan")
      val plan = df.queryExecution.explainString(FormattedMode)
      assert(plan.contains("PartitionFilters") && plan.contains("fid"),
        "fid did not become a partition filter")
      assert("""PushedFilters: \[[^\]]*pk""".r.findFirstIn(plan).isDefined,
        "the box predicate was not pushed into the parquet scan")
    } finally st.drop()
  }

  test("q_runtime_filter: the fact side carries an injected bloom filter") {
    import graft.relational.Queries
    val confs = Seq(
      "spark.sql.optimizer.runtime.bloomFilter.enabled" -> "true",
      "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold" -> "0",
      "spark.sql.autoBroadcastJoinThreshold" -> "-1")
    confs.foreach { case (k, v) => spark.conf.set(k, v) }
    try {
      val j = Queries.runtimeFiltered(spark, dir)
      j.count(): Unit
      val plan = j.queryExecution.explainString(FormattedMode)
      assert(plan.toLowerCase.contains("bloom_filter") ||
        plan.toLowerCase.contains("mightcontain"),
        "no runtime bloom filter was injected:\n" + plan)
    } finally confs.foreach { case (k, _) => spark.conf.unset(k) }
  }

  test("q_bucket_join: co-located bucketed tables join with no Exchange, no Sort") {
    import graft.relational.Queries
    val root = Scratch.path("bktjoin_audit")
    val tag = new java.io.File(root).getName.stripPrefix("graft_bktjoin_audit_")
    val tl = s"li_bkt_audit_$tag"; val to = s"ord_bkt_audit_$tag"
    try {
      Queries.writeBucketed(Tables(spark, dir, "lineitem")
        .select(org.apache.spark.sql.functions.col("l_orderkey"),
          org.apache.spark.sql.functions.col("l_extendedprice")),
        "l_orderkey", tl, s"$root/l")
      Queries.writeBucketed(Tables(spark, dir, "orders")
        .select(org.apache.spark.sql.functions.col("o_orderkey"),
          org.apache.spark.sql.functions.col("o_orderpriority")),
        "o_orderkey", to, s"$root/o")
      spark.conf.set(
        "spark.sql.legacy.bucketedTableScan.outputOrdering", "true")
      val j = Queries.bucketJoined(spark, tl, to)
      j.count(): Unit // finalize any adaptive plan
      val plan = j.queryExecution.explainString(FormattedMode)
      assert(plan.contains("SortMergeJoin"),
        "bucketed join did not plan as a sort-merge join")
      assert(!plan.contains("Exchange"),
        "co-located bucketed join still shuffles:\n" + plan)
      assert(!"""\(\d+\) Sort\b""".r.findFirstIn(plan).isDefined,
        "one-file-per-bucket sortBy layout did not eliminate the Sort:\n" + plan)
    } finally {
      spark.conf.unset("spark.sql.legacy.bucketedTableScan.outputOrdering")
      spark.sql(s"DROP TABLE IF EXISTS $tl")
      spark.sql(s"DROP TABLE IF EXISTS $to")
      Scratch.rm(root)
    }
  }
}
