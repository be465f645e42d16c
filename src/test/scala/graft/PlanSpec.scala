package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Physical-plan regression tests (SURVEY §2.B A5 "plan check" + the scale
  * audit): these lock in the plan properties the queries were designed
  * around — pushdown, column pruning, broadcast choice, partial
  * aggregation, and the absence of nested-loop fallbacks. A correctness
  * suite can't catch a plan regression (the answer stays right while the
  * 100 TB behavior collapses); this one does.
  */
class PlanSpec extends AnyFunSuite with BeforeAndAfterAll {

  // t14's builder eagerly checkpoints its gram counts even for plan-only
  // inspection — release what the suite registered at suite end
  override def afterAll(): Unit = {
    graft.data.Frames.releaseAll()
    // the per-run warehouse (bucketed j12/orders_bkt tables) would
    // otherwise accumulate one copy per suite run — but only delete it if
    // the shared getOrCreate session actually took THIS suite's per-run
    // config (another suite may have created the session first, in which
    // case the conf points at that session's live warehouse and deleting
    // it would break its registered tables mid-run)
    val wh = spark.conf.get("spark.sql.warehouse.dir").stripPrefix("file:")
    if (new java.io.File(wh).getName.startsWith("graft_warehouse_"))
      graft.data.Frames.deleteRecursively(new java.io.File(wh))
  }

  private val sf = "/root/testdata/sf0.001"

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .appName("plan-spec")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.sql.legacy.parquet.nanosAsLong", "true")
    .config("spark.sql.warehouse.dir",
      s"${sys.props("java.io.tmpdir")}/graft_warehouse_${System.nanoTime()}")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  private def plan(name: String): String =
    SparkEntry.queries(name)(spark, sf).queryExecution.executedPlan.toString

  test("a1 aggregates partially before the shuffle (map-side combine)") {
    val p = plan("a1_groupby_agg")
    assert("HashAggregate".r.findAllIn(p).size >= 2, s"expected partial+final HashAggregate:\n$p")
  }

  test("a1 pushes the shipdate filter into the parquet scan") {
    val p = plan("a1_groupby_agg")
    assert(p.contains("PushedFilters: [IsNotNull(l_shipdate), LessThanOrEqual(l_shipdate"),
      s"shipdate filter not pushed:\n$p")
  }

  test("p1 projection prunes unread columns at the scan") {
    val p = plan("p1_project")
    val readSchema = p.linesIterator.find(_.contains("ReadSchema")).getOrElse("")
    assert(!readSchema.contains("l_extendedprice") && !readSchema.contains("l_shipdate"),
      s"scan reads pruned columns: $readSchema")
  }

  test("p3 predicates reach the scan as pushed filters") {
    val p = plan("p3_filter")
    assert(p.contains("PushedFilters: [") && !p.contains("PushedFilters: []"),
      s"no pushed filters:\n$p")
  }

  test("j1 joins the dimension with a broadcast hash join") {
    assert(plan("j1_join_broadcast").contains("BroadcastHashJoin"))
  }

  test("j7 banded range join never falls back to a nested loop") {
    val p = plan("j7_range_join")
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"),
      s"range join fell back to a nested loop:\n$p")
  }

  test("a4 argmax is a single hash aggregate, not a window sort") {
    val p = plan("a4_argmax")
    assert(p.contains("HashAggregate") || p.contains("SortAggregate"))
    assert(!p.contains("Window"), s"argmax regressed to a window plan:\n$p")
  }

  test("w2 global top-k runs as TakeOrderedAndProject, not a full sort") {
    assert(plan("w2_global_topk").contains("TakeOrderedAndProject"))
  }

  test("d4/d8 inverted index plans no cartesian or nested-loop join") {
    for (q <- Seq("d4_ngram_jaccard", "d8_incremental_dedup")) {
      val p = plan(q)
      assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"),
        s"$q fell back to a quadratic join:\n$p")
    }
  }

  test("scalar-heavy queries stay inside whole-stage codegen") {
    for (q <- Seq("f_math", "f_string", "p3_filter")) {
      val p = plan(q)
      assert(p.contains("*("), s"$q has no whole-stage codegen span:\n$p")
    }
  }

  test("bucketed tables join co-located: no exchange on either side") {
    import graft.data.Tables
    import org.apache.spark.sql.functions.col
    // drop stale tables AND their locations — suites share one JVM session
    // (getOrCreate), so the warehouse dir may hold a previous run's files
    // while the in-memory catalog is fresh
    val warehouse = spark.conf.get("spark.sql.warehouse.dir").stripPrefix("file:")
    for (t <- Seq("orders_bkt", "lineitem_bkt")) {
      spark.sql(s"DROP TABLE IF EXISTS $t")
      val loc = new java.io.File(warehouse, t)
      if (loc.exists()) {
        import scala.reflect.io.Directory
        new Directory(loc).deleteRecursively()
      }
    }
    // bucket both sides on the join key — at 100 TB this is the write-once
    // layout that removes the per-query join shuffle entirely
    Tables(spark, sf, "orders").write
      .bucketBy(8, "o_orderkey").sortBy("o_orderkey")
      .mode("overwrite").saveAsTable("orders_bkt")
    Tables(spark, sf, "lineitem").write
      .bucketBy(8, "l_orderkey").sortBy("l_orderkey")
      .mode("overwrite").saveAsTable("lineitem_bkt")
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1") // force SMJ
      val joined = spark.table("lineitem_bkt")
        .join(spark.table("orders_bkt"), col("l_orderkey") === col("o_orderkey"))
      val p = joined.queryExecution.executedPlan.toString
      assert(p.contains("SortMergeJoin"), s"expected sort-merge join:\n$p")
      assert(!p.contains("Exchange"), s"bucketed join still shuffles:\n$p")
      // and it computes the same thing as the plain parquet join
      val plain = Tables(spark, sf, "lineitem")
        .join(Tables(spark, sf, "orders"), col("l_orderkey") === col("o_orderkey"))
      assert(joined.count() == plain.count())
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
  }

  test("j3 star join broadcasts every dimension (single fact shuffle)") {
    val p = plan("j3_star_join")
    assert("BroadcastHashJoin".r.findAllIn(p).size >= 3,
      s"star dims not broadcast:\n$p")
  }

  test("w8 deterministic sample runs as TakeOrderedAndProject (no global sort shuffle)") {
    val p = plan("w8_sample_topk")
    assert(p.contains("TakeOrderedAndProject"), s"expected map-side top-k:\n$p")
    assert(!p.contains("Exchange rangepartitioning"), s"global sort exchange present:\n$p")
  }

  test("map-side operators plan with zero exchanges") {
    // cleaning, normalization, quantization, unpivot: pure narrow pipelines —
    // any Exchange here is a plan regression that multiplies at 100 TB
    for (q <- Seq("t6_clean_text", "sim_l2norm", "sim_quantize", "o5_unpivot",
        "t13_pii_scrub")) {
      val p = plan(q)
      assert(!p.contains("Exchange"), s"$q gained a shuffle:\n$p")
    }
  }

  test("p5/p6 hash samples filter before their single aggregation exchange") {
    for (q <- Seq("p5_hash_sample", "p6_stratified_sample")) {
      val p = plan(q)
      // the sample predicate must sit under the aggregation, not after it —
      // exactly one shuffle boundary (partial agg -> final agg)
      assert("Exchange".r.findAllIn(p).size == 1, s"$q: expected 1 exchange:\n$p")
      val filterIdx = p.indexOf("Filter")
      val exchangeIdx = p.indexOf("Exchange")
      assert(filterIdx > exchangeIdx,
        s"$q: filter should be below the exchange (printed after):\n$p")
    }
  }

  test("s8 partitioned layout prunes directories at planning time") {
    val p = plan("s8_partition_prune")
    val pf = p.linesIterator.find(_.contains("PartitionFilters")).getOrElse("")
    assert(pf.contains("o_orderpriority") && !pf.contains("PartitionFilters: []"),
      s"partition filter not applied: $pf\n$p")
  }

  test("sim_near_dup_ivf join path: dynamic partition pruning on cell reaches the persisted corpus scan") {
    // the small-volume regime's Catalyst path (the one Verify/gate scales
    // exercise) must carry a DPP subquery on the cell-partitioned index
    // layout — at deployment cell counts a probe batch routed to a cell
    // subset then reads ONLY those cells' files (the s8 idiom on the
    // index store; r13 verdict ask #3's plan lock). The big-volume
    // regime dispatches to the blocked kernel, whose identity with this
    // path DataPlaneSpec proves separately.
    val p = plan("sim_near_dup_ivf")
    val pf = p.linesIterator.find(l =>
      l.contains("PartitionFilters") && l.contains("graft_ivf")).getOrElse("")
    assert(pf.contains("dynamicpruning"),
      s"cell scan lost its dynamic-pruning partition filter: $pf\n$p")
  }

  test("x1/x2 composed analytics broadcast every dimension, facts sort-merge/hash join") {
    for (q <- Seq("x1_priority_revenue", "x2_local_supplier_volume")) {
      val p = plan(q)
      assert(p.contains("BroadcastHashJoin"), s"$q: dims not broadcast:\n$p")
      assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
        s"$q: nested-loop fallback:\n$p")
    }
  }

  test("d7 contamination scan broadcasts the eval-set index") {
    // the whole scale story: probe shingles broadcast, corpus streams once
    val p = plan("d7_contamination")
    assert(p.contains("BroadcastHashJoin"), s"probe index not broadcast:\n$p")
  }

  test("d7b wide-gram contamination: broadcast probe index, staged explode") {
    val p = plan("d7b_contamination_wide")
    assert(p.contains("BroadcastHashJoin"), s"probe index not broadcast:\n$p")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"nested-loop fallback:\n$p")
    // the t10 guard: the gram array must be a staged projection so Generate
    // explodes a bound attribute, not the inlined per-element hash tree
    // (InferFiltersFromGenerate re-inlining shows up as xxhash64 inside the
    // scan's filter)
    val filterLines = p.linesIterator.filter(_.contains("Filter")).mkString("\n")
    assert(!filterLines.contains("xxhash64"),
      s"gram expression re-inlined into a filter:\n$filterLines")
  }

  test("j8b as-of join is one window pass, no join explosion") {
    val p = plan("j8b_asof_join")
    assert(p.contains("Window"), s"expected window formulation:\n$p")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"as-of fell back to a pair-explosion join:\n$p")
  }

  test("x3 corpus-prep pipeline: pruned scan, gate+sample map-side, two shuffles") {
    val p = plan("x3_corpus_prep")
    // scan reads only the pipeline's columns
    val readSchema = p.linesIterator.find(_.contains("ReadSchema")).getOrElse("")
    assert(!readSchema.contains("n_chars") && !readSchema.contains("source"),
      s"scan reads pruned columns: $readSchema")
    // exactly two shuffle boundaries: dedup-by-hash and the per-lang rollup
    assert("Exchange".r.findAllIn(p).size == 2, s"x3: expected 2 exchanges:\n$p")
    // partial aggregation on both shuffles
    assert("HashAggregate".r.findAllIn(p).size >= 4,
      s"x3: expected partial+final HashAggregate pairs:\n$p")
  }

  test("s12 tfrecord aggregate prunes the text-free read down to three features") {
    val p = plan("s12_tfrecord_roundtrip")
    val readSchema = p.linesIterator.find(_.contains("ReadSchema")).getOrElse("")
    assert(readSchema.contains("doc_id") && !readSchema.contains("text"),
      s"tfrecord scan not pruned: $readSchema")
  }

  test("loaded IVF index probe dynamically prunes to the routed cells' partitions") {
    // the persisted layout's payoff: the corpus scan carries a dynamic
    // partition filter on `cell` fed by the broadcast routing side, so only
    // routed cells' files are read (sim_ivf_ann uses the same path)
    val p = plan("sim_ivf_ann")
    assert(p.contains("dynamicpruning"),
      s"probe scan reads all cells (no dynamic partition pruning):\n$p")
  }

  test("loaded IVFADC probe prunes the CODE table to routed cells' partitions") {
    // the r12 gap closed: the inverted lists (cell, vec_id, vnorm, codes)
    // are persisted cell-partitioned like IvfIndex.save, so the ADC scan —
    // the demonstrated-value tier — reads only routed cells' FILES, not a
    // session-persisted frame that dies with the process
    val p = plan("sim_ivfpqr_ann")
    assert(p.contains("graft_ivfpq_"),
      s"ADC scan must read the PERSISTED inverted lists:\n$p")
    assert(p.contains("dynamicpruning"),
      s"code-table scan reads all cells (no dynamic partition pruning):\n$p")
  }

  test("t9 sequence packing: the bin rollup reuses the window's (source,shard) partitioning") {
    val p = plan("t9_pack_sequences")
    // one exchange total — the running-sum window shuffles on (source,shard)
    // and the groupBy(source,shard,bin_id) is satisfied by that partitioning
    // anchor to the operator-name boundary — ReusedExchange and
    // BroadcastExchange must not inflate the count, but a regression adding
    // ANY new shuffle (hash OR range, e.g. an orderBy slipping in) must
    // still be caught
    assert("(?<!Reused)(?<!Broadcast)Exchange ".r.findAllIn(p).size == 1,
      s"t9: expected 1 shuffle exchange:\n$p")
    assert(p.contains("Window"), s"t9: running token offset lost its window:\n$p")
  }

  test("t10 repetition combines bigram counts map-side (skew-robust on repetitive docs)") {
    val p = plan("t10_repetition")
    // partial+final HashAggregate on BOTH aggs: a pathologically repetitive
    // doc (the very thing this filter hunts) collapses to one row per
    // distinct bigram before the shuffle instead of flooding one reducer
    assert("HashAggregate".r.findAllIn(p).size >= 4,
      s"t10: expected partial+final pairs on both aggs:\n$p")
    assert(!p.contains("Window"), s"t10: regressed to a window plan:\n$p")
  }

  test("t10 explodes a bound attribute and keeps the bigram build out of the filter") {
    val p = plan("t10_repetition")
    // Generate evaluates complex generators interpreted, re-running split()
    // per element — the generator argument must be a staged attribute
    assert("Generate explode(?:_outer)?\\([a-zA-Z_]+#\\d+\\)".r.findFirstIn(p).isDefined,
      s"t10: Generate input is a nested expression tree, not a bound attribute:\n$p")
    // InferFiltersFromGenerate + pushdown would re-inline the whole
    // split-per-element transform into the scan filter — keep it out
    val filterLines = p.linesIterator.filter(_.trim.startsWith("+- Filter")).mkString("\n")
    assert(!filterLines.contains("transform("),
      s"t10: bigram transform re-inlined into a filter:\n$filterLines")
  }

  test("t11 quality filter: single per-domain shuffle, map-side partial agg") {
    val p = plan("t11_quality_filter")
    assert("Exchange".r.findAllIn(p).size == 1,
      s"t11: the per-domain rollup should be the ONLY exchange:\n$p")
    assert("HashAggregate".r.findAllIn(p).size >= 2,
      s"t11: expected partial+final HashAggregate:\n$p")
  }

  test("x6/x7 mixture: rates ride a broadcast join, corpus never shuffles pre-filter") {
    for (name <- Seq("x6_mixture_sample", "x7_pipeline_manifest")) {
      val p = plan(name)
      assert(p.contains("BroadcastHashJoin"),
        s"$name: per-domain rates frame must broadcast, not shuffle:\n$p")
      assert(!p.contains("SortMergeJoin") && !p.contains("CartesianProduct"),
        s"$name: corpus-sized join shuffle crept in:\n$p")
    }
  }

  test("d9 bloom probe filters map-side via scalar subquery before the verify join") {
    val p = plan("d9_bloom_dedup")
    assert(p.contains("might_contain"),
      s"d9: bloom probe missing from the physical plan:\n$p")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"d9: bloom filter value must arrive via scalar subquery, not a join:\n$p")
    // the probe filter must sit BELOW the exact-verify join: in the plan
    // string the first might_contain occurrence appears on the probe-side
    // scan branch, i.e., strictly after the topmost join operator line
    val joinIdx = p.indexOf("Join")
    val probeIdx = p.indexOf("might_contain")
    assert(joinIdx >= 0 && probeIdx > joinIdx,
      s"d9: probe filter not below the verify join:\n$p")
  }

  test("t14 boilerplate: staged gram explode, map-side combines, single scan in the gram build") {
    // the gram-count half (checkpointed by the query, so audited directly):
    // same generator discipline as t10 — the gram array is a staged bound
    // attribute, never a transform re-evaluated per element — and the
    // (doc,gram) count combines map-side over exactly one corpus scan
    val g = graft.llm.TextStats.boilerplateGramCounts(spark, sf)
      .queryExecution.executedPlan.toString
    assert("Generate explode(?:_outer)?\\([a-zA-Z_]+#\\d+\\)".r.findFirstIn(g).isDefined,
      s"t14: Generate input is a nested expression tree, not a bound attribute:\n$g")
    assert("HashAggregate".r.findAllIn(g).size >= 2,
      s"t14: (doc,gram) count lost its map-side partial:\n$g")
    assert("FileScan parquet".r.findAllIn(g).size == 1,
      s"t14: corpus scanned more than once in the gram build:\n$g")
  }

  test("t14 boilerplate: df is a skew-proof aggregate over the checkpointed counts, not a window") {
    val p = plan("t14_boilerplate_spans")
    // df must NOT be a count window over gh: the window ships every row of
    // the hottest gram (df ≈ n_docs for corpus-universal boilerplate) into
    // ONE task at deployment scale. The aggregate's map-side partials make
    // the hot reducer see one partial per upstream partition instead.
    assert(!p.contains("Window"), s"t14: df regressed to the skewed window over gh:\n$p")
    assert(p.contains("Join"), s"t14: df join back to counts missing:\n$p")
    // the gram build plans exactly TWICE (df branch + probe branch) — the
    // d10 checkpoint arithmetic: the count frame is nearly
    // positional-sized, so two pruned scans beat materializing it
    // (17.6 vs 10.1 s cold at sf10); a third scan would mean a consumer
    // stopped sharing a branch, one would mean the checkpoint came back
    assert("FileScan parquet".r.findAllIn(p).size == 2,
      s"t14: expected exactly two pruned corpus scans:\n$p")
    assert("HashAggregate".r.findAllIn(p).size >= 4,
      s"t14: expected partial+final pairs on df and the per-doc rollup:\n$p")
  }

  test("d10 anchors: staged gram explode, single corpus scan") {
    // same generator discipline as t10/t14: the gram array is a staged
    // bound attribute (never a transform re-evaluated per element) over
    // exactly one corpus scan
    val g = graft.llm.Dedup.substringAnchors(
      graft.data.Tables(spark, sf, "documents"))
      .queryExecution.executedPlan.toString
    // explode_outer of a bound struct-array attribute — NOT a non-outer
    // explode/posexplode: InferFiltersFromGenerate gives non-outer
    // generators a size(...)>0 filter that pushes below the staging
    // Project with the full transform inlined, re-splitting the text per
    // predicate in an interpreted Filter (measured 11x on this build)
    assert("Generate explode(?:_outer)?\\([a-zA-Z_]+#\\d+\\)".r.findFirstIn(g).isDefined,
      s"d10: Generate input must be a bound attribute:\n$g")
    // the REAL invariant behind both guards: the gram transform is planned
    // exactly once — an inferred filter or collapsed projection would clone
    // it into a second (interpreted) evaluation site
    assert("transform\\(sequence".r.findAllIn(g).size == 1,
      s"d10: gram transform planned more than once (inferred-filter trap):\n$g")
    assert("FileScan parquet".r.findAllIn(g).size == 1,
      s"d10: corpus scanned more than once in the anchor build:\n$g")
  }

  test("d10 spans: skew-proof gram frequency, doc-bounded window, two-scan anchor build") {
    val p = plan("d10_substring_spans")
    // gram frequency must be an AGGREGATE over gh (map-side partials),
    // never a count window over gh — the t14 skew trap: a corpus-universal
    // gram would ship every one of its positions to ONE task
    assert(!p.contains("windowspecdefinition(gh"),
      s"d10: gram frequency regressed to a window over gh:\n$p")
    // the islands window is legitimate ONLY partitioned by doc_id (state
    // bounded by a single document's length)
    assert(p.contains("windowspecdefinition(doc_id"),
      s"d10: islands row_number window missing or re-keyed:\n$p")
    // the duplicated-anchor probe is a semi join (moves 8-byte gh keys, no
    // payload duplication)
    assert(p.contains("LeftSemi"), s"d10: dup-gram probe lost its semi join:\n$p")
    // the anchor build plans EXACTLY twice — frequency branch + probe
    // branch. Two pruned scans are the measured-cheaper call (the anchor
    // table is fatter than the corpus text, so checkpointing it lost:
    // 12.6 s vs 9.2 s cold at sf10); a THIRD scan would mean a consumer
    // stopped sharing a branch, and dropping to one would mean a fat
    // materialization snuck back in
    assert("FileScan parquet".r.findAllIn(p).size == 2,
      s"d10: expected exactly two pruned corpus scans:\n$p")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"d10: quadratic join fallback:\n$p")
  }

  test("d11 trim: map-side rebuild — interval table joins the scan, tokens never shuffle") {
    val p = plan("d11_substring_trim")
    // d10's analysis half: skew-proof df, doc-bounded islands window
    assert(!p.contains("windowspecdefinition(gh"),
      s"d11: gram frequency regressed to a window over gh:\n$p")
    assert(p.contains("windowspecdefinition(doc_id"),
      s"d11: islands window missing or re-keyed:\n$p")
    assert(p.contains("LeftSemi"), s"d11: dup-gram probe lost its semi join:\n$p")
    // exactly three pruned scans: freq branch, probe branch, and the text
    // rebuild — the token arrays must be consumed where they are read,
    // never shuffled (the trim is a map-side filter/transform; only the
    // per-doc interval arrays move)
    assert("FileScan parquet".r.findAllIn(p).size == 3,
      s"d11: expected exactly three pruned corpus scans:\n$p")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"d11: quadratic join fallback:\n$p")
  }

  test("d4b prefix pair scan and d6b LSH grouping plan no cartesian or nested-loop join") {
    for (q <- Seq("d4b_jaccard_prefix", "d6b_neardup_groups_lsh")) {
      val p = plan(q)
      assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"),
        s"$q fell back to a quadratic join:\n$p")
    }
    // d4b's exact-verify attaches must be hash joins (nothing array-fat is
    // ever sorted — the crossScoredPairs discipline)
    val p = plan("d4b_jaccard_prefix")
    assert(p.contains("ShuffledHashJoin"),
      s"d4b: array attach lost its shuffle-hash hint:\n$p")
  }

  test("x8b approx card is single-pass (no Expand); exact x8 keeps its honest Expand") {
    val pa = plan("x8b_corpus_card_approx")
    assert(!pa.contains("Expand"),
      s"x8b: sketched card must not Expand the projection:\n$pa")
    assert("HashAggregate".r.findAllIn(pa).size >= 2,
      s"x8b: sketch partials lost their map-side half:\n$pa")
    // the contrast that justifies x8b's existence: three exact
    // countDistincts Expand the pruned projection ×3
    assert(plan("x8_corpus_card").contains("Expand"))
  }

  test("p8 epoch shuffle reads only doc_id and plans the dispatched rank path") {
    val p = plan("p8_epoch_shuffle")
    val readSchema = p.linesIterator.find(_.contains("ReadSchema")).getOrElse("")
    assert(readSchema.contains("doc_id") && !readSchema.contains("text"),
      s"p8 scan not pruned to doc_id: $readSchema")
    // at sf0.001 the dispatch takes the window path (a single-task sort is
    // correct under WindowMaxGroupRows); the distributed path's value
    // identity is DataPlaneSpec's p8 test
    assert(p.contains("Window"), s"p8: small-n path lost its window plan:\n$p")
  }

  test("t16 DSIR: score pass is scan -> project — no join, no generator (r14 fused fold)") {
    val p = plan("t16_dsir_weights")
    // the ≤256-entry log-ratio table packs into the dsir_score literal
    // (the NbScore idiom), so the score pass has NO join of any kind and
    // no explode — scan → project, the strongest form of the old
    // "fixed-size table rides broadcasts" promise (t15's vocab-sized
    // table still can't make it at 100 TB)
    assert(p.contains("dsir_score"), s"t16: fused scorer missing:\n$p")
    assert(!p.contains("Join"), s"t16: a join crept into the score pass:\n$p")
    assert(!p.contains("Generate"), s"t16: an explode crept into the score pass:\n$p")
  }

  test("t17 perplexity: count tables hash-join the bigram stream, vocab scalar broadcasts") {
    val p = plan("t17_bigram_perplexity")
    // the one-row vocab total must ride a broadcast (nested-loop on ONE
    // row is the broadcast fan-out, fine); the two count joins must be
    // real equi-joins, never a cartesian
    assert(!p.contains("CartesianProduct"), s"t17: cartesian crept in:\n$p")
    assert(p.contains("SortMergeJoin") || p.contains("ShuffledHashJoin") ||
      p.contains("BroadcastHashJoin"), s"t17: count joins missing:\n$p")
  }

  test("t19 NB classifier: fused score pass is a pure projection — no join, no agg, no explode") {
    val p = plan("t19_nb_classifier")
    // the r13 fused shape: the score pass folds each doc with the
    // codegen'd nb_score expression against the driver-packed model —
    // the plan the query RETURNS must contain NO join of any kind, no
    // explode, no aggregate, and no window: one scan, one projection
    // (train runs in separate jobs against the checkpointed vocab table)
    assert(p.contains("nb_score"),
      s"t19: score pass must run the fused nb_score projection:\n$p")
    Seq("CartesianProduct", "BroadcastHashJoin", "SortMergeJoin",
      "ShuffledHashJoin", "BroadcastNestedLoopJoin", "HashAggregate",
      "Generate", "windowspecdefinition", "Exchange").foreach(op =>
      assert(!p.contains(op), s"t19: fused score pass must not need $op:\n$p"))
  }

  test("t17b perplexity-score: reference LM broadcasts, score pass has no corpus-keyed shuffle join") {
    val p = plan("t17b_perplexity_score")
    assert(!p.contains("CartesianProduct"), s"t17b: cartesian crept in:\n$p")
    // deployment shape: both LM count tables are reference-sized and MUST
    // broadcast — any SMJ/shuffled-hash join means the corpus bigram
    // stream got re-keyed, the exact cost t17b exists to avoid
    assert("BroadcastHashJoin".r.findAllIn(p).size >= 2,
      s"t17b: both LM tables must ride broadcast joins:\n$p")
    assert(!p.contains("SortMergeJoin") && !p.contains("ShuffledHashJoin"),
      s"t17b: a corpus-keyed shuffle join crept into the score pass:\n$p")
  }

  test("t19b NB-score: fused deployment scoring is a pure projection over one corpus scan") {
    val p = plan("t19b_nb_score")
    // deployment shape, r13: the slice-trained model is packed driver-side
    // and every doc folds through the codegen'd nb_score projection — the
    // returned plan is scan → project, nothing else (training ran in its
    // own slice-pruned jobs at build time)
    assert(p.contains("nb_score"),
      s"t19b: score pass must run the fused nb_score projection:\n$p")
    Seq("CartesianProduct", "BroadcastHashJoin", "SortMergeJoin",
      "ShuffledHashJoin", "BroadcastNestedLoopJoin", "HashAggregate",
      "Generate", "windowspecdefinition", "Exchange").foreach(op =>
      assert(!p.contains(op), s"t19b: fused score pass must not need $op:\n$p"))
  }

  test("t20 BM25: no explode, stats broadcast, ranking is heap top-k not a global sort") {
    val p = plan("t20_bm25_topk")
    // per-term tf is an array filter INSIDE the scan's codegen — a
    // Generate here would mean the corpus token stream got exploded
    assert(!p.contains("Generate"), s"t20: tf regressed to an explode:\n$p")
    assert(p.contains("TakeOrderedAndProject"),
      s"t20: top-k must be per-partition heaps, never a full sort:\n$p")
    assert(!p.contains("CartesianProduct"), s"t20: cartesian crept in:\n$p")
    assert("FileScan parquet".r.findAllIn(p).size == 2,
      s"t20: expected the scoring scan + the stats scan, nothing more:\n$p")
  }

  test("sim_align_filter: centroids ride a broadcast back; no cartesian") {
    val p = plan("sim_align_filter")
    // the |sources|×dim centroid table must come back as a broadcast —
    // re-shuffling the corpus by source would be a second wide exchange
    assert(p.contains("BroadcastHashJoin"),
      s"sim_align_filter: centroid join lost its broadcast:\n$p")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"sim_align_filter: quadratic join fallback:\n$p")
  }

  test("x9 funnel: each stage scan prunes to its event_type at the source") {
    val p = plan("x9_funnel_stages")
    // three stage scans, each reading ONLY its type's rows (pushed filter),
    // plus the distinct-users scan; equi-joins only
    assert("EqualTo\\(event_type,".r.findAllIn(p).size >= 3,
      s"x9: stage scans lost their event_type pushdown:\n$p")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"x9: quadratic join fallback:\n$p")
    assert(!p.contains("windowspecdefinition"),
      s"x9: the cascade must stay aggregates+joins, never a per-user window:\n$p")
  }

  test("s13 z-order code is pure integer arithmetic inside codegen (no sort on read-back)") {
    val p = plan("s13_zorder_layout")
    // the declared query reads the WRITTEN layout and aggregates: one
    // exchange (the z-bucket aggregate), no join, no global sort
    assert(!p.contains("SortMergeJoin") && !p.contains("CartesianProduct"), p)
    assert("Exchange".r.findAllIn(p).size <= 1,
      s"s13 read-back should shuffle once, for the bucket aggregate:\n$p")
  }

  test("x10 full pipeline: manifest aggregates the checkpointed ledger, never re-scans the corpus") {
    val p = plan("x10_full_pipeline")
    // building the plan runs the pipeline's eager stages (ledger
    // checkpoint, decontamination, trim, slot dispatch); the RETURNED
    // manifest must then read only the checkpointed ledger and the
    // budget-bounded tail frames — ten stage rollups, zero parquet
    // re-scans (the "shared caches reused, no re-scan per stage" lock)
    assert(!p.contains("Scan parquet"),
      s"x10: a manifest stage re-scanned the corpus:\n$p")
    assert(p.contains("Scan ExistingRDD"),
      s"x10: manifest must read the checkpointed ledger:\n$p")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"x10: quadratic join fallback:\n$p")
  }

  test("x11 incremental manifest reads the persisted store, never re-fingerprints day-1 text") {
    val p = plan("x11_incremental_pipeline")
    // building the plan runs the batch-side eager stages (batch ledger
    // checkpoint, Bloom + decontam decisions) — the RETURNED manifest must
    // then read ONLY the persisted day-1 store (a parquet scan of the
    // graft_ledger dir: the fingerprint store IS the corpus side) plus the
    // checkpointed batch ledger / budget-bounded tails; day-1 document
    // text is never re-scanned by the incremental job
    assert(p.contains("graft_ledger_"),
      s"x11: the corpus side must scan the persisted fingerprint store:\n$p")
    assert(!p.contains("testdata"),
      s"x11: a manifest stage re-scanned corpus text:\n$p")
    assert(p.contains("Scan ExistingRDD"),
      s"x11: batch stages must read the checkpointed batch ledger:\n$p")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"x11: quadratic join fallback:\n$p")
  }

  test("x11c day-3 manifest reads the APPENDED store — day-1 AND day-2 text never re-read") {
    val p = plan("x11c_incremental_pipeline")
    // the eager side (append + day-3 batch decisions) runs while the plan
    // is built; the RETURNED manifest must read ONLY the persisted store
    // (now holding batch_id ∈ {0,1} — day-1 and day-2 fingerprints) plus
    // checkpointed batch/tail frames. Day-1 and day-2 document text is
    // never re-scanned by the day-3 job: its only view of both days is
    // the store parquet.
    assert(p.contains("graft_ledger_"),
      s"x11c: the corpus side must scan the persisted fingerprint store:\n$p")
    assert(!p.contains("testdata"),
      s"x11c: a manifest stage re-scanned corpus text:\n$p")
    assert(p.contains("Scan ExistingRDD"),
      s"x11c: batch stages must read the checkpointed batch ledger:\n$p")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"x11c: quadratic join fallback:\n$p")
  }

  test("j12 bucketed join plans zero exchanges over the co-located layout") {
    graft.ops.BucketedLayout.ensure(spark, sf) // charge the layout build here
    val p = plan("j12_bucketed_join")
    assert(p.contains("SortMergeJoin"),
      s"j12 must sort-merge the co-located buckets (hint pins it):\n$p")
    val joinRegion = p.substring(p.indexOf("SortMergeJoin"))
    assert(!joinRegion.contains("Exchange"),
      s"bucketed scans must feed the join with NO exchange below it:\n$p")
    assert(p.contains("SelectedBucketsCount"),
      s"scans must read bucket metadata (catalog table, not a path read):\n$p")
    // the only exchange in the whole plan is the 5-row final aggregate's
    assert("Exchange".r.findAllIn(p).size <= 1,
      s"expected at most the final-agg exchange:\n$p")
  }
}
