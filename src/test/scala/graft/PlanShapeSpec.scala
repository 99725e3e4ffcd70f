package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.operators.{Aggregates, Joins, Relational}

/** Physical-plan shape assertions (SURVEY.md §4): the optimizations that
  * make operators viable at 100 TB must actually appear in the plan —
  * filter pushdown + column pruning into the parquet scan, broadcast
  * joins for dims, TakeOrderedAndProject for top-k, and partial+final
  * hash aggregation.
  */
class PlanShapeSpec extends AnyFunSuite {
  val spark = TestSpark.spark
  import spark.implicits._
  val sf = TestSpark.sf

  private def plan(df: org.apache.spark.sql.DataFrame): String =
    df.queryExecution.executedPlan.toString

  test("projection pushdown prunes the parquet read schema to 2 columns") {
    val p = plan(Relational.scanProjectionPushdown(spark, sf))
    assert(p.contains("ReadSchema: struct<l_orderkey:bigint,l_extendedprice:double>"),
      s"expected pruned ReadSchema, got:\n$p")
  }

  test("filter is pushed into the parquet scan") {
    val p = plan(Relational.scanProjectionPushdown(spark, sf))
    assert(p.contains("PushedFilters: [") && p.contains("LessThan(l_orderkey,100)"),
      s"expected pushed filter, got:\n$p")
  }

  test("scan_partition_prune: the partition predicate resolves against " +
      "directory names — only the matching partition's files are read") {
    val df = graft.sources.SinkQueries.scanPartitionPrune(spark, sf)
    df.collect() // materialize so the scan's numFiles metric is final
    val ep = df.queryExecution.executedPlan
    val scans = SpecUtil.collectPlan(ep) {
      case f: org.apache.spark.sql.execution.FileSourceScanExec => f
    }
    assert(scans.size == 1, s"expected one file scan:\n$ep")
    val f = scans.head
    // the predicate is a PARTITION filter (planning-time directory
    // prune), not a data filter evaluated per row group
    assert(f.partitionFilters.exists(_.toString.contains("p_brand")),
      s"expected a p_brand PartitionFilter, got ${f.partitionFilters}:\n$ep")
    // files actually opened = the one matching brand directory, out of
    // 25 brand partitions on disk ('#' URL-escapes to %23 in the path)
    val out = new java.io.File(f.relation.location.rootPaths.head.toUri)
    def parquets(d: java.io.File): Int =
      d.listFiles().map(c => if (c.isDirectory) parquets(c)
        else if (c.getName.endsWith(".parquet")) 1 else 0).sum
    val total = parquets(out)
    val matching = parquets(new java.io.File(out, "p_brand=Brand%2313"))
    assert(matching >= 1 && total > matching,
      s"fixture must have >1 brand dir: total=$total matching=$matching")
    val numFiles = f.metrics("numFiles").value
    assert(numFiles == matching,
      s"scan must open ONLY the matching partition's files: " +
        s"read $numFiles of $total (matching dir has $matching)")
  }

  test("dim join is a broadcast hash join (no fact-side shuffle)") {
    val p = plan(Joins.joinBroadcast(spark, sf))
    assert(p.contains("BroadcastHashJoin"), s"expected BroadcastHashJoin:\n$p")
  }

  test("ORDER BY + LIMIT plans TakeOrderedAndProject, not a global sort") {
    val p = plan(Relational.limitTopk(spark, sf))
    assert(p.contains("TakeOrderedAndProject"), s"expected top-k operator:\n$p")
  }

  test("group-by emits partial + final hash aggregation") {
    val p = plan(Aggregates.aggGroupSum(spark, sf))
    assert("HashAggregate".r.findAllIn(p).length >= 2,
      s"expected 2-phase HashAggregate:\n$p")
  }

  test("multiway star join broadcasts both tiny dims") {
    val p = plan(Joins.joinMultiway(spark, sf))
    assert("BroadcastHashJoin".r.findAllIn(p).length >= 2,
      s"expected ≥2 broadcast joins (nation, region):\n$p")
  }

  test("TPC-H-shaped composites: pushed dim filters, broadcast dims, one agg, top-k (r7 #2)") {
    import graft.operators.MacroQueries
    // q3: the segment filter reaches the customer scan; top-10 is
    // TakeOrderedAndProject, never a global sort
    val p3 = plan(MacroQueries.qShapedQ3(spark, sf))
    assert(p3.contains("BUILDING") && p3.contains("PushedFilters"),
      s"q3 segment filter must reach the scan:\n$p3")
    assert(p3.contains("TakeOrderedAndProject"), s"q3 expected top-k:\n$p3")
    assert("HashAggregate".r.findAllIn(p3).length >= 2,
      s"q3 expected partial+final agg:\n$p3")
    // q5: six tables, no product join, supplier/nation/region broadcast
    val p5 = plan(MacroQueries.qShapedQ5(spark, sf))
    assert("BroadcastHashJoin".r.findAllIn(p5).length >= 3,
      s"q5 expected ≥3 broadcast dim joins:\n$p5")
    assert(!p5.contains("CartesianProduct") &&
      !p5.contains("BroadcastNestedLoopJoin"),
      s"q5 must not plan a product join:\n$p5")
    // q10: returnflag filter pushed to the lineitem scan; single agg
    val p10 = plan(MacroQueries.qShapedQ10(spark, sf))
    assert(p10.contains("EqualTo(l_returnflag,R)"),
      s"q10 returnflag filter must be pushed:\n$p10")
    assert(p10.contains("TakeOrderedAndProject"), s"q10 expected top-k:\n$p10")
    // q18: the HAVING aggregate IS the final per-order sum (round-11
    // collapse) — exactly ONE aggregate pair over ONE lineitem scan,
    // qualifying survivors join to orders/customer, no products, top-k.
    // Counted STRUCTURALLY over the AQE-final plan (ADVICE r11: regex
    // over the rendered string miscounts on reused-stage reprints and
    // breaks on aggregate-exec renames).
    val q18 = MacroQueries.qShapedQ18(spark, sf)
    q18.collect()
    val ep18 = q18.queryExecution.executedPlan
    val p18 = ep18.toString
    assert(!p18.contains("LeftSemi"),
      s"q18 must not re-join the fact (the re-aggregation is collapsed):\n$p18")
    val liScans18 = SpecUtil.collectPlan(ep18) {
      case f: org.apache.spark.sql.execution.FileSourceScanExec
          if f.metadata.get("Location").exists(_.contains("lineitem")) =>
        System.identityHashCode(f)
    }.toSet
    assert(liScans18.size == 1,
      s"q18 must scan lineitem exactly once, got ${liScans18.size}:\n$p18")
    val aggs18 = SpecUtil.collectPlan(ep18) {
      case a: org.apache.spark.sql.execution.aggregate.BaseAggregateExec =>
        System.identityHashCode(a)
    }.toSet
    assert(aggs18.size == 2,
      s"q18 expected exactly one partial+final agg pair, got " +
        s"${aggs18.size}:\n$p18")
    assert(!p18.contains("CartesianProduct") &&
      !p18.contains("BroadcastNestedLoopJoin"),
      s"q18 must not plan a product join:\n$p18")
    assert(p18.contains("TakeOrderedAndProject"), s"q18 expected top-k:\n$p18")
    // q21: both correlations decorrelate to KEYED fact self-joins (one
    // LeftSemi, one LeftAnti, each with the supplier-inequality
    // residual) — never a product; supplier dim broadcasts; top-20 is
    // TakeOrderedAndProject
    val q21 = MacroQueries.qShapedQ21(spark, sf)
    q21.collect()
    val p21 = q21.queryExecution.executedPlan.toString
    assert(p21.contains("LeftSemi") && p21.contains("LeftAnti"),
      s"q21 expected decorrelated semi+anti self-joins:\n$p21")
    assert(!p21.contains("CartesianProduct") &&
      !p21.contains("BroadcastNestedLoopJoin"),
      s"q21 must not plan a product join:\n$p21")
    assert(p21.contains("TakeOrderedAndProject"), s"q21 expected top-k:\n$p21")
  }

  test("q7/q14 composites: nation filters under the broadcasts, no products, partial aggs") {
    import graft.operators.MacroQueries
    // q7: both nation roles broadcast WITH the pair filter already
    // applied (23/25 nations die before the fact join); no product
    val p7 = plan(MacroQueries.qShapedQ7(spark, sf))
    assert("BroadcastHashJoin".r.findAllIn(p7).length >= 3,
      s"q7 expected ≥3 broadcast dim joins:\n$p7")
    assert(p7.contains("NATION_12"),
      s"q7 nation filter must sit in the plan (pushed under the joins):\n$p7")
    assert(!p7.contains("CartesianProduct") &&
      !p7.contains("BroadcastNestedLoopJoin"),
      s"q7 must not plan a product join:\n$p7")
    assert("HashAggregate".r.findAllIn(p7).length >= 2,
      s"q7 expected partial+final agg:\n$p7")
    // q14: the part dim is broadcast; the global agg still runs
    // partial+final (one row per executor crosses the exchange); the
    // month filter reaches the lineitem scan
    val p14 = plan(MacroQueries.qShapedQ14(spark, sf))
    assert(p14.contains("BroadcastHashJoin"),
      s"q14 expected the part dim broadcast:\n$p14")
    assert("HashAggregate".r.findAllIn(p14).length >= 2,
      s"q14 expected partial+final agg:\n$p14")
    assert(p14.contains("PushedFilters") && p14.contains("l_shipdate"),
      s"q14 month filter must reach the scan:\n$p14")
  }

  test("q4/q22 composites: EXISTS→semi and NOT EXISTS→anti, filters pushed") {
    import graft.operators.MacroQueries
    // q4: the correlated EXISTS decorrelates to one left-semi join;
    // the half-year filter reaches the orders scan
    val p4 = plan(MacroQueries.qShapedQ4(spark, sf))
    assert(p4.contains("LeftSemi"), s"q4 expected a semi join:\n$p4")
    assert(p4.contains("PushedFilters") && p4.contains("o_orderdate"),
      s"q4 date filter must reach the scan:\n$p4")
    assert(!p4.contains("CartesianProduct") &&
      !p4.contains("BroadcastNestedLoopJoin"),
      s"q4 must not plan a product join:\n$p4")
    // q22: NOT EXISTS decorrelates to a left-anti join whose build side
    // is the premium slice (price filter pushed); the scalar average is
    // a broadcast single row (the allowed 1-row product)
    val p22 = plan(MacroQueries.qShapedQ22(spark, sf))
    assert(p22.contains("LeftAnti"), s"q22 expected an anti join:\n$p22")
    assert(p22.contains("GreaterThan(o_totalprice,400000"),
      s"q22 premium filter must be pushed to the orders scan:\n$p22")
  }

  test("q8/q13/q15/q17/q19 composites: broadcast dims, pushed disjunct bounds, keyed windows, no products") {
    import graft.operators.MacroQueries
    // q8: the longest dim chain — part/nation×2/region/supplier all
    // broadcast, the type filter pushed to the part scan, no products
    val p8 = plan(MacroQueries.qShapedQ8(spark, sf))
    assert("BroadcastHashJoin".r.findAllIn(p8).length >= 4,
      s"q8 expected ≥4 broadcast dim joins:\n$p8")
    assert(p8.contains("EqualTo(p_type,ECONOMY)"),
      s"q8 type filter must be pushed to the part scan:\n$p8")
    assert(!p8.contains("CartesianProduct") &&
      !p8.contains("BroadcastNestedLoopJoin"),
      s"q8 must not plan a product join:\n$p8")
    assert("HashAggregate".r.findAllIn(p8).length >= 2,
      s"q8 expected partial+final agg:\n$p8")
    // q13: the LEFT OUTER join must survive planning (zero-order
    // customers are the point), and no product sneaks in
    val p13 = plan(MacroQueries.qShapedQ13(spark, sf))
    assert(p13.contains("LeftOuter"), s"q13 expected a left outer join:\n$p13")
    assert(!p13.contains("CartesianProduct") &&
      !p13.contains("BroadcastNestedLoopJoin"),
      s"q13 must not plan a product join:\n$p13")
    // q15: the max attaches as a ONE-ROW broadcast EQUI-join on the
    // exact decimal — NO window anywhere (an unpartitioned rank would
    // funnel the frame through one task), and no product: the 1-row
    // attach is a hash join on the value
    val q15 = MacroQueries.qShapedQ15(spark, sf)
    q15.collect()
    val ep15 = q15.queryExecution.executedPlan
    assert(SpecUtil.collectPlan(ep15) {
      case w: org.apache.spark.sql.execution.window.WindowExec => w
    }.isEmpty, s"q15 must not plan any window:\n${ep15.toString}")
    val p15 = ep15.toString
    assert(!p15.contains("CartesianProduct") &&
      !p15.contains("BroadcastNestedLoopJoin"),
      s"q15's max attach must be a keyed hash join, not a product:\n$p15")
    assert(p15.contains("BroadcastHashJoin"),
      s"q15 expected broadcast joins (max attach + supplier dim):\n$p15")
    // q17: the correlated AVG decorrelates to a window KEYED on
    // l_partkey over ONE brand-filtered scan — never a second lineitem
    // pass, never a product
    val q17 = MacroQueries.qShapedQ17(spark, sf)
    q17.collect()
    val ep17 = q17.queryExecution.executedPlan
    val liScans17 = SpecUtil.collectPlan(ep17) {
      case f: org.apache.spark.sql.execution.FileSourceScanExec
          if f.metadata.get("Location").exists(_.contains("lineitem")) =>
        System.identityHashCode(f)
    }.toSet
    assert(liScans17.size == 1,
      s"q17 must scan lineitem exactly once:\n${ep17.toString}")
    val wins17 = SpecUtil.collectPlan(ep17) {
      case w: org.apache.spark.sql.execution.window.WindowExec =>
        w.partitionSpec.map(_.sql).mkString(",")
    }
    assert(wins17.nonEmpty && wins17.forall(_.contains("l_partkey")),
      s"q17 window must be KEYED on l_partkey, got $wins17:\n${ep17.toString}")
    val p17 = ep17.toString
    assert(!p17.contains("CartesianProduct") &&
      !p17.contains("BroadcastNestedLoopJoin"),
      s"q17 must not plan a product join:\n$p17")
    // q19: the equi key is factored out of the disjunction so the join
    // stays a broadcast HASH join; the union-of-ranges quantity bound
    // reaches the lineitem scan and the brand IN-list the part scan
    val p19 = plan(MacroQueries.qShapedQ19(spark, sf))
    assert(p19.contains("BroadcastHashJoin") &&
      !p19.contains("BroadcastNestedLoopJoin") &&
      !p19.contains("CartesianProduct"),
      s"q19 must plan a hash join, not a product:\n$p19")
    assert(p19.contains("GreaterThanOrEqual(l_quantity,1.0)") &&
      p19.contains("LessThanOrEqual(l_quantity,30.0)"),
      s"q19 quantity range must be pushed to the lineitem scan:\n$p19")
    assert(p19.contains("In(p_brand"),
      s"q19 brand IN-list must be pushed to the part scan:\n$p19")
  }

  test("decontaminate_bloom: might_contain prefilter sits under the confirm join") {
    val df = graft.operators.TextOps.decontaminateBloom(spark, sf)
    val p = plan(df)
    assert(p.contains("might_contain"),
      s"bloom prefilter must be in the executed plan:\n$p")
    // the prefilter evaluates corpus-side BEFORE the exact confirm
    // join: in the plan string the first might_contain occurrence is
    // below (= printed after) the join operator, i.e. on its input
    val joinIdx = p.indexOf("Join")
    val mcIdx = p.indexOf("might_contain")
    assert(joinIdx >= 0 && mcIdx > joinIdx,
      s"prefilter must be an input of the confirm join:\n$p")
  }

  test("pipeline_curate_v2: one DAG, keyed only — bloom prefilter in, no products") {
    val p = plan(graft.operators.TextOps.pipelineCurateV2(spark, sf))
    assert(p.contains("might_contain"),
      s"v2 must run the bloom decontamination path:\n$p")
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"),
      s"v2 must stay keyed end to end:\n$p")
    assert(p.contains("LeftAnti"),
      s"v2 expected anti joins for the gate/decontaminate stages:\n$p")
  }

  test("dedup_span: inverted-index shape — keyed aggregation + join, no product, no window") {
    val p = plan(graft.operators.MinHashDedup.dedupSpan(spark, sf))
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"),
      s"dedup_span must not pair all docs:\n$p")
    assert(!p.contains("Window"), s"dedup_span needs no window:\n$p")
    assert("HashAggregate".r.findAllIn(p).length >= 2,
      s"dedup_span expected partial+final aggs:\n$p")
  }

  test("agg_bitmap_rollup: three aggregation levels, all partial+final, no raw-row re-shuffle") {
    val p = plan(Aggregates.aggBitmapRollup(spark, TestSpark.sf))
    assert(p.contains("bitmap_construct_agg") || p.contains("BitmapConstructAgg")
      || p.contains("bitmap_count"),
      s"expected the bitmap aggregate surface in the plan:\n$p")
    assert(!p.contains("CartesianProduct"),
      s"bitmap rollup must stay keyed:\n$p")
  }

  test("as-of join is a single shuffle + window (no join explosion)") {
    val p = plan(Joins.joinAsOf(spark, sf))
    assert(p.contains("Window"), s"expected window operator:\n$p")
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"),
      s"as-of must not plan a product join:\n$p")
  }

  test("LATERAL + ORDER BY + LIMIT decorrelates to one window/agg pass (VERDICT r6 #5)") {
    // Catalyst rewrites the correlated LATERAL(... LIMIT 1) to a keyed
    // window or aggregate over ONE lineitem scan — a regression to
    // per-outer-row subquery re-execution (nested-loop or repeated
    // scans) would be invisible to the oracle and only show up as a
    // bench blow-up, so the decorrelated shape is pinned here.
    val p = plan(Relational.joinLateral(spark, sf))
    assert(p.contains("Window") || p.contains("HashAggregate"),
      s"expected decorrelated window/agg shape:\n$p")
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"),
      s"LATERAL must not plan a product join:\n$p")
    // one scan of each table: a per-row re-execution shape would
    // re-plan the lineitem relation under a nested loop
    assert("lineitem\\.parquet".r.findAllIn(p).length <= 1,
      s"expected a single lineitem scan:\n$p")
  }

  test("dedup_embedding_lsh never plans a product join (VERDICT r1 #3)") {
    val p = plan(graft.operators.SimSearch.dedupEmbeddingLsh(spark, sf))
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"),
      s"LSH dedup must stay a keyed bucket join:\n$p")
    assert(p.contains("SortMergeJoin") || p.contains("ShuffledHashJoin") ||
      p.contains("BroadcastHashJoin"), s"expected an equi-join:\n$p")
  }

  test("IVF corpus cell assignment is scan→project: no Exchange, no Join (VERDICT r1 #4)") {
    import graft.operators.SimSearch
    val emb = graft.sources.Tables.embeddings(spark, sf)
    val assigned = SimSearch.ivfAssignCorpus(emb,
      SimSearch.ivfCodebook(emb, centroidStride = 127))
    val p = plan(assigned)
    assert(!p.contains("Exchange"),
      s"cell assignment must not shuffle the corpus:\n$p")
    assert(!p.contains("Join"),
      s"cell assignment must not join/explode the corpus:\n$p")
  }

  test("interval overlap join is grid-bucketed, never a nested-loop product") {
    val p = plan(Joins.joinIntervalOverlap(spark, sf))
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"),
      s"overlap join must bucket, not nested-loop:\n$p")
  }

  test("stream_join is a keyed equi-join with pushed type filters, no product") {
    val p = plan(graft.operators.EventWindows.streamJoinBatch(spark, sf))
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"),
      s"interval join must stay keyed on user_id:\n$p")
    assert(p.contains("PushedFilters") && p.contains("event_type"),
      s"event_type filters should reach the scan:\n$p")
  }

  test("win_groups_frame: both windows share one shuffle (2 Exchanges incl. final sort)") {
    // GROUPS emulation = dense_rank window + RANGE-over-rank window;
    // both partition on o_custkey so they must reuse ONE hash Exchange,
    // plus the final ORDER BY's range Exchange — never a third.
    val p = plan(graft.operators.Windows.winGroupsFrame(spark, sf))
    assert("Exchange".r.findAllIn(p).length <= 2,
      s"GROUPS emulation should not add a shuffle per window:\n$p")
  }

  test("join_fuzzy is join-free: one posting-list aggregation, no self-join, no window") {
    // r10 re-blocking: the del-1 signature inverted index pairs names
    // inside row-local posting lists — the plan must contain NO join of
    // any kind and no Window (the old frequency-cap window is a size()
    // filter on the aggregated list now).
    val p = plan(Joins.joinFuzzy(spark, sf))
    assert(!p.contains("Join"), s"fuzzy match must not self-join:\n$p")
    assert(!p.contains("Window"), s"cap must ride the aggregate:\n$p")
  }

  test("join_spatial_grid is a keyed equi-join on grid cells, never a product") {
    val p = plan(Joins.joinSpatialGrid(spark, sf))
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"),
      s"spatial join must equi-join on cell ids:\n$p")
    // both the cold (coarse) and hot (fine) paths key their join on the
    // (j1, j2) grid-cell pair
    assert(p.contains("Join") && p.contains("j1"),
      s"expected a cell-keyed join:\n$p")
  }

  test("pack_sequences is one window pass: a single source-keyed Exchange, no join") {
    val p = plan(graft.operators.TextOps.packSequences(spark, sf))
    assert(!p.contains("Join"), s"packing must not self-join:\n$p")
    // exchanges: one for the per-source window + the final global sort
    assert("Exchange".r.findAllIn(p).length <= 2,
      s"packing should shuffle once (plus the ORDER BY):\n$p")
  }

  test("doc_chunking is row-local: no Join, no shuffle before the ORDER BY") {
    val p = plan(graft.operators.TextOps.docChunk(spark, sf))
    assert(!p.contains("Join"), s"chunking must not join:\n$p")
    // the only Exchange is the final orderBy's range partitioning
    assert("Exchange".r.findAllIn(p).length <= 1,
      s"chunking must not shuffle before the declared sort:\n$p")
    assert(p.contains("ReadSchema: struct<doc_id:bigint,text:string>"),
      s"expected pruned documents scan:\n$p")
  }

  test("embedding_quantize is row-local: no Join, no shuffle before the ORDER BY") {
    val p = plan(graft.operators.SimSearch.embeddingQuantize(spark, sf))
    assert(!p.contains("Join"), s"quantization must not join:\n$p")
    assert("Exchange".r.findAllIn(p).length <= 1,
      s"quantization must not shuffle before the declared sort:\n$p")
  }

  test("stream_state_ttl batch shape reuses one user_id Exchange for window + groupBy") {
    val p = plan(graft.operators.EventWindows.stateTtlBatch(spark, sf))
    // one hash Exchange on user_id (window max + aggregate share it)
    // plus the final orderBy's range Exchange
    assert("Exchange".r.findAllIn(p).length <= 2,
      s"window and groupBy must share the user_id partitioning:\n$p")
  }

  test("join_asof_tolerance keeps the as-of shape: union + one keyed window, no join") {
    val p = plan(Joins.joinAsOfTolerance(spark, sf))
    assert(!p.contains("Join"), s"tolerance as-of must stay join-free:\n$p")
    assert(p.contains("Window"), s"expected the carry window:\n$p")
    // one hash Exchange for the user-keyed window + the orderBy's range
    assert("Exchange".r.findAllIn(p).length <= 2,
      s"as-of tolerance must shuffle once (plus the ORDER BY):\n$p")
  }

  test("quality_lm_bucket windows only per-language (no global ntile funnel)") {
    val unkeyed = graft.operators.TextOps.qualityLmBucket(spark, sf)
      .queryExecution.optimizedPlan.collect {
        case w: org.apache.spark.sql.catalyst.plans.logical.Window
            if w.partitionSpec.isEmpty => w
      }
    assert(unkeyed.isEmpty, "ntile must be keyed by lang")
  }

  test("quality_lm_bucket cutoff variant plans NO window at all (the scale path)") {
    // the sketch-cutoff operator is the dominant-language-funnel fix:
    // keyed percentile_approx agg + broadcast cut join + row-local
    // compare — any Window node appearing here would mean the funnel
    // came back. (The DECLARED quality_lm_bucket_approx adds a rank
    // window as verification scaffolding; the library operator is this
    // windowless one.)
    val windows = graft.operators.TextOps.qualityLmBucketCutoff(spark, sf)
      .queryExecution.optimizedPlan.collect {
        case w: org.apache.spark.sql.catalyst.plans.logical.Window => w
      }
    assert(windows.isEmpty, "cutoff bucketing must not plan a window")
  }

  test("win_ignore_nulls shuffles once: both carries share the user_id window") {
    val p = plan(graft.operators.Windows.winIgnoreNulls(spark, sf))
    // one hash Exchange for the keyed window (lag + lead share it) plus
    // the declared ORDER BY's range Exchange
    assert("Exchange".r.findAllIn(p).length <= 2,
      s"lag and lead must share one user_id partitioning:\n$p")
    assert(p.contains("ReadSchema: struct<event_id:bigint,user_id:bigint,event_type:string,value:double>")
      || p.contains("ReadSchema: struct<event_id:bigint,ts:timestamp"),
      s"expected pruned events scan:\n$p")
  }

  test("join_asof_nearest keeps the as-of shape: union + one keyed window pass, no join") {
    val p = plan(graft.operators.Joins.joinAsOfNearest(spark, sf))
    assert(!p.contains("Join"), s"nearest as-of must stay join-free:\n$p")
    assert(p.contains("Window"), s"expected the carry windows:\n$p")
    // both carries use the same (ukey, sort) window spec → one hash
    // Exchange + the ORDER BY's range Exchange
    assert("Exchange".r.findAllIn(p).length <= 2,
      s"backward and forward carries must share one shuffle:\n$p")
  }

  test("row-local operators read only the columns they emit") {
    // sample_stratified projects 3 source columns — the scan must prune
    val p = plan(graft.operators.TextOps.sampleStratified(spark, sf))
    assert(p.contains("ReadSchema: struct<doc_id:bigint,lang:string,source:string>"),
      s"expected pruned documents scan:\n$p")
  }

  test("custom TopKPerGroup plans its own exec behind one clustered Exchange, no Window") {
    GraftExtensions.install(spark)
    val df = graft.plans.PlanOps.topKPerGroup(
      graft.sources.Tables.orders(spark, sf),
      Seq("o_orderpriority"),
      Seq("o_totalprice" -> false, "o_orderkey" -> true), 3)
    df.collect() // materialize through the custom exec
    val p = plan(df)
    assert(p.contains("TopKPerGroup ["), s"custom exec missing:\n$p")
    assert(p.contains("hashpartitioning(o_orderpriority"),
      s"expected the clustered-distribution Exchange:\n$p")
    assert(!p.contains("Window"),
      s"top-k must not fall back to a window sort:\n$p")
    // and it agrees with the window formulation
    val viaWindow = {
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(org.apache.spark.sql.functions.col("o_orderpriority"))
        .orderBy(org.apache.spark.sql.functions.col("o_totalprice").desc,
          org.apache.spark.sql.functions.col("o_orderkey").asc)
      graft.sources.Tables.orders(spark, sf)
        .withColumn("rn", org.apache.spark.sql.functions.row_number().over(w))
        .filter(org.apache.spark.sql.functions.col("rn") <= 3)
        .select("o_orderkey").orderBy("o_orderkey")
        .collect().map(_.getLong(0)).toSeq
    }
    val viaCustom = df.select("o_orderkey").orderBy("o_orderkey")
      .collect().map(_.getLong(0)).toSeq
    assert(viaCustom === viaWindow)
  }

  test("TopKPerGroupExec equals the window formulation on random tied data") {
    import org.apache.spark.sql.functions.{col, row_number}
    GraftExtensions.install(spark)
    (1 to 4).foreach { seed =>
      val rnd = new scala.util.Random(seed)
      // heavy ties: few groups, small value domain, unique id tiebreak
      val data = Seq.tabulate(200)(i =>
        (rnd.nextInt(5).toLong, rnd.nextInt(8).toDouble, i.toLong))
        .toDF("g", "v", "id")
      val k = 1 + rnd.nextInt(4)
      val custom = graft.plans.PlanOps
        .topKPerGroup(data, Seq("g"), Seq("v" -> false, "id" -> true), k)
        .select("g", "v", "id").collect()
        .map(r => (r.getLong(0), r.getDouble(1), r.getLong(2))).toSet
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("g")).orderBy(col("v").desc, col("id").asc)
      val window = data.withColumn("rn", row_number().over(w))
        .filter(col("rn") <= k).select("g", "v", "id").collect()
        .map(r => (r.getLong(0), r.getDouble(1), r.getLong(2))).toSet
      assert(custom === window, s"seed=$seed k=$k")
    }
  }

  test("dynamic partition pruning fires on a partitioned fact x filtered dim join") {
    // The 100 TB scan-pruning trio is static partition pruning (tested
    // via savePartitioned), min/max skipping (saveSorted/saveZOrdered),
    // and DPP: a runtime filter from the dim side prunes fact partitions
    // BEFORE the scan. Assert the subquery-shaped partition filter is in
    // the plan and that the join result is correct.
    import org.apache.spark.sql.functions._
    val dir = Scratch.dir("graft_dpp")
    graft.sources.LakeIO.savePartitioned(
      graft.sources.Tables.orders(spark, sf)
        .select("o_orderkey", "o_totalprice", "o_orderstatus"),
      dir, Seq("o_orderstatus"))
    val fact = spark.read.parquet(dir)
    // the dim must be a real scan: a local relation would constant-fold
    // its filter away and leave no selective predicate for the DPP rule
    val dimDir = Scratch.dir("graft_dppdim")
    Seq(("F", "finished"), ("P", "pending")).toDF("st", "label")
      .write.mode("overwrite").parquet(dimDir)
    val dim = spark.read.parquet(dimDir).filter(col("label") === "finished")
    val joined = fact.join(dim, fact("o_orderstatus") === dim("st"))
    val p = joined.queryExecution.executedPlan.toString
    assert(p.contains("dynamicpruning"),
      s"expected a dynamicpruning partition filter, got:\n$p")
    assert(joined.count() ===
      graft.sources.Tables.orders(spark, sf)
        .filter(col("o_orderstatus") === "F").count())
  }

  test("runtime bloom filter prunes the fact side of a selective shuffle join") {
    // The row-level sibling of DPP: for a shuffle join with a selective
    // dim filter, the engine builds a bloom filter of the dim keys and
    // semi-filters the fact scan BEFORE the shuffle — at 100 TB this is
    // what keeps a 0.1%-selective dim join from shuffling the whole
    // fact table. Thresholds are sized for clusters (10 GB application
    // side), so lower them to fixture scale; the assertion is that the
    // mechanism engages and preserves the result.
    import org.apache.spark.sql.functions._
    val conf = spark.conf
    val savedThresh =
      conf.get("spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold")
    val savedBroadcast = conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      conf.set("spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold", "0")
      conf.set("spark.sql.autoBroadcastJoinThreshold", "-1") // force SMJ
      val li = graft.sources.Tables.lineitem(spark, sf)
        .select("l_orderkey", "l_linenumber", "l_suppkey")
      val sup = graft.sources.Tables.supplier(spark, sf)
        .filter(col("s_acctbal") > 9000.0)
        .select(col("s_suppkey"), col("s_name"))
      val joined = li.join(sup, li("l_suppkey") === sup("s_suppkey"))
      val p = joined.queryExecution.executedPlan.toString
      assert(p.contains("might_contain") && p.contains("bloom_filter_agg"),
        s"expected a runtime bloom filter on the fact side, got:\n$p")
      val expected = li.join(sup.hint("broadcast"),
        li("l_suppkey") === sup("s_suppkey")).count()
      assert(joined.count() === expected)
    } finally {
      conf.set("spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold", savedThresh)
      conf.set("spark.sql.autoBroadcastJoinThreshold", savedBroadcast)
    }
  }

  test("join_point_in_polygon is map-only: 1-column scan, no join, one sort Exchange") {
    // ray-cast containment must stay per-row codegen arithmetic — a
    // polygon-side join or a second Exchange would mean the literal
    // layer stopped inlining
    val p = plan(Joins.joinPointInPolygon(spark, sf))
    assert(p.contains("ReadSchema: struct<c_custkey:bigint>"),
      s"scan must read only c_custkey:\n$p")
    assert(!p.contains("Join"), s"polygon layer must inline, not join:\n$p")
    assert("Exchange".r.findAllIn(p).length <= 1,
      s"only the output sort may shuffle:\n$p")
  }

  test("dedup_minhash_incremental: delta band Exchange shared, no products") {
    import graft.operators.{MinHashDedup, Multimodal, SimSearch}
    // every seen-store tier: the delta's block-key repartition feeds the
    // store join AND both intra-delta join sides — at least one reuse
    // must hold (AQE may broadcast-convert some sides at fixture scale).
    // The video and audio tiers drop nothing at this scale, and AQE's
    // empty-relation rule would then cut the whole candidate subtree out
    // of the final plan, so that rule is off while the plans are taken.
    val emptyRule = "spark.sql.adaptive.optimizer.excludedRules"
    val saved = spark.conf.getOption(emptyRule)
    spark.conf.set(emptyRule,
      "org.apache.spark.sql.execution.adaptive.AQEPropagateEmptyRelation")
    val failures = try Seq[(String, () => org.apache.spark.sql.DataFrame)](
      "dedup_minhash_incremental" ->
        (() => MinHashDedup.dedupMinhashIncremental(spark, sf)),
      "multimodal_phash_incremental" ->
        (() => Multimodal.phashIncremental(spark, sf)),
      "multimodal_video_dedup_incremental" ->
        (() => Multimodal.videoDedupIncremental(spark, sf)),
      "multimodal_audio_dedup_incremental" ->
        (() => Multimodal.audioDedupIncremental(spark, sf)),
      "dedup_semantic_incremental" ->
        (() => SimSearch.semDedupIncremental(spark, sf))
    ).flatMap { case (name, build) =>
      val df = build()
      df.collect() // AQE resolves ReusedExchange only in the final plan
      val p = plan(df)
      Seq(
        Option.when("ReusedExchange".r.findAllIn(p).isEmpty)(
          s"$name: delta block keys must shuffle once, not per consumer:\n$p"),
        Option.when(p.contains("CartesianProduct"))(
          s"$name: candidate generation must stay keyed:\n$p")).flatten
    } finally saved.fold(spark.conf.unset(emptyRule))(spark.conf.set(emptyRule, _))
    assert(failures.isEmpty, failures.mkString("\n"))
  }

  test("simsearch_hybrid: fusion joins keyed, token exchange shared (3 reused)") {
    import graft.operators.SimSearch
    val df = SimSearch.simsearchHybrid(spark, sf)
    df.collect() // AQE resolves ReusedExchange only in the final plan
    val p = plan(df)
    assert("ReusedExchange".r.findAllIn(p).length >= 3,
      s"tf/dl/query-vocab must reuse ONE token Exchange:\n$p")
    assert(!p.contains("CartesianProduct"),
      s"only broadcast scalar-attach/knn products are allowed:\n$p")
    assert(p.contains("SortMergeJoin") || p.contains("BroadcastHashJoin"),
      s"fusion must join keyed:\n$p")
    // rank-list top-nList must push a partial per-partition group limit
    // under the q_id window (Spark's WindowGroupLimit) — without it the
    // per-query rank sort funnels every scored candidate through one
    // window partition at scale
    assert(p.contains("WindowGroupLimit"),
      s"top-nList must push a group limit under the rank window:\n$p")
  }

  test("whole-stage codegen covers the scan→filter→project pipeline") {
    // AQE prints codegen stage markers (`*(n)`) only in the final plan,
    // so materialize first
    val df = Relational.filterConj(spark, sf)
    df.collect() // count() would execute a different (agg) plan
    val p = plan(df)
    assert(p.contains("*("), s"expected codegen stage markers:\n$p")
  }

  test("captured-commit diff: a per-column null-safe Filter over the " +
      "full-outer join sits below the Generate that builds change rows") {
    import org.apache.spark.sql.catalyst.expressions.{AttributeReference, EqualNullSafe}
    import org.apache.spark.sql.catalyst.plans.logical.{Filter, Generate, Join}
    val root = Scratch.dir("diff_plan")
    graft.sources.LakeIO.saveVersionCdf(
      Seq((1L, 1.0, "a"), (2L, 2.0, "b")).toDF("k", "x", "s"), root, Seq("k"))
    graft.sources.LakeIO.saveVersion(
      Seq((1L, 1.5, "a"), (3L, 3.0, "c")).toDF("k", "x", "s"), root)
    // the diff the captured commit of v=1 would write
    val log = new graft.sources.VersionLog(spark, root)
    val diff = log.capture(Some(log.read(0)), log.read(1), 1, Seq("k"))
    val p = diff.queryExecution.optimizedPlan
    val gen = p.collectFirst { case g: Generate => g }
    assert(gen.isDefined, s"no Generate in the diff plan:\n$p")
    // the value compare is per column (__a_x <=> __b_x), not a struct
    val valueFilter = gen.get.child.collectFirst {
      case f: Filter if f.child.exists(_.isInstanceOf[Join]) &&
          f.condition.exists {
            case EqualNullSafe(l: AttributeReference, _) =>
              l.name.startsWith("__a_")
            case _ => false
          } => f
    }
    assert(valueFilter.isDefined,
      s"unchanged rows must leave before the Generate:\n$p")
    assert(diff.count() === 4) // insert 3, delete 2, update 1 as two rows
  }
}
