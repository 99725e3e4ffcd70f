package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.operators.{GraphOps, TextOps}

/** Round-11 additions: `graph_pagerank` (exact fixed-point centrality),
  * `ngram_pmi` (collocation mining), `mix_budget` (token-budget data
  * mixing). The pagerank test re-derives the ENTIRE iteration in
  * driver-side BigInt from an independently aggregated edge list and
  * asserts bit-equality of the fixed-point ranks — possible only
  * because the operator has no floating point anywhere.
  */
class GraphMixSpec extends AnyFunSuite {
  val spark = TestSpark.spark
  val sf = TestSpark.sf
  import spark.implicits._

  // ---------------------------------------------------------- pagerank

  test("graph_pagerank equals an exact BigInt reference model") {
    val Scale = BigInt(1000000000000L)
    // independent edge derivation: plain SQL over temp views
    Seq("lineitem", "orders", "customer", "supplier", "nation").foreach { t =>
      spark.read.parquet(s"$sf/$t.parquet").createOrReplaceTempView(s"ref_$t")
    }
    val edges = spark.sql(
      """SELECT CAST(s_nationkey AS BIGINT) AS u,
        |  CAST(c_nationkey AS BIGINT) AS v, count(*) AS w
        |FROM ref_lineitem JOIN ref_orders ON l_orderkey = o_orderkey
        |JOIN ref_customer ON o_custkey = c_custkey
        |JOIN ref_supplier ON l_suppkey = s_suppkey
        |GROUP BY 1, 2""".stripMargin)
      .collect().map(r => ((r.getLong(0), r.getLong(1)), r.getLong(2))).toMap
    val nations = spark.read.parquet(s"$sf/nation.parquet")
      .select(col("n_nationkey").cast("long"), col("n_name"))
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    val n = BigInt(nations.size)
    val out = edges.groupBy(_._1._1).map { case (u, es) =>
      u -> BigInt(es.values.sum)
    }
    val ratio = edges.map { case ((u, v), w) =>
      ((u, v), BigInt(w) * Scale / out(u))
    }
    var p: Map[Long, BigInt] = nations.keys.map(_ -> Scale / n).toMap
    for (_ <- 1 to 5) {
      val s = scala.collection.mutable.Map[Long, BigInt]()
      ratio.foreach { case ((u, v), r) =>
        s(v) = s.getOrElse(v, BigInt(0)) + p(u) * r / Scale
      }
      val dm = p.collect { case (u, pu) if !out.contains(u) => pu }
        .foldLeft(BigInt(0))(_ + _)
      p = nations.keys.map { v =>
        v -> ((BigInt(15) * Scale / 100) / n +
          BigInt(85) * (s.getOrElse(v, BigInt(0)) + dm / n) / 100)
      }.toMap
    }
    val expected = nations.map { case (k, name) => name -> p(k).toLong }
    val got = GraphOps.graphPagerank(spark, sf)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(got == expected,
      s"fixed-point ranks diverge from the BigInt model:\n" +
        s"only-op=${got.toSet -- expected.toSet}\n" +
        s"only-ref=${expected.toSet -- got.toSet}")
    // mass conservation within floor dust: 25 nodes × ≤2 floor ops per
    // node per iteration × 5 iterations of sub-1e12 dust
    val total = got.values.map(BigInt(_)).sum
    assert((Scale - total) >= 0 && (Scale - total) < BigInt(25L * 12 * 100),
      s"rank mass should be ~1.0 minus floor dust, got $total")
  }

  test("unrolled relational pagerank is bit-identical to the in-task solve") {
    val a = GraphOps.graphPagerank(spark, sf)
      .collect().map(r => (r.getString(0), r.getLong(1))).sorted
    val b = GraphOps.graphPagerankUnrolled(spark, sf)
      .collect().map(r => (r.getString(0), r.getLong(1))).sorted
    assert(a.sameElements(b),
      s"formulations diverge:\nlocal=${a.toSeq}\nunrolled=${b.toSeq}")
  }

  /** Identity-distinct scan instances over the named table (the
    * [[SpecUtil.collectPlan]] AQE-aware traversal, so reused exchanges
    * never count twice).
    */
  private def distinctScans(p: org.apache.spark.sql.execution.SparkPlan,
      table: String): Set[Int] =
    SpecUtil.collectPlan(p) {
      case f: org.apache.spark.sql.execution.FileSourceScanExec
          if f.metadata.get("Location").exists(_.contains(table)) =>
        System.identityHashCode(f)
    }.toSet

  test("unrolled pagerank iterates over ONE cached edge aggregate (fact not re-scanned)") {
    try {
      // the PUBLIC operator returns a caller-session local relation
      // (review r13); the executable plan lives behind the _Plan form
      val df = GraphOps.graphPagerankUnrolledPlan(spark, sf)
      df.collect()
      val plan = df.queryExecution.executedPlan.toString
      // every iteration's edge subtree must resolve to the in-memory
      // aggregate — a direct lineitem scan in THIS plan means an
      // iteration recomputed the corpus-sized join
      val liScans = distinctScans(df.queryExecution.executedPlan, "lineitem")
      assert(plan.contains("InMemoryTableScan") && liScans.isEmpty,
        s"iterations must read the cached edge aggregate: " +
          s"directLineitemScans=${liScans.size}\n$plan")
      // the body populated the cache; count the release here (an
      // assert in finally would mask the primary failure)
      assert(GraphOps.unrolledEdgeMemo.clear() >= 1)
    } finally {
      GraphOps.unrolledEdgeMemo.clear() // idempotent; no-op after success
      ()
    }
  }

  test("declared pagerank plan has no per-iteration stages (one scan of lineitem)") {
    val df = GraphOps.graphPagerank(spark, sf)
    df.collect()
    val liScans = distinctScans(df.queryExecution.executedPlan, "lineitem")
    assert(liScans.size == 1,
      s"the local-solve plan scans lineitem exactly once, got " +
        s"${liScans.size}")
  }

  // --------------------------------------------------------- dq_checks

  test("dq_checks passes real invariants and counts real violations") {
    val rows = graft.operators.Aggregates.dqChecks(spark, sf).collect()
    val byKey = rows.map(r => (r.getString(0), r.getString(1)) ->
      ((r.getLong(2), r.getInt(3)))).toMap
    // true fixture invariants hold
    assert(byKey(("pk_unique", "orders.o_orderkey")) == ((0L, 1)))
    assert(byKey(("pk_unique", "customer.c_custkey")) == ((0L, 1)))
    assert(byKey(("fk_exists", "lineitem.l_orderkey->orders")) == ((0L, 1)))
    assert(byKey(("fk_exists", "orders.o_custkey->customer")) == ((0L, 1)))
    assert(byKey(("not_null", "customer.c_name")) == ((0L, 1)))
    assert(byKey(("range", "lineitem.l_quantity in [1,50]")) == ((0L, 1)))
    // the deliberately-strict range check must actually COUNT — a
    // rubber-stamping audit would report 0 everywhere
    val (strictViol, strictPass) =
      byKey(("range_strict", "lineitem.l_quantity in [1,25]"))
    assert(strictViol > 0L && strictPass == 0,
      s"strict check must fail with a real count, got $strictViol")
  }

  // --------------------------------------------------------- ngram_pmi

  test("ngram_pmi ranks a planted collocation above frequent-but-independent pairs") {
    // "neural networks" always adjacent; "data" and "model" frequent but
    // in independent positions — classic PMI separation
    val filler = Seq("data", "model", "train", "eval", "loss", "step")
    val docs = (0 until 60).map { i =>
      val a = filler(i % 6); val b = filler((i + 3) % 6)
      (i.toLong, s"$a neural networks $b $a $b neural networks $a")
    }.toDF("doc_id", "text")
    val res = TextOps.ngramPmiDocs(docs, minCount = 5, k = 10).collect()
    assert(res.nonEmpty)
    val top = res.head
    assert(top.getString(0) == "neural" && top.getString(1) == "networks",
      s"planted collocation must rank first, got ${res.toSeq}")
    val pmiOf = res.map(r => (r.getString(0), r.getString(1)) ->
      r.getDouble(5)).toMap
    assert(pmiOf(("neural", "networks")) > 0.5,
      "an always-adjacent pair has strongly positive PMI")
  }

  test("ngram_pmi feeds every statistic from ONE corpus pass (shared w1 exchange)") {
    val df = TextOps.ngramPmi(spark, sf)
    df.collect()
    val scans = distinctScans(df.queryExecution.executedPlan, "documents")
    val plan = df.queryExecution.executedPlan.toString
    assert(scans.size == 1,
      s"c1/c12/n1/n2 must share one corpus pass, got ${scans.size} scans:\n$plan")
    assert("ReusedExchange".r.findAllIn(plan).length >= 1,
      s"the w1 Exchange must be reused across the aggregates:\n$plan")
  }

  test("ngram_pmi honors the minCount floor") {
    val docs = Seq((1L, "rare pair common common common common common common"))
      .toDF("doc_id", "text")
    val res = TextOps.ngramPmiDocs(docs, minCount = 5, k = 10).collect()
    assert(res.forall(_.getLong(2) >= 5), s"minCount violated: ${res.toSeq}")
    assert(!res.exists(r => r.getString(0) == "rare"),
      "a once-seen bigram must not survive the floor")
  }

  // -------------------------------------------------------- mix_budget

  test("mix_budget selects exactly the hash-ordered prefix that fills the budget") {
    val budget = 40L
    val docs = (0 until 40).map { i =>
      val lang = if (i % 2 == 0) "en" else "de"
      // token counts 3..10, deterministic
      (i.toLong, lang, (0 to (i % 8) + 2).map(j => s"w$j").mkString(" "))
    }.toDF("doc_id", "lang", "text")
    val got = TextOps.mixBudgetDocs(docs, budget)
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2),
        r.getLong(3))).sortBy(_._1)
    // reference: per lang, sort by (md5 prefix, doc_id), take while
    // tokens-before < budget
    val ref = (0 until 40).map { i =>
      (i.toLong, if (i % 2 == 0) "en" else "de", (i % 8 + 3).toLong)
    }.groupBy(_._2).toSeq.flatMap { case (lang, ds) =>
      val ordered = ds.sortBy(d => (SpecUtil.md5Rank(d._1), d._1))
      val cums = ordered.scanLeft(0L)(_ + _._3)
      ordered.zip(cums).collect { case ((id, lg, nt), before)
        if before < budget => (id, lg, nt, before + nt) }
    }.sortBy(_._1)
    assert(got.toSeq == ref,
      s"selection must be the exact hash-ordered budget prefix:\n" +
        s"got=${got.toSeq}\nref=$ref")
  }

  test("mix_budget_approx is bit-identical to mix_budget (fixtures + planted)") {
    val a = TextOps.mixBudget(spark, sf, budget = 5000L).collect().toSeq
    val b = TextOps.mixBudgetApprox(spark, sf, budget = 5000L).collect().toSeq
    assert(a == b, s"scale twin diverges on fixtures:\n$a\nvs\n$b")
    // planted: budget boundary lands INSIDE a bucket (many docs per
    // bucket), exercising the crossing-bucket trim
    val docs = (0 until 500).map { i =>
      (i.toLong, "en", (0 to (i % 7) + 1).map(j => s"t$j").mkString(" "))
    }.toDF("doc_id", "lang", "text")
    val ea = TextOps.mixBudgetDocs(docs, 97L).collect().toSeq
    val eb = TextOps.mixBudgetApproxDocs(docs, 97L, buckets = 16)
      .collect().toSeq
    assert(ea == eb && ea.nonEmpty,
      s"planted boundary diverges:\n$ea\nvs\n$eb")
  }

  test("mix_budget_approx prunes the window input to the kept-bucket prefix") {
    // 2000 docs, tiny budget: almost every bucket is past the crossing
    // point, so the keptBuckets join must discard the overwhelming
    // majority of the corpus BEFORE the doc-level window
    val docs = (0 until 2000).map { i =>
      (i.toLong, if (i % 2 == 0) "en" else "de",
        (0 to (i % 5) + 1).map(j => s"t$j").mkString(" "))
    }.toDF("doc_id", "lang", "text")
    val res = TextOps.mixBudgetApproxDocs(docs, 50L, buckets = 256)
    assert(res.collect().toSeq ==
      TextOps.mixBudgetDocs(docs, 50L).collect().toSeq)
    // executed-metric pin: the kept-bucket join's output IS the window
    // input; it must be budget-sized, not corpus-sized
    val joins = SpecUtil.collectPlan(res.queryExecution.executedPlan) {
      case b: org.apache.spark.sql.execution.joins.BroadcastHashJoinExec =>
        b.metrics.get("numOutputRows").map(_.value)
    }.flatten
    assert(joins.nonEmpty && joins.forall(_ < 200),
      s"window input must be pruned to ~budget rows, join outputs: $joins")
  }

  test("mix_weighted prunes the window input to per-language kept-bucket prefixes") {
    // 2000 docs, small per-language budgets: the per-row-budget prune
    // (round-12: budgetPrefixPruned generalized past the scalar case)
    // must discard the overwhelming majority of the corpus BEFORE the
    // doc-level window, exactly like mix_budget_approx's scalar form
    val docs = (0 until 2000).map { i =>
      (i.toLong, Seq("en", "de", "xx")(i % 3),
        (0 to (i % 5) + 1).map(j => s"t$j").mkString(" "))
    }.toDF("doc_id", "lang", "text")
    val weights = Seq("en" -> 700, "de" -> 300)
    val res = TextOps.mixWeightedDocs(docs, 100L, weights, buckets = 256)
    // buckets = 1 keeps every bucket of every weighted language — the
    // unpruned selection — so equality pins bit-identical output
    assert(res.collect().toSeq ==
      TextOps.mixWeightedDocs(docs, 100L, weights, buckets = 1)
        .collect().toSeq)
    val joins = SpecUtil.collectPlan(res.queryExecution.executedPlan) {
      case b: org.apache.spark.sql.execution.joins.BroadcastHashJoinExec =>
        b.metrics.get("numOutputRows").map(_.value)
    }.flatten
    assert(joins.nonEmpty && joins.forall(_ < 200),
      s"window input must be pruned to ~budget rows per language, " +
        s"join outputs: $joins")
  }

  test("mix_weighted applies exact per-language budget shares; unlisted langs drop") {
    val docs = (0 until 60).map { i =>
      val lang = Seq("en", "de", "xx")(i % 3) // xx: not in the mixture
      (i.toLong, lang, (0 to (i % 6) + 2).map(j => s"w$j").mkString(" "))
    }.toDF("doc_id", "lang", "text")
    val weights = Seq("en" -> 700, "de" -> 300)
    val total = 100L
    val got = TextOps.mixWeightedDocs(docs, total, weights)
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2),
        r.getLong(3))).toSeq
    // reference: per-lang budget = total*w/1000, hash-prefix rule
    val budgets = Map("en" -> 70L, "de" -> 30L)
    val ref = (0 until 60).map { i =>
      (i.toLong, Seq("en", "de", "xx")(i % 3), (i % 6 + 3).toLong)
    }.filter(d => budgets.contains(d._2))
      .groupBy(_._2).toSeq.flatMap { case (lang, ds) =>
        val ordered = ds.sortBy(d => (SpecUtil.md5Rank(d._1), d._1))
        val cums = ordered.scanLeft(0L)(_ + _._3)
        ordered.zip(cums).collect { case ((id, lg, nt), before)
          if before < budgets(lg) => (id, lg, nt, before + nt) }
      }.sortBy(_._1)
    assert(got == ref, s"weighted selection diverges:\ngot=$got\nref=$ref")
    assert(!got.exists(_._2 == "xx"), "unlisted language must drop entirely")
    assert(got.exists(_._2 == "en") && got.exists(_._2 == "de"))
  }

  test("mix_weighted on the fixtures: every weighted language contributes") {
    val rows = TextOps.mixWeighted(spark, sf).collect()
    val langs = rows.map(_.getString(1)).toSet
    assert(langs == Set("en", "de", "es", "fr", "zh"),
      s"all five weighted languages must select docs, got $langs")
    // per-language selected tokens stay within budget + one doc overshoot
    val budgets = TextOps.DefaultMixWeights
      .map { case (lg, w) => lg -> 10000L * w / 1000 }.toMap
    rows.groupBy(_.getString(1)).foreach { case (lg, rs) =>
      assert(rs.forall(r => r.getLong(3) - r.getLong(2) < budgets(lg)),
        s"$lg: a selected doc exceeded its language budget window")
    }
  }

  test("pipeline_curate_v3: mix stage composes the upstream curation stages") {
    def key(r: org.apache.spark.sql.Row) =
      (r.getLong(0), r.getString(1), r.getInt(2), r.getLong(3))
    val v3 = TextOps.pipelineCurateV3(spark, sf).collect().map(key)
    assert(v3.nonEmpty, "capstone must select documents at sf0.001")
    // an effectively-unbounded budget yields ALL gate+dedup+decontam
    // survivors with their running sums — v3 must be EXACTLY its
    // before_toks < 3000 prefix (pins the mix stage given the chain)
    val allSurv = TextOps.pipelineCurateV3(spark, sf,
      budget = Long.MaxValue / 4).collect().map(key)
    assert(v3.toSeq == allSurv.filter(r => r._4 - r._3 < 3000L).toSeq,
      "v3 must be the exact budget prefix of the survivor stream")
    assert(v3.length < allSurv.length,
      "the budget must actually trim (non-vacuous at sf0.001)")
    // upstream liveness: survivors match pipeline_curate's id set (the
    // same gate→dedup→decontaminate chain, independently composed)
    val v1Ids = TextOps.pipelineCurate(spark, sf).collect()
      .map(_.getLong(1)).toSet
    assert(allSurv.map(_._1).toSet == v1Ids,
      "v3's survivor stream must equal pipeline_curate's survivors")
    // gate: only the four gated languages survive
    assert(v3.map(_._2).toSet.subsetOf(Set("en", "de", "es", "fr")))
  }

  test("mix_budget on the fixtures: budget is covered or language exhausted") {
    val docs = spark.read.parquet(s"$sf/documents.parquet")
    val langTotals = docs
      .select(col("lang"), size(split(TextOps.normText(col("text")), " "))
        .cast("long").as("nt"))
      .groupBy("lang").agg(sum("nt").as("total"), count(lit(1)).as("ndocs"))
      .collect().map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
    val sel = TextOps.mixBudget(spark, sf, budget = 5000L)
      .collect().groupBy(_.getString(1))
    langTotals.foreach { case (lang, (total, ndocs)) =>
      val rows = sel.getOrElse(lang, Array())
      assert(rows.nonEmpty, s"every language keeps at least one doc ($lang)")
      val selSum = rows.map(_.getLong(2)).sum
      assert(selSum >= math.min(5000L, total),
        s"$lang: selected $selSum tokens, budget 5000, corpus $total")
      assert(rows.forall(r => r.getLong(3) - r.getLong(2) < 5000L),
        s"$lang: a selected doc had >= budget tokens before it")
      if (total >= 5000L + rows.map(_.getLong(2)).max)
        assert(rows.length < ndocs,
          s"$lang: budget must actually exclude docs (non-vacuous)")
    }
  }

  test("graph_cc: hash-min propagation converges on multi-round chains " +
      "and keeps components separate") {
    // component {1,2,3} (min 1), component {10,11} (min 10), and a
    // 4-vertex chain 5-6-7-8 whose far end needs THREE propagation
    // rounds to learn the minimum — the convergence loop, not a
    // single-hop pass, is what's under test
    val edges = Seq((2L, 3L), (1L, 2L), (10L, 11L),
      (5L, 6L), (6L, 7L), (7L, 8L)).toDF("u", "v")
    val got = graft.operators.GraphOps.ccEnum(edges)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(got === Map(1L -> 1L, 2L -> 1L, 3L -> 1L,
      10L -> 10L, 11L -> 10L,
      5L -> 5L, 6L -> 5L, 7L -> 5L, 8L -> 5L), s"got $got")
    // fixture: labels are a partition refinement of the planted-free
    // co-purchase graph — every edge's endpoints share a component
    val sf = TestSpark.sf
    val li = graft.sources.Tables.lineitem(spark, sf)
      .select(col("l_orderkey").as("ok"), col("l_partkey").as("pk"))
    val fedges = graft.operators.GraphOps.coPurchaseEdges(li, 2L)
    val lbl = graft.operators.GraphOps.graphCc(spark, sf)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    fedges.collect().foreach { r =>
      val (u, v) = (r.getLong(0), r.getLong(1))
      assert(lbl(u) === lbl(v), s"edge ($u,$v) straddles components")
    }
    // and every component is labeled by its own minimum member
    lbl.groupBy(_._2).foreach { case (c, members) =>
      assert(members.keys.min === c, s"component $c not min-labeled")
    }
  }

  test("graph_widest: bottleneck capacities maximize the minimum edge " +
      "strength (wide detour beats the direct weak edge)") {
    // seed 0. Direct edge 0-2 has strength 2, but the detour
    // 0-1-2 has min(9, 8) = 8 — widest path must prefer it. Chain
    // 2-3 (co 5) caps 3 at min(8, 5) = 5; {40,41} unreachable.
    val edges = Seq((0L, 1L, 9L), (1L, 2L, 8L), (0L, 2L, 2L),
      (2L, 3L, 5L), (40L, 41L, 7L)).toDF("u", "v", "co")
    val got = graft.operators.GraphOps.widestEnum(edges, seedMod = 17L)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(got === Map(0L -> 1000000000L, 1L -> 9L, 2L -> 8L, 3L -> 5L),
      s"got $got")
    // fixture invariants: every capacity is a real co value (or the
    // seed sentinel), and each vertex's capacity is at least the
    // strongest edge to a higher-capacity neighbor (fixpoint property)
    val sf = TestSpark.sf
    val caps = graft.operators.GraphOps.graphWidest(spark, sf)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    val li = graft.sources.Tables.lineitem(spark, sf)
      .select(col("l_orderkey").as("ok"), col("l_partkey").as("pk"))
    graft.operators.GraphOps.coPurchaseEdges(li, 2L).collect().foreach { r =>
      val (u, v, co) = (r.getLong(0), r.getLong(1), r.getLong(2))
      (caps.get(u), caps.get(v)) match {
        case (Some(cu), Some(cv)) =>
          assert(cu >= math.min(cv, co), s"($u,$v,$co): $cu vs $cv")
          assert(cv >= math.min(cu, co), s"($u,$v,$co): $cv vs $cu")
        case (Some(_), None) | (None, Some(_)) =>
          fail(s"edge ($u,$v) straddles reachability")
        case _ => ()
      }
    }
  }

  test("graph_sssp: planted chain distances are exact; seeds at 0; " +
      "unreachable and beyond-cap vertices are absent") {
    // seeds under mod 17: 0 and 17. Chain 0-1-2-3-4 (dists 0..4),
    // seed 17 adjacent to 18 (dist 1), and an unreachable pair
    // {40, 41} with no seed in its component
    val edges = Seq((0L, 1L), (1L, 2L), (2L, 3L), (3L, 4L),
      (17L, 18L), (40L, 41L)).toDF("u", "v")
    val got = graft.operators.GraphOps
      .ssspEnum(edges, seedMod = 17L, maxDepth = 12)
      .collect().map(r => (r.getLong(0), r.getInt(1))).toMap
    assert(got === Map(0L -> 0, 1L -> 1, 2L -> 2, 3L -> 3, 4L -> 4,
      17L -> 0, 18L -> 1), s"got $got")
    // depth cap: with maxDepth = 2 the chain's far end is absent
    val capped = graft.operators.GraphOps
      .ssspEnum(edges, seedMod = 17L, maxDepth = 2)
      .collect().map(r => (r.getLong(0), r.getInt(1))).toMap
    assert(capped === Map(0L -> 0, 1L -> 1, 2L -> 2, 17L -> 0, 18L -> 1),
      s"capped got $capped")
    // fixture invariants: seeds at 0; every edge's endpoint dists
    // differ by at most 1 (the BFS triangle inequality on unit weights)
    val sf = TestSpark.sf
    val dist = graft.operators.GraphOps.graphSssp(spark, sf)
      .collect().map(r => (r.getLong(0), r.getInt(1))).toMap
    dist.foreach { case (v, d) =>
      if (v % 17 == 0) assert(d === 0, s"seed $v at dist $d")
    }
    val li = graft.sources.Tables.lineitem(spark, sf)
      .select(col("l_orderkey").as("ok"), col("l_partkey").as("pk"))
    graft.operators.GraphOps.coPurchaseEdges(li, 2L).collect().foreach { r =>
      val (u, v) = (r.getLong(0), r.getLong(1))
      (dist.get(u), dist.get(v)) match {
        case (Some(du), Some(dv)) =>
          assert(math.abs(du - dv) <= 1, s"edge ($u,$v): $du vs $dv")
        case (Some(du), None) => assert(du >= 12, s"($u,$v) reachable v missing")
        case (None, Some(dv)) => assert(dv >= 12, s"($u,$v) reachable u missing")
        case _ => ()
      }
    }
  }

  test("graph fixpoints keep no checkpoint beyond their result's own " +
      "plan leaves") {
    // the loop-invariant edge frame and every superseded round are
    // released; only the checkpoints the result reads stay persisted
    val sc = spark.sparkContext
    val planted = Seq((0L, 1L), (1L, 2L), (2L, 3L), (17L, 18L),
      (40L, 41L)).toDF("u", "v")
    val runs = Seq[(String, org.apache.spark.sql.DataFrame =>
        org.apache.spark.sql.DataFrame)](
      "cc" -> (GraphOps.ccEnum(_)),
      "sssp" -> (GraphOps.ssspEnum(_, seedMod = 17L, maxDepth = 12)))
    runs.foreach { case (name, run) =>
      val before = sc.getPersistentRDDs.keySet
      val out = run(planted)
      out.collect()
      val leaves = out.queryExecution.analyzed.collect {
        case l: org.apache.spark.sql.execution.LogicalRDD => l.rdd.id
      }.toSet
      val extra = sc.getPersistentRDDs.keySet -- before -- leaves
      assert(extra.isEmpty, s"$name still holds rdds $extra")
    }
  }

  test("a fixpoint whose step throws releases every checkpoint it made") {
    val sc = spark.sparkContext
    val planted = Seq((0L, 1L), (1L, 2L), (2L, 3L)).toDF("u", "v")
    val before = sc.getPersistentRDDs.keySet
    val ex = intercept[IllegalStateException] {
      GraphOps.fixpoint(planted, Seq("u", "v"), 5, levels = false)(
        _.select(col("u").as("x")).distinct())({ (und, last, _, round) =>
        if (round == 2) throw new IllegalStateException("planted failure")
        last.join(und.select(col("v").as("x")), "x").distinct()
      }, (_, _) => false)((_, last, _) => last)
    }
    assert(ex.getMessage === "planted failure")
    val extra = sc.getPersistentRDDs.keySet -- before
    assert(extra.isEmpty, s"a failed loop still holds rdds $extra")
  }

  test("graph_closeness: planted path/star values are exact; the " +
      "depth cap truncates; self-distance is excluded") {
    // seeds under mod 17: 0, 17, 34 (50/52 are not — 51 would be!).
    // Path 0-1-17: vertex 1 reaches both seeds at d=1 → n=2 Σ=2 →
    // closeness 1.0; seed 0 reaches 17 at d=2 (n=1 Σ=2 → 0.5, its own
    // d=0 excluded); symmetric for 17. Star: 34 center with leaves
    // 50, 52 → each leaf n=1 Σ=1 → 1.0, and 34 itself reaches no
    // OTHER seed → absent (dist>0 empty). {40, 41} has no seed in its
    // component → absent.
    val edges = Seq((0L, 1L), (1L, 17L), (34L, 50L), (34L, 52L),
      (40L, 41L)).toDF("u", "v")
    val got = graft.operators.GraphOps
      .closenessEnum(edges, seedMod = 17L, maxDepth = 12)
      .collect()
      .map(r => (r.getLong(0), (r.getLong(1), r.getLong(2),
        r.getDouble(3)))).toMap
    assert(got === Map(
      0L -> ((1L, 2L, 0.5)), 1L -> ((2L, 2L, 1.0)),
      17L -> ((1L, 2L, 0.5)),
      50L -> ((1L, 1L, 1.0)), 52L -> ((1L, 1L, 1.0))), s"got $got")
    // depth cap: chain 17-60-61-62 with cap 2 — 62 (d=3) is absent
    // from seed 17's reach, and its row vanishes (no other seed)
    val chain = Seq((17L, 60L), (60L, 61L), (61L, 62L)).toDF("u", "v")
    val capped = graft.operators.GraphOps
      .closenessEnum(chain, seedMod = 17L, maxDepth = 2)
      .collect().map(r => (r.getLong(0), r.getLong(2))).toMap
    assert(capped === Map(60L -> 1L, 61L -> 2L), s"capped got $capped")
    // fixture invariants: counts positive, closeness = n/Σd at 4dp,
    // and no vertex reaches more seeds than exist in the graph
    val sfv = TestSpark.sf
    val rows = graft.operators.GraphOps.graphCloseness(spark, sfv)
      .collect()
    assert(rows.nonEmpty)
    val li = graft.sources.Tables.lineitem(spark, sfv)
      .select(col("l_orderkey").as("ok"), col("l_partkey").as("pk"))
    val nSeeds = graft.operators.GraphOps.coPurchaseEdges(li, 2L)
      .select(col("u")).union(
        graft.operators.GraphOps.coPurchaseEdges(li, 2L).select(col("v")))
      .distinct().filter(col("u") % 17 === 0).count()
    rows.foreach { r =>
      val (n, td, c) = (r.getLong(1), r.getLong(2), r.getDouble(3))
      assert(n > 0 && td >= n && n <= nSeeds, s"bad row $r")
      assert(math.abs(c - math.rint(n.toDouble / td * 10000) / 10000)
        < 1e-12, s"closeness mismatch: $r")
    }
  }

  test("graph_betweenness: planted path values are exact, the diamond " +
      "splits σ, endpoints never self-mediate, depth cap scopes pairs") {
    import graft.operators.GraphOps
    // Path 0..10, seeds mod 2 (0,2,4,6,8,10), depth cap 4: the seed
    // pairs are the five diff-2 and four diff-4 pairs, all σ=1, so
    // bt(v) = 1e6 × #pairs strictly straddling v. By hand:
    //   v=1: (0,2),(0,4) → 2 · v=2: (0,4) → 1 · v=3: (0,4),(2,4),(2,6)
    //   → 3 · v=4: (2,6) → 1 · v=5: (2,6),(4,6),(4,8) → 3 · v=6:
    //   (4,8) → 1 · v=7: (4,8),(6,8),(6,10) → 3 · v=8: (6,10) → 1 ·
    //   v=9: (6,10),(8,10) → 2; path ends 0/10 mediate nothing.
    val path = (0L until 10L).map(i => (i, i + 1)).toDF("u", "v")
    val got = GraphOps.betweennessEnum(path, seedMod = 2L, maxDepth = 4)
      .collect()
      .map(r => (r.getLong(0), (r.getLong(1), r.getLong(2),
        r.getLong(3), r.getDouble(4)))).toMap
    val exp = Map(1L -> 2L, 2L -> 1L, 3L -> 3L, 4L -> 1L, 5L -> 3L,
      6L -> 1L, 7L -> 3L, 8L -> 1L, 9L -> 2L)
    assert(got.keySet === exp.keySet, s"got $got")
    exp.foreach { case (v, n) =>
      assert(got(v) === ((n, n, n * 1000000L, n.toDouble)),
        s"v=$v: ${got(v)} expected ($n, $n, ${n * 1000000L}, $n.0)")
    }
    // Diamond 0-1-2, 0-3-2 (seeds 0, 2; midpoints 1, 3 odd): σ_02 = 2,
    // so each midpoint carries HALF the pair — the σ split is the part
    // plain path counting can't see: bt = 1·1·1e6 // 2 = 500000
    val diamond = Seq((0L, 1L), (1L, 2L), (0L, 3L), (3L, 2L))
      .toDF("u", "v")
    val dia = GraphOps.betweennessEnum(diamond, seedMod = 2L,
      maxDepth = 4).collect()
      .map(r => (r.getLong(0), (r.getLong(1), r.getLong(2),
        r.getLong(3)))).toMap
    assert(dia === Map(1L -> ((1L, 1L, 500000L)),
      3L -> ((1L, 1L, 500000L))), s"diamond got $dia")
    // depth cap: seeds 0 and 6 on a 6-path sit at d=6 > 4 — no pair,
    // no mediation, empty result
    val far = (0L until 6L).map(i => (i, i + 1)).toDF("u", "v")
    assert(GraphOps.betweennessEnum(far, seedMod = 6L, maxDepth = 4)
      .count() === 0)
    // fixture invariants: stress ≥ n_pairs (σ products ≥ 1 each),
    // bt_fp ≤ 1e6 × n_pairs (each pair contributes at most its whole
    // unit), betweenness = bt_fp/1e6 at 6dp
    val rows = GraphOps.graphBetweenness(spark, TestSpark.sf).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val (np, st, bt, b) = (r.getLong(1), r.getLong(2), r.getLong(3),
        r.getDouble(4))
      assert(np > 0 && st >= np && bt <= 1000000L * np, s"bad row $r")
      assert(math.abs(b - math.rint(bt.toDouble / 1000000 * 1e6) / 1e6)
        < 1e-9, s"betweenness display mismatch: $r")
    }
  }

  test("graph_labelprop: two planted cliques joined by a weak bridge " +
      "stay separate communities (where graph_cc merges them)") {
    // Triangle A {1,2,3} (intra weight 5), triangle B {10,11,12}
    // (intra 5), weak bridge 3-10 (weight 1). Weighted-majority LPA
    // keeps A labeled 1 and B labeled 10; hash-min CC would label all
    // six with 1 — the distinction community detection exists for.
    val edges = Seq(
      (1L, 2L, 5L), (1L, 3L, 5L), (2L, 3L, 5L),
      (10L, 11L, 5L), (10L, 12L, 5L), (11L, 12L, 5L),
      (3L, 10L, 1L)).toDF("u", "v", "co")
    val got = graft.operators.GraphOps.labelpropEnum(edges, rounds = 4)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(got === Map(1L -> 1L, 2L -> 1L, 3L -> 1L,
      10L -> 10L, 11L -> 10L, 12L -> 10L), s"got $got")
    // ...and CC on the same graph merges everything into component 1
    val cc = graft.operators.GraphOps
      .ccEnum(edges.select(col("u"), col("v")))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(cc.values.toSet === Set(1L), s"cc got $cc")
    // fixture invariants: every community label is a member of its own
    // community (labels are vertex ids that voted in), and communities
    // refine components (no community straddles two CC components)
    val sf = TestSpark.sf
    val comm = graft.operators.GraphOps.graphLabelprop(spark, sf)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    val comp = graft.operators.GraphOps.graphCc(spark, sf)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(comm.keySet === comp.keySet, "vertex sets differ")
    comm.groupBy(_._2).foreach { case (c, members) =>
      assert(comp.contains(c), s"community label $c is not a vertex")
      val comps = members.keys.map(comp).toSet
      assert(comps.size === 1, s"community $c straddles components $comps")
    }
  }

  test("graph_kcore: a planted K4 survives the peel, a tail and a " +
      "triangle do not; the pinned 4 sweeps reach the fixture fixpoint") {
    // K4 {1,2,3,4} is the 3-core; tail 4-20-21 peels in two sweeps
    // (21 first, then 20); triangle {30,31,32} is only a 2-core and
    // peels at once. Vertex 4 starts at degree 4 and must survive the
    // tail's removal (its within-core degree ends at 3).
    val edges = Seq(
      (1L, 2L, 2L), (1L, 3L, 2L), (1L, 4L, 2L),
      (2L, 3L, 2L), (2L, 4L, 2L), (3L, 4L, 2L),
      (4L, 20L, 2L), (20L, 21L, 2L),
      (30L, 31L, 2L), (31L, 32L, 2L), (30L, 32L, 2L))
      .toDF("u", "v", "co")
    val got = GraphOps.kcoreEnum(edges, k = 3, sweeps = 4)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(got === Map(1L -> 3L, 2L -> 3L, 3L -> 3L, 4L -> 3L),
      s"got $got")
    // monotone early-exit soundness on the fixtures: a 5th sweep
    // changes nothing, so the pinned-4 declared result IS the k-core
    val sfv = TestSpark.sf
    val s4 = GraphOps.graphKcore(spark, sfv)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val s5 = GraphOps.graphKcore(spark, sfv, sweeps = 5)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(s4 === s5, "fixture peel not converged within 4 sweeps")
    // every survivor really has >= k neighbors among survivors
    assert(s4.forall(_._2 >= 3L), s"survivor below k: $s4")
  }

  test("graph_jaccard: full neighbor overlap scores 1.0, partial " +
      "scores the exact set ratio, sub-threshold pairs drop") {
    // parts 1 and 2 share ALL neighbors {10,11,12} (never co-purchased
    // with each other — the pair direct co-strength cannot see);
    // part 3 touches only 10. N(10)={1,2,3}, N(11)=N(12)={1,2}.
    val edges = Seq(
      (1L, 10L, 2L), (1L, 11L, 2L), (1L, 12L, 2L),
      (2L, 10L, 2L), (2L, 11L, 2L), (2L, 12L, 2L),
      (3L, 10L, 2L)).toDF("u", "v", "co")
    val all = graft.operators.GraphOps.jaccardEnum(edges, minJ = 0.0)
      .collect().map(r => ((r.getLong(0), r.getLong(1)),
        (r.getLong(2), r.getDouble(3)))).toMap
    assert(all((1L, 2L)) === ((3L, 1.0)), s"got ${all.get((1L, 2L))}")
    // jaccard(1,3) = |{10}| / |{10,11,12} ∪ {10}| = 1/3
    assert(all((1L, 3L)) === ((1L, 0.3333)), s"got ${all.get((1L, 3L))}")
    // jaccard(11,12) = |{1,2}| / |{1,2}| = 1.0; jaccard(10,11) = 2/3
    assert(all((11L, 12L)) === ((2L, 1.0)))
    assert(all((10L, 11L)) === ((2L, 0.6667)))
    // thresholding drops the 1/3 pair, keeps the rest (the declared
    // default is 0.25 — non-vacuous at every fixture SF; 0.5 here
    // exercises the cut itself)
    val cut = graft.operators.GraphOps.jaccardEnum(edges, minJ = 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(!cut.contains((1L, 3L)) && cut.contains((1L, 2L)), s"$cut")
  }

  test("graph_clustcoef: clique vertices score 1.0, star centers 0.0, " +
      "partial closure the exact wedge fraction; deg<2 excluded") {
    // K4 {1,2,3,4}; star 5-(6,7) (open wedge at 5); triangle {10,11,
    // 12} with tail 10-13 (cc(10) = 1 closed of 3 wedges)
    val edges = Seq(
      (1L, 2L, 2L), (1L, 3L, 2L), (1L, 4L, 2L),
      (2L, 3L, 2L), (2L, 4L, 2L), (3L, 4L, 2L),
      (5L, 6L, 2L), (5L, 7L, 2L),
      (10L, 11L, 2L), (10L, 12L, 2L), (11L, 12L, 2L), (10L, 13L, 2L))
      .toDF("u", "v", "co")
    val got = graft.operators.GraphOps.clustcoefEnum(edges)
      .collect().map(r => (r.getLong(0),
        (r.getLong(1), r.getLong(2), r.getDouble(3)))).toMap
    Seq(1L, 2L, 3L, 4L).foreach(v =>
      assert(got(v) === ((3L, 3L, 1.0)), s"clique vertex $v: ${got(v)}"))
    assert(got(5L) === ((2L, 0L, 0.0)), s"star center: ${got(5L)}")
    assert(got(10L) === ((3L, 1L, 0.3333)), s"partial: ${got(10L)}")
    assert(got(11L) === ((2L, 1L, 1.0)) && got(12L) === ((2L, 1L, 1.0)))
    // degree-1 leaves (6, 7, 13) have no wedges — excluded
    assert(!got.contains(6L) && !got.contains(7L) && !got.contains(13L))
  }

  test("randomized reference: kcore, jaccard, clustcoef match " +
      "brute-force models on random graphs") {
    def r4(x: Double): Double = BigDecimal(x)
      .setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble
    val rnd = new scala.util.Random(42)
    for (trial <- 1 to 3) {
      val nV = 12 + rnd.nextInt(8)
      val es = (for {
        u <- 0L until nV; v <- (u + 1) until nV
        if rnd.nextDouble() < 0.3
      } yield (u, v, 1L + rnd.nextInt(4))).toSeq
      if (es.nonEmpty) {
        val edges = es.toDF("u", "v", "co")
        val adj = scala.collection.mutable
          .Map[Long, Set[Long]]().withDefaultValue(Set.empty)
        es.foreach { case (u, v, _) =>
          adj(u) = adj(u) + v; adj(v) = adj(v) + u
        }
        val vs = adj.keySet.toSeq

        // kcore reference: peel to the true fixpoint
        var core = vs.toSet
        var changed = true
        while (changed) {
          val next = core.filter(v => (adj(v) & core).size >= 3)
          changed = next != core; core = next
        }
        val gotK = GraphOps.kcoreEnum(edges, k = 3, sweeps = nV)
          .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
        assert(gotK.keySet === core, s"trial $trial kcore: $gotK vs $core")
        gotK.foreach { case (v, d) =>
          assert(d === (adj(v) & core).size.toLong, s"trial $trial deg $v")
        }

        // jaccard reference over all pairs with >= 1 common neighbor
        val refJ = (for {
          u <- vs; v <- vs if u < v
          inter = (adj(u) & adj(v)).size if inter > 0
        } yield ((u, v), (inter.toLong,
          r4(inter.toDouble / (adj(u) | adj(v)).size)))).toMap
        val gotJ = GraphOps.jaccardEnum(edges, minJ = 0.0)
          .collect().map(r => ((r.getLong(0), r.getLong(1)),
            (r.getLong(2), r.getDouble(3)))).toMap
        assert(gotJ === refJ, s"trial $trial jaccard")

        // clustcoef reference over deg >= 2 vertices
        val refC = (for {
          v <- vs if adj(v).size >= 2
          ns = adj(v).toSeq
          tri = (for {
            a <- ns; b <- ns if a < b && adj(a).contains(b)
          } yield 1).size
        } yield (v, (adj(v).size.toLong, tri.toLong,
          r4(tri * 2.0 / (adj(v).size * (adj(v).size - 1)))))).toMap
        val gotC = GraphOps.clustcoefEnum(edges)
          .collect().map(r => (r.getLong(0), (r.getLong(1),
            r.getLong(2), r.getDouble(3)))).toMap
        assert(gotC === refC, s"trial $trial clustcoef")
      }
    }
  }
}
