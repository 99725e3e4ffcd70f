package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.sources.{LakeIO, SinkQueries, Tables}
import graft.operators.{Multimodal, Relational}

/** Lake-utility round-trips (SURVEY.md §2.A — the reference's own code
  * surface): write modes, dynamic partition overwrite, compaction,
  * schema-drift union. These are the ops the oracle can't check (writes).
  */
class SinkSpec extends AnyFunSuite {
  val spark = TestSpark.spark
  val sf = TestSpark.sf
  private def tmp(): String = Scratch.dir("sinkspec")

  test("saveDataset overwrite round-trips exactly") {
    val out = tmp() + "/t"
    val df = Tables.nation(spark, sf)
    LakeIO.saveDataset(df, out)
    LakeIO.saveDataset(df, out) // overwrite is idempotent
    assert(spark.read.parquet(out).count() === df.count())
  }

  test("appendDataset accumulates both slices") {
    val out = tmp() + "/t"
    val df = Tables.nation(spark, sf)
    LakeIO.saveDataset(df, out)
    LakeIO.appendDataset(df, out)
    assert(spark.read.parquet(out).count() === 2 * df.count())
  }

  test("savePartitioned creates Hive-style dirs and prunes partitions") {
    val out = tmp() + "/t"
    LakeIO.savePartitioned(
      Tables.nation(spark, sf), out, Seq("n_regionkey"))
    assert(new java.io.File(out).list().exists(_.startsWith("n_regionkey=")))
    val pruned = spark.read.parquet(out).filter(col("n_regionkey") === 0)
    val scanned = pruned.queryExecution.executedPlan.toString
    assert(pruned.count() > 0)
    // partition filter, not data filter: pushed to partition pruning
    assert(!scanned.contains("PushedFilters: [EqualTo(n_regionkey"))
  }

  test("replacePartitions rewrites only the incoming partitions") {
    val out = tmp() + "/t"
    val nat = Tables.nation(spark, sf)
    LakeIO.savePartitioned(nat, out, Seq("n_regionkey"))
    // replace region 0 with a single sentinel row; others must survive
    val repl = nat.filter(col("n_regionkey") === 0).limit(1)
    LakeIO.replacePartitions(repl, out, Seq("n_regionkey"))
    val back = spark.read.parquet(out)
    assert(back.filter(col("n_regionkey") === 0).count() === 1)
    assert(back.filter(col("n_regionkey") =!= 0).count() ===
      nat.filter(col("n_regionkey") =!= 0).count())
  }

  test("compactToSize bin-packs by bytes; content round-trips exactly") {
    val out = tmp() + "/t"
    val df = Tables.orders(spark, sf)
      .select("o_orderkey", "o_custkey", "o_totalprice")
    LakeIO.saveDataset(df.repartition(32), out)
    val bytes = LakeIO.dataFiles(spark, out).map(_.getLen).sum
    // target = half the total → expect exactly ceil(total/target) = 2-3
    // files, far below the 32 fragments
    val (before, after) = LakeIO.compactToSize(spark, out, bytes / 2 + 1)
    assert(before === 32)
    assert(after <= 3 && after < before)
    // content identical, not just the count
    val back = spark.read.parquet(out)
    assert(back.count() === df.count())
    assert(back.exceptAll(df).isEmpty && df.exceptAll(back).isEmpty)
  }

  test("compactToSize over skewed input files writes even files") {
    val out = tmp() + "/t"
    val df = Tables.orders(spark, sf)
      .select("o_orderkey", "o_custkey", "o_totalprice")
    // one file holding half the rows, then 24 small ones
    val big = df.filter(col("o_orderkey") % 2 === 0)
    LakeIO.saveDataset(big.coalesce(1), out)
    LakeIO.appendDataset(df.exceptAll(big).repartition(24), out)
    val bytes = LakeIO.dataFiles(spark, out).map(_.getLen).sum
    val (before, after) = LakeIO.compactToSize(spark, out, bytes / 3 + 1)
    assert(before === 25)
    assert(after === 3)
    val sizes = LakeIO.dataFiles(spark, out).map(_.getLen)
    assert(sizes.max < 2 * sizes.min, s"uneven files: $sizes")
    val back = spark.read.parquet(out)
    assert(back.exceptAll(df).isEmpty && df.exceptAll(back).isEmpty)
    // one target file is merged without a shuffle: fewer files, same rows
    val (before1, after1) = LakeIO.compactToSize(spark, out, bytes * 2)
    assert(after1 === 1 && after1 < before1)
    assert(LakeIO.dataFiles(spark, out).length === 1)
    assert(spark.read.parquet(out).count() === df.count())
  }

  test("compactToSize on a Hive layout compacts per-partition, keeps pruning") {
    val out = tmp() + "/t"
    val nat = Tables.nation(spark, sf)
    // 4 files per partition dir → fragmented
    LakeIO.replacePartitions(nat.repartition(4), out, Seq("n_regionkey"))
    val dirs = new java.io.File(out).list().filter(_.startsWith("n_regionkey="))
    assert(dirs.nonEmpty)
    val (before, after) = LakeIO.compactToSize(spark, out, 1L << 30)
    assert(after === dirs.length, "one packed file per partition dir")
    assert(after < before)
    // key=value layout survived → partition pruning still works
    val pruned = spark.read.parquet(out).filter(col("n_regionkey") === 0)
    assert(pruned.count() === nat.filter(col("n_regionkey") === 0).count())
    assert(!pruned.queryExecution.executedPlan.toString
      .contains("PushedFilters: [EqualTo(n_regionkey"))
    // no scratch dir left behind
    assert(!new java.io.File(out + "__compact_tmp").exists())
  }

  test("Lake.compact on a versioned dataset records the rewrite in history") {
    val wh = tmp()
    val lake = new Lake(spark, wh)
    val df = Tables.orders(spark, sf)
      .select("o_orderkey", "o_totalprice")
    lake.saveVersioned(df.repartition(16), "frag")
    val (before, after) = lake.compact("frag", 1L << 30)
    assert(before === 16 && after === 1)
    // history gained a second row: the compacted version is latest,
    // with fewer files and the old snapshot retained until vacuum
    val hist = lake.history("frag").orderBy(col("version").asc).collect()
    assert(hist.length === 2)
    assert(hist(0).getAs[Int]("n_files") === 16)
    assert(hist(1).getAs[Int]("n_files") === 1)
    assert(hist(1).getAs[Boolean]("is_latest"))
    // content round-trips across the compaction version
    assert(lake.loadVersioned("frag").count() === df.count())
    // time travel to the pre-compaction snapshot still works
    assert(lake.loadVersioned("frag", Some(0)).count() === df.count())
  }

  test("bucketed tables join without a shuffle on the bucket key") {
    // disable auto-broadcast: at fixture scale AQE would broadcast the
    // dim and skip the bucketed path we're asserting (at 100 TB both
    // sides are too big to broadcast — that's bucketing's regime)
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      LakeIO.saveBucketed(Tables.orders(spark, sf)
        .select("o_orderkey", "o_custkey", "o_totalprice"),
        "b_orders", "o_custkey", 4)
      LakeIO.saveBucketed(Tables.customer(spark, sf)
        .select("c_custkey", "c_name"),
        "b_customer", "c_custkey", 4)
      val joined = spark.table("b_orders")
        .join(spark.table("b_customer"),
          col("o_custkey") === col("c_custkey"))
      joined.collect() // materialize so AQE finalizes the plan
      val p = joined.queryExecution.executedPlan.toString
      assert(p.contains("SortMergeJoin") || p.contains("ShuffledHashJoin"),
        s"expected a co-located join:\n$p")
      assert(!p.contains("Exchange hashpartitioning"),
        s"bucketed join must not shuffle either side:\n$p")
      // row-count sanity vs the unbucketed join
      val plain = Tables.orders(spark, sf)
        .join(Tables.customer(spark, sf),
          col("o_custkey") === col("c_custkey")).count()
      assert(joined.count() === plain)
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
  }

  test("saveZOrdered: content round-trips and BOTH cluster columns prune files") {
    val out = tmp() + "/z"
    val df = Tables.orders(spark, sf)
      .select("o_orderkey", "o_custkey", "o_totalprice")
    LakeIO.saveZOrdered(df, out, "o_custkey", "o_totalprice", 8)
    val back = spark.read.parquet(out)
    assert(back.count() === df.count())
    val nFiles = back.select(input_file_name()).distinct().count()
    assert(nFiles === 8L)
    // a narrow box on either dimension must touch a strict subset of
    // files (with a single-column sort, the SECOND column's ranges span
    // every file and nothing prunes). input_file_name() only surfaces
    // files whose row groups produced rows, so distinct-count == files
    // actually read past the stats.
    def touched(c: String, lo: Double, hi: Double): Long =
      back.filter(col(c) >= lo && col(c) <= hi)
        .select(input_file_name()).distinct().count()
    val cust = df.agg(min("o_custkey"), max("o_custkey")).head()
    val price = df.agg(min("o_totalprice"), max("o_totalprice")).head()
    val (cLo, cHi) = (cust.getLong(0).toDouble, cust.getLong(1).toDouble)
    val (pLo, pHi) = (price.getDouble(0), price.getDouble(1))
    val custTouched = touched("o_custkey", cLo, cLo + (cHi - cLo) / 16)
    val priceTouched = touched("o_totalprice", pLo, pLo + (pHi - pLo) / 16)
    assert(custTouched < 8, s"custkey box touched all $custTouched files")
    assert(priceTouched < 8, s"totalprice box touched all $priceTouched files")
  }

  test("DSv2 connector: filter pushdown prunes input partitions; columns prune") {
    import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
    def read() = spark.read.format("graft-synth")
      .option("rows", "1000").option("partitions", "8").load()
    // unfiltered: all 8 planned partitions
    assert(read().rdd.getNumPartitions === 8)
    // doc_id < 250 clips to slices [0,125) and [125,250): 2 partitions
    val filtered = read().filter(col("doc_id") < 250)
    assert(filtered.rdd.getNumPartitions === 2,
      "range pushdown must prune input partitions, not just rows")
    assert(filtered.count() === 250)
    // column pruning reaches the scan (only doc_id materializes)
    val pruned = read().select("doc_id")
    val scanCols = pruned.queryExecution.executedPlan.collect {
      case b: BatchScanExec => b.output.map(_.name)
    }.flatten
    assert(scanCols === Seq("doc_id"), s"scan materialized $scanCols")
    // deterministic: two independent reads agree row-for-row
    assert(read().orderBy("doc_id").collect().toSeq ===
      read().orderBy("doc_id").collect().toSeq)
  }

  test("setUnionByName aligns drifted schemas, null-fills missing cols") {
    import spark.implicits._
    val a = Seq((1L, "x")).toDF("id", "a_only")
    val b = Seq((2L, 3.5)).toDF("id", "b_only")
    val u = Relational.setUnionByName(a, b)
    assert(u.columns.toSet === Set("id", "a_only", "b_only"))
    assert(u.count() === 2)
    assert(u.filter(col("a_only").isNull).count() === 1)
  }

  test("tableMeta reflects the schema as rows") {
    val m = LakeIO.tableMeta(Tables.orders(spark, sf))
    assert(m.filter(col("col_name") === "o_orderkey")
      .filter(col("data_type") === "bigint").count() === 1)
  }

  // each call of a scratch-writing row gets its own directory, so a
  // frame built by an earlier call still reads its files after a later
  // call of the same row
  Seq[(String, (SparkSession, String) => DataFrame)](
    "sink_parquet" -> SinkQueries.sinkParquet,
    "lake_history" -> SinkQueries.lakeHistory,
    "multimodal_schema" -> Multimodal.multimodalSchema
  ).foreach { case (name, row) =>
    test(s"$name: an earlier result survives a later call of the row") {
      val a = row(spark, sf)
      val b = row(spark, sf)
      assert(a.collect() === b.collect())
    }
  }
}
