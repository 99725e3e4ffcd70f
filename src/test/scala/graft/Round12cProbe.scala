package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.operators.{GraphOps, SimSearch}

/** Round-12 closing-session scale probe (results in SCALE.md): the two
  * new graph-shaped operators at 10–25× fixture scale, parquet-backed
  * (the Round12Probe discipline), checking their scaladoc claims:
  *
  *  - `dedup_semantic` at 20k → 500k vectors, stride codebook: pair
  *    work and wall should track the corpus LINEARLY (cell count grows
  *    with N at fixed stride), and the pair-join executed metric is
  *    the evidence — an all-pairs regression would grow 625× at 25×.
  *  - `graph_triangles` at 1× → 25× basket rows: the edge aggregate
  *    keys on the order (≤ items²/2 row-local pairs), the eager edge
  *    cut pays the corpus once, and the wedge stage is bounded by the
  *    co-count-floored edge graph, not the corpus.
  */
object Round12cProbe {
  def main(args: Array[String]): Unit = {
    val spark = SparkSession.builder().master("local[8]")
      .config("spark.sql.shuffle.partitions", "16")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false").getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val base = java.nio.file.Files.createTempDirectory("graft_r12c").toString

    // isotropic key-mixed vectors (the first cut's additive id/d mix
    // made every vector a shifted copy of one pattern — degenerate
    // cells) + 1% planted near-copies so the drop path is live and
    // AQE's empty-relation fold can't erase the measured joins
    def vecCorpus(n: Long): DataFrame = {
      val dir = s"$base/v$n"
      if (!new java.io.File(dir).exists()) {
        // murmur3 per (id, d): the modular-arithmetic mixes tried
        // first had period-1999 structure in id — thousands of EXACT
        // clones, quadratic pairs by construction
        val v = spark.range(n).select(col("id").as("vec_id"),
          transform(sequence(lit(0), lit(63)),
            d => ((pmod(hash(col("id"), d), lit(1999))
              .cast("float") - 999f) / 999f).cast("float"))
            .as("embedding"))
        val copies = spark.range(n / 100).select(
          (col("id") + n).as("vec_id"),
          transform(sequence(lit(0), lit(63)),
            d => ((pmod(hash(col("id") * 97, d), lit(1999))
              .cast("float") - 999f) / 999f + 1e-4f).cast("float"))
            .as("embedding"))
        v.unionAll(copies).write.parquet(dir)
      }
      spark.read.parquet(dir)
    }
    // exact pair work Σ c·(c−1)/2 over the cell histogram (the cos
    // threshold fuses into the pair join, so its numOutputRows metric
    // reports post-filter pairs — the histogram is the honest count)
    def pairWork(emb: DataFrame, stride: Long): (Long, Long) = {
      val cells = SimSearch.ivfAssignCorpus(emb,
        SimSearch.ivfCodebook(emb, stride))
        .groupBy(col("cent_id")).agg(count(lit(1)).as("c"))
      val r = cells.agg(count(lit(1)),
        sum(col("c") * (col("c") - 1) / 2).cast("long")).head()
      (r.getLong(0), r.getLong(1))
    }

    // three codebook regimes: fixed STRIDE (cells grow with N — the
    // assignment argmax is O(C·d) per row, so total assign cost goes
    // QUADRATIC), fixed CELLS (assign linear, within-cell pair work
    // quadratic), and the balanced C ≈ 2√N (both stages O(N^1.5) —
    // the classic IVF balance; SemDeDup's production choice scales C
    // with the corpus for exactly this reason)
    SimSearch.semDedupDocs(vecCorpus(5000L), 127, 0.95).count() // warm
    Seq(("1x", 20000L), ("5x", 100000L), ("10x", 200000L)).foreach {
      case (tag, n) =>
        val cFixed = math.max(1L, n / 256L) // ~256 cells
        val cSqrt = math.max(1L,
          (n / (2 * math.sqrt(n.toDouble))).toLong) // ~2√N cells
        Seq(("stride127", 127L), ("cells256", cFixed),
          ("sqrtN", cSqrt)).foreach { case (cfg, stride) =>
          val t0 = System.nanoTime()
          val survivors =
            SimSearch.semDedupDocs(vecCorpus(n), stride, 0.95)
              .count()
          val t1 = System.nanoTime()
          val (cCells, pairs) = pairWork(vecCorpus(n), stride)
          println(f"R12CPROBE $tag dedup_semantic/$cfg " +
            f"${(t1 - t0) / 1e9}%.2f s cells=$cCells pair_work=$pairs" +
            f" dropped=${n + n / 100 - survivors} vecs=$n")
        }
    }

    // basket frame: ~5 items per order from a pool sized so popular
    // co-pairs repeat (minCo=2 keeps the edge graph sparse)
    def baskets(nOrders: Long): DataFrame = {
      val dir = s"$base/b$nOrders"
      if (!new java.io.File(dir).exists()) {
        val pool = math.max(200L, nOrders / 25L)
        spark.range(nOrders * 5).select(
          (col("id") / 5).cast("long").as("ok"),
          (((col("id") * 2654435761L + (col("id") % 5) * 97L)
            % pool + pool) % pool).as("pk"))
          .write.parquet(dir)
      }
      spark.read.parquet(dir)
    }
    // event_pattern heavy-user stress: the scaladoc claims the
    // collect+sort is bounded by a USER's own event count — pin that
    // one pathological 100k/500k-event user neither fails nor drags
    // the keyed agg (the single heavy task holds ~N structs in memory;
    // that IS the operator's documented per-key bound)
    def heavyEvents(nHeavy: Long): DataFrame = {
      val dir = s"$base/e$nHeavy"
      if (!new java.io.File(dir).exists()) {
        val types = array(lit("view"), lit("click"), lit("purchase"),
          lit("signup"), lit("error"))
        spark.range(nHeavy + 100000L).select(
          when(col("id") < nHeavy, 0L)
            .otherwise(((col("id") - nHeavy) / 100).cast("long") + 1)
            .as("user_id"),
          timestamp_micros(col("id") * 1000000L).as("ts"),
          col("id").as("event_id"),
          element_at(types, (pmod(hash(col("id")), lit(5)) + 1)
            .cast("int")).as("event_type"))
          .write.parquet(dir)
      }
      spark.read.parquet(dir)
    }
    graft.operators.EventWindows.eventPatternEvents(heavyEvents(10000L))
      .count() // warm
    Seq(("100k", 100000L), ("500k", 500000L)).foreach { case (tag, h) =>
      val t0 = System.nanoTime()
      val rows = graft.operators.EventWindows
        .eventPatternEvents(heavyEvents(h)).collect()
      val t1 = System.nanoTime()
      val heavy = rows.find(_.getLong(0) == 0L).get
      println(f"R12CPROBE $tag event_pattern ${(t1 - t0) / 1e9}%.2f s" +
        f" users=${rows.length} heavy_events=${heavy.getLong(1)}" +
        f" heavy_conv=${heavy.getLong(2)}")
      assert(heavy.getLong(1) == h && heavy.getLong(2) > 0)
    }

    GraphOps.triangleEnum(GraphOps.coPurchaseEdges(baskets(3000L), 2L))
      .count() // warm
    Seq(("1x", 15000L), ("5x", 75000L), ("25x", 375000L)).foreach {
      case (tag, n) =>
        val t0 = System.nanoTime()
        val tri = GraphOps.triangleEnum(
          GraphOps.coPurchaseEdges(baskets(n), 2L)).count()
        val t1 = System.nanoTime()
        println(f"R12CPROBE $tag graph_triangles ${(t1 - t0) / 1e9}%.2f s" +
          f" triangles=$tri orders=$n")
    }
    spark.stop()
  }
}
