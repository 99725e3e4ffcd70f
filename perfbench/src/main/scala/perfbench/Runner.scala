package perfbench

import java.lang.management.ManagementFactory

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

/** Runs one workload: set-up, the timed closed loop, the output checks,
  * and the run record written to `--out`.
  */
object Runner {
  private def vmKb(field: String): Long =
    scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith(field + ":"))
      .map(_.split("\\s+")(1).toLong).getOrElse(0L)

  private def storageBytes(spark: SparkSession): Long = {
    org.apache.spark.perfbench.Bus.drain(spark.sparkContext)
    spark.sparkContext.getRDDStorageInfo.map(i => i.memSize + i.diskSize).sum
  }

  def run(o: Opts): Unit = {
    val jvmStart = ManagementFactory.getRuntimeMXBean.getStartTime
    val w = Workload(o.workload)
    val setupSpans = mutable.ArrayBuffer.empty[(String, Long, Long)]
    def step[T](name: String)(body: => T): T = {
      val t0 = System.nanoTime()
      try body finally setupSpans += ((name, t0, System.nanoTime()))
    }
    val spark = step("setup.session")(Session.build(o.cores, o.work))
    step("setup.warmup")(Session.warmup(spark, o.sfDir))
    step("setup.workload")(w.setup(spark, o))

    val trace = if (o.trace) Some(new Trace(spark)) else None
    trace.foreach { t =>
      setupSpans.foreach { case (n, a, b) => t.record(n, a, b) }
    }
    val ctx = new Ctx(spark, o, trace)
    // set-up counts from JVM start to the start of the timed loop
    val setupS = (System.currentTimeMillis() - jvmStart) / 1e3
    val loop0 = System.nanoTime()
    w.run(ctx)
    val loopS = (System.nanoTime() - loop0) / 1e9
    trace.foreach(_.finish())
    val storage = if (o.trace) storageBytes(spark) else 0L
    val verify0 = System.nanoTime()
    w.verify(ctx)
    val verifyS = (System.nanoTime() - verify0) / 1e9
    val memoEntries = graft.Lake.clearCaches()
    val storageAfter = if (o.trace) {
      // unpersisting is asynchronous: wait until storage settles
      var last = -1L
      var now = storageBytes(spark)
      var tries = 0
      while (now != last && now != 0 && tries < 10) {
        Thread.sleep(200); last = now; now = storageBytes(spark); tries += 1
      }
      now
    } else 0L

    val ms = ctx.records.map(_.ms).toSeq
    val busyS = ms.sum / 1e3
    val e2e = Seq(
      Metric("setup_s", setupS, "s"),
      Metric("op_p50_ms", Workload.pct(ms, 0.5), "ms"),
      Metric("op_p95_ms", Workload.pct(ms, 0.95), "ms"),
      Metric("ops_per_s", ms.size / busyS, "op/s"),
      Metric("peak_rss_mb", vmKb("VmHWM") / 1024.0, "MB"),
      Metric("failed_ratio", ctx.failed.toDouble / math.max(1, ctx.attempted),
        "ratio")) ++ w.metrics(ctx)
    val layers = trace.map { t =>
      Layers.metrics(t, ctx, o.cores) ++ w.layerMetrics(ctx) ++ Seq(
        Metric("memo.entries", memoEntries, "count"),
        Metric("memo.storage_bytes", storage.toDouble, "bytes"),
        Metric("memo.storage_bytes_after_clear", storageAfter.toDouble,
          "bytes"))
    }.getOrElse(Nil)
    trace.foreach { t =>
      java.nio.file.Files.writeString(
        java.nio.file.Paths.get(o.out.stripSuffix(".json") + ".spans.json"),
        t.spansJson)
      t.close()
    }

    def asMap(ms: Seq[Metric]) = mutable.LinkedHashMap(ms.map(m =>
      m.name -> mutable.LinkedHashMap("value" -> m.value, "unit" -> m.unit)): _*)
    Json.save(o.out, mutable.LinkedHashMap(
      "workload" -> o.workload,
      "seed" -> o.seed,
      "trace" -> o.trace,
      "correct" -> (ctx.failed == 0),
      "attempted" -> ctx.attempted,
      "failed" -> ctx.failed,
      "failures" -> (ctx.records.filterNot(_.ok).map(r => s"${r.kind} ${r.name}") ++
        ctx.checkFailures),
      "samples" -> mutable.LinkedHashMap(ctx.records.groupBy(_.kind)
        .map { case (k, v) => k -> v.size }.toSeq.sorted: _*),
      "loop_s" -> loopS,
      "verify_s" -> verifyS,
      "setup_steps_ms" -> setupSpans.map { case (n, a, b) => Seq(n, (b - a) / 1e6) },
      "meta" -> mutable.LinkedHashMap(
        "sf" -> o.sfDir,
        "nproc" -> Runtime.getRuntime.availableProcessors,
        "master" -> s"local[${o.cores}]",
        "driver_max_heap_mb" -> Runtime.getRuntime.maxMemory / (1 << 20),
        "spark" -> spark.version,
        "jvm" -> System.getProperty("java.version"),
        "codegen_cache_max_entries" ->
          spark.conf.get("spark.sql.codegen.cache.maxEntries", "100")),
      "end_to_end" -> asMap(e2e),
      "per_layer" -> asMap(layers),
      "ops" -> ctx.records.map(r => Seq(r.id, r.kind, r.name, r.ms, r.ok))))
    spark.stop()
  }
}
