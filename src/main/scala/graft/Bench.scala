package graft
import org.apache.spark.sql.SparkSession
import scala.util.control.NonFatal
object Bench {
  /** Machine-factor calibration (VERDICT r15): a FIXED amount of
    * deterministic in-memory work (400M xorshift64 steps, single
    * thread), timed. Any two bench artifacts are comparable by
    * arithmetic — machine_factor = calib_ms(run A) / calib_ms(run B) —
    * so a contention-inflated driver run no longer needs warm_ms-ratio
    * inference to adjudicate against a quiet run. Measured twice (before
    * warmup and after the timed loop) so load arriving mid-run shows.
    */
  private def calibMs(): Long = {
    val t0 = System.nanoTime()
    var x = 0x9E3779B97F4A7C15L
    var i = 0L
    while (i < 400000000L) {
      x ^= x << 13; x ^= x >>> 7; x ^= x << 17; i += 1
    }
    // data-dependent side effect defeats dead-code elimination
    if (x == 42L) System.err.println("[bench] calib fixpoint")
    (System.nanoTime() - t0) / 1000000L
  }

  /** PARALLEL calibration probe (VERDICT r16 #1: the single-thread
    * spin stays fast while neighbor load steals 31 of 32 cores — it
    * cannot see multi-core contention, which is exactly what inflated
    * the driver's timed section 1.22× over the quiet artifact with a
    * FLAT serial calibration). Fixed work: `nTasks` tasks of 100M
    * xorshift steps each, run as one Spark stage across every local
    * core. On an idle machine wall ≈ one task's spin (~1/4 of the
    * serial probe); under external load the stage serializes onto
    * whatever cores remain, so
    * machine_parallel_factor = calib_par_ms(run A) / calib_par_ms(run
    * B) exposes core starvation that leaves the serial probe flat.
    * Read both: serial flat + parallel inflated ⇒ neighbor load stole
    * cores mid-run; both inflated ⇒ the whole box slowed.
    */
  private def calibParMs(spark: SparkSession, nTasks: Int,
      steps: Long = 100000000L): Long = {
    val t0 = System.nanoTime()
    val r = spark.range(0, nTasks.toLong, 1, nTasks)
      .rdd.mapPartitions { it =>
        var acc = 0L
        it.foreach { p =>
          var x = 0x9E3779B97F4A7C15L + p
          var i = 0L
          while (i < steps) {
            x ^= x << 13; x ^= x >>> 7; x ^= x << 17; i += 1
          }
          acc ^= x
        }
        Iterator.single(acc)
      }.reduce(_ ^ _)
    if (r == 42L) System.err.println("[bench] calib-par fixpoint")
    (System.nanoTime() - t0) / 1000000L
  }

  /** Pinned per-query reference from the committed quiet artifact
    * (VERDICT r18 #2: the raw rank_contention_pct ranking was
    * non-discriminating — the QUIET run itself topped it at 94%, so a
    * contended driver artifact still read near-clean. A per-query
    * RATIO against a pinned quiet run separates the two failure
    * modes: box noise inflates every ratio roughly uniformly AND the
    * interior probe series with it; a code regression inflates a few
    * NAMED rows while the probe series and the ratio median stay
    * flat). Resolution: $SPARK_GRAFT_QUIET_REF, else the
    * highest-numbered BENCH_QUIET_r*.json in the working directory.
    * Ratios are only meaningful at the same scale factor — a ref
    * whose `sf` differs from this run's is ignored.
    */
  private case class QuietRef(name: String, sf: String,
      wall: Map[String, Double], midP50: Long)

  private def loadQuietRef(): Option[QuietRef] = {
    val path = sys.env.get("SPARK_GRAFT_QUIET_REF").orElse {
      Option(new java.io.File(".").listFiles()).getOrElse(Array.empty)
        .map(_.getName)
        .filter(_.matches("BENCH_QUIET_r\\d+\\.json"))
        .sortBy(n =>
          n.stripPrefix("BENCH_QUIET_r").stripSuffix(".json").toInt)
        .lastOption
    }
    path.flatMap { p =>
      try {
        val om = new com.fasterxml.jackson.databind.ObjectMapper()
        val root = om.readTree(new java.io.File(p))
        import scala.jdk.CollectionConverters._
        val wall = root.get("queries").fields().asScala
          .map(e => e.getKey -> e.getValue.asDouble()).toMap
        val mid = if (root.has("calib_par_mid_p50"))
          root.get("calib_par_mid_p50").asLong() else 0L
        val sf = if (root.has("sf")) root.get("sf").asText() else ""
        Some(QuietRef(p, sf, wall, mid))
      } catch {
        case NonFatal(e) =>
          System.err.println(s"[bench] quiet ref $p unreadable: $e")
          None
      }
    }
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = Scratch.cpus
    val spark = Scratch.driverSession()
    // untimed-but-REPORTED warmup (VERDICT r7 #3): each phase's cost is
    // emitted as warm_ms.<phase> in the JSON line, so the pre-paid
    // builds are visible in the artifact instead of silently excluded
    // from the total. Phases:
    //   session  — codegen/parquet-reader/JIT init (one throwaway query)
    //   bucketed — one-time bucketed-table layout build (ADVICE r4)
    //   memos    — ngram pair similarities + cluster labels (r6 #1)
    //   lm       — bigram-LM corpus model + doc scores (r6 #1)
    // A failed warmup is NOT swallowed silently (ADVICE r7 #2): only
    // NonFatal throwables are caught (OOM/interrupt propagate), and the
    // phase name lands in warmup_failed — a timed family member then
    // absorbs the build, and the artifact says exactly why.
    // WARM-PHASE POLICY (VERDICT r15 #1, one rule applied everywhere):
    // a build whose result feeds MORE THAN ONE declared query (bucketed
    // layout, pair-similarity memos, LM model, bpe/unigram trainings,
    // the multiplexed monitor replay) runs HERE, untimed but reported
    // per-phase in warm_ms; every timed row then measures only its own
    // read-side plan. Work consumed by a single row always runs timed
    // inside that row. The artifact carries warm_total_ms and
    // total_with_warm_sec so the warm-inclusive cost is a field, not an
    // inference.
    val calibPre = calibMs()
    val warmMs = scala.collection.mutable.LinkedHashMap[String, Long]()
    val warmupFailed = scala.collection.mutable.ListBuffer[String]()
    def warm(phase: String)(body: => Unit): Unit = {
      val t0 = System.nanoTime()
      try body
      catch {
        case NonFatal(e) =>
          warmupFailed += phase
          System.err.println(s"[bench] warmup '$phase' FAILED: ${e.getMessage}")
      }
      warmMs(phase) = (System.nanoTime() - t0) / 1000000L
    }
    warm("session") { SparkEntry.queries("agg_group_sum")(spark, sfDir).count(); () }
    // parallel probe AFTER the session warm, with one DISCARDED run
    // first: the first parallel stage pays JIT + task-launch warmup
    // (measured 963 ms vs 268 ms steady on an idle box), which would
    // make pre read hotter than post on every run; see calibParMs
    calibParMs(spark, cpus): Unit
    val calibParPre = calibParMs(spark, cpus)
    warm("bucketed") { graft.sources.SinkQueries.warmBucketed(spark, sfDir) }
    warm("memos") { graft.operators.MinHashDedup.warmMemos(spark, sfDir) }
    warm("lm") { graft.operators.TextOps.warmLm(spark, sfDir) }
    warm("bpe") { graft.operators.BpeTrain.warmBpe(spark, sfDir) }
    warm("unigram") { graft.operators.UnigramTrain.warmUnigram(spark, sfDir) }
    warm("wordpiece") { graft.operators.WordpieceTrain.warmWordpiece(spark, sfDir) }
    warm("monitors") { graft.streaming.Streams.warmMonitors(spark, sfDir) }
    warm("graph") { graft.operators.SimSearch.warmGraph(spark, sfDir) }
    warm("curate") { graft.operators.TextOps.warmCurate(spark, sfDir) }
    val errors = scala.collection.mutable.ListBuffer[String]()
    // per-query GC + task-time attribution (VERDICT r5 #3): rank driver
    // runs by (wall − gc) to separate VM warmth from real plan cost
    val clock = org.apache.spark.graft.Instrument.install(spark.sparkContext)
    val gcByQ = scala.collection.mutable.LinkedHashMap[String, Long]()
    val taskByQ = scala.collection.mutable.LinkedHashMap[String, Long]()
    val cpuByQ = scala.collection.mutable.LinkedHashMap[String, Long]()
    // opt-in per-stage attribution (SPARK_GRAFT_STAGE_DEBUG=query name):
    // prints each completed stage's executorRunTime + RDD lineage while
    // the named query's window is open — for diagnosing task_ms entries
    // that exceed the query's own plan cost (cross-window bleed)
    val stageDebug = sys.env.get("SPARK_GRAFT_STAGE_DEBUG")
    @volatile var currentQ = ""
    if (stageDebug.isDefined) {
      spark.sparkContext.addSparkListener(
        new org.apache.spark.scheduler.SparkListener {
          override def onStageCompleted(
              e: org.apache.spark.scheduler.SparkListenerStageCompleted)
              : Unit = {
            if (stageDebug.contains(currentQ)) {
              val i = e.stageInfo
              System.err.println(s"[stage-debug] q=$currentQ stage=" +
                s"${i.stageId} run=${i.taskMetrics.executorRunTime}ms " +
                s"tasks=${i.numTasks} " +
                i.rddInfos.map(_.name).mkString("|").take(200))
            }
          }
          override def onTaskEnd(
              e: org.apache.spark.scheduler.SparkListenerTaskEnd): Unit = {
            if (stageDebug.contains(currentQ) && e.taskMetrics != null &&
                e.taskMetrics.executorRunTime > 100) {
              System.err.println(s"[task-debug] q=$currentQ stage=" +
                s"${e.stageId} task=${e.taskInfo.index} " +
                s"run=${e.taskMetrics.executorRunTime}ms " +
                s"deser=${e.taskMetrics.executorDeserializeTime}ms " +
                s"gc=${e.taskMetrics.jvmGCTime}ms " +
                s"cpu=${e.taskMetrics.executorCpuTime / 1000000}ms")
            }
          }
        })
    }
    // run order is SORTED KEY ORDER (VERDICT r10 #3): Map iteration
    // order was stable but arbitrary, so cross-round per-query wall
    // diffs absorbed neighbor effects (who warmed whose cache); sorted
    // order makes r(N) vs r(N-1) per-query comparisons mean something
    // MID-RUN contention series (VERDICT r17 #1: the pre/post parallel
    // probes are POINT samples — BENCH_r17's driver artifact ran 2.83×
    // the quiet total with near-clean probes because the neighbor load
    // arrived and left BETWEEN them; a contended run was then
    // indistinguishable from a real regression without a rerun). Every
    // ~50 queries a short parallel mini-probe (1/4 the steps of the
    // full probe, ~70 ms idle) samples core availability INSIDE the
    // timed section; the whole series is emitted, so load that cycles
    // mid-run shows as inflated mid-series samples. The probe fires
    // between queries — task attribution is safe because each query
    // drains the listener and re-baselines the clocks before it runs —
    // and the ~7 samples cost <1 s total on an idle box.
    val calibParSeries = scala.collection.mutable.ListBuffer[Long]()
    var sinceProbe = 0
    // every ~16 queries (VERDICT r18 #2: at 50 the ~7 interior samples
    // left multi-minute unsampled stretches — load that arrived and
    // left between samples stayed invisible; ~21 samples cost <2 s
    // idle and bound the blind window to ~10 s of queries)
    val results = SparkEntry.queries.toSeq.sortBy(_._1).map { case (name, fn) =>
      currentQ = name
      if (sinceProbe >= 16) {
        calibParSeries += calibParMs(spark, cpus, steps = 25000000L)
        sinceProbe = 0
      }
      sinceProbe += 1
      org.apache.spark.graft.Instrument.drain(spark.sparkContext)
      val gc0 = org.apache.spark.graft.Instrument.jvmGcMs()
      val task0 = clock.runMs.get()
      val cpu0 = clock.cpuMs.get()
      val t0 = System.nanoTime()
      try {
        if (stageDebug.contains(name)) {
          val df = fn(spark, sfDir)
          df.count()
          System.err.println(s"[stage-debug] plan for $name:\n" +
            df.queryExecution.executedPlan.toString)
          // debugging aid: stop after the inspected query when asked —
          // the remaining ~180 queries add nothing to the attribution
          if (sys.env.contains("SPARK_GRAFT_DEBUG_EXIT")) {
            spark.stop(); sys.exit(0)
          }
        } else fn(spark, sfDir).count()
      } catch {
        case NonFatal(e) =>
          // a failed query must not masquerade as a fast success
          errors += name
          System.err.println(s"[bench] $name FAILED: ${e.getMessage}")
      }
      val wall = (System.nanoTime() - t0) / 1e9
      org.apache.spark.graft.Instrument.drain(spark.sparkContext)
      gcByQ(name) = org.apache.spark.graft.Instrument.jvmGcMs() - gc0
      taskByQ(name) = clock.runMs.get() - task0
      cpuByQ(name) = clock.cpuMs.get() - cpu0
      name -> wall
    }
    val qs = results.map { case (k, v) => s"\"" + k + "\":" + v }
      .mkString("{", ",", "}")
    def msMap(m: scala.collection.Map[String, Long]) =
      m.map { case (k, v) => s"\"" + k + "\":" + v }.mkString("{", ",", "}")
    val errJson = errors.map("\"" + _ + "\"").mkString("[", ",", "]")
    val total = results.map(_._2).sum
    // task_ms ranking (VERDICT r10 #3): executorRunTime is wall-noise-
    // free, so THIS is the list to diff against last round, not wall.
    // Emitted as an ARRAY of [name, ms] pairs — JSON object key order
    // is not contractual, so an object would lose the ranking in any
    // normalizing parser
    val rankTask = taskByQ.toSeq.sortBy(-_._2).take(20)
      .map { case (k, v) => s"""["$k",$v]""" }.mkString("[", ",", "]")
    // the mid-run probe series (see above) + its p50/max — a contended
    // stretch inside the run shows here even when pre/post read clean
    val seriesJson = calibParSeries.mkString("[", ",", "]")
    val seriesSorted = calibParSeries.toSeq.sorted
    val seriesP50 =
      if (seriesSorted.isEmpty) 0L else seriesSorted(seriesSorted.size / 2)
    val seriesMax = if (seriesSorted.isEmpty) 0L else seriesSorted.last
    // per-query contention index: (task_ms − cpu_ms)/task_ms is the
    // share of executor time tasks sat scheduled-but-not-computing
    // (core starvation, safepoints, codegen stalls) — ranked so a
    // contended artifact names its own victims; only rows with ≥ 1 s
    // of task time rank (dust rows are all noise)
    val rankCont = taskByQ.toSeq.filter(_._2 >= 1000)
      .map { case (k, t) =>
        (k, ((t - cpuByQ.getOrElse(k, 0L)).toDouble / t * 100).round)
      }.sortBy(-_._2).take(20)
      .map { case (k, v) => s"""["$k",$v]""" }.mkString("[", ",", "]")
    // per-query wall ratio vs the pinned quiet reference (see
    // loadQuietRef notes) — only rows the quiet run timed at ≥ 0.2 s
    // rate (dust rows are pure noise at ratio scale), and only when
    // the ref ran at this run's scale factor
    val quiet = loadQuietRef().filter(_.sf == sfDir)
    val ratios: Seq[(String, Double)] = quiet.toSeq.flatMap { q =>
      results.flatMap { case (k, w) =>
        q.wall.get(k).filter(_ >= 0.2).map(qw => k -> w / qw)
      }
    }
    def r2(d: Double) = math.round(d * 100) / 100.0
    val ratioSorted = ratios.map(_._2).sorted
    val ratioP50 = if (ratioSorted.isEmpty) 0.0
      else r2(ratioSorted(ratioSorted.size / 2))
    val ratioP90 = if (ratioSorted.isEmpty) 0.0
      else r2(ratioSorted((ratioSorted.size * 9) / 10))
    val rankRatio = ratios.sortBy(-_._2).take(20)
      .map { case (k, v) => s"""["$k",${r2(v)}]""" }.mkString("[", ",", "]")
    val quietRefJson = quiet.map(q => "\"" + q.name + "\"").getOrElse("null")
    // the interior probe as a DELTA vs the quiet run's own interior
    // p50: >~1.3 means cores were starved inside THIS timed section
    val midXQuiet = quiet.filter(_.midP50 > 0)
      .map(q => r2(seriesP50.toDouble / q.midP50)).getOrElse(0.0)
    // key order: the long maps FIRST, scalars LAST — JSON parsers don't
    // care, but a tail-truncated capture of this (long) line still shows
    // the headline numbers (BENCH_r01's capture kept only the last
    // 2000 chars, which would otherwise cut off the total). gc_ms is
    // whole-JVM collector time during the query's window; task_ms is the
    // summed executorRunTime of its tasks (listener-drained, exact).
    val warmFailedJson = warmupFailed.map("\"" + _ + "\"").mkString("[", ",", "]")
    val calibPost = calibMs()
    val calibParPost = calibParMs(spark, cpus)
    val warmTotalMs = warmMs.values.sum
    val totalWithWarm = total + warmTotalMs / 1000.0
    // cpu_ms = summed executorCpuTime: the scheduler/JVM-pause-free
    // compute cost. task_ms − cpu_ms is time tasks sat BLOCKED (codegen
    // compiles, safepoints) — in a 32-thread local JVM one pause charges
    // all 32 concurrent tasks, so dust-sized stages can carry seconds of
    // task_ms at milliseconds of cpu_ms. Read rank_task_ms with cpu_ms.
    val line = s"""{"gc_ms":${msMap(gcByQ)},"task_ms":${msMap(taskByQ)},"cpu_ms":${msMap(cpuByQ)},"queries":$qs,"rank_task_ms":$rankTask,"rank_contention_pct":$rankCont,"warm_ms":${msMap(warmMs)},"warmup_failed":$warmFailedJson,"warm_total_ms":$warmTotalMs,"total_with_warm_sec":$totalWithWarm,"calib_ms_pre":$calibPre,"calib_ms_post":$calibPost,"calib_par_ms_pre":$calibParPre,"calib_par_ms_post":$calibParPost,"calib_par_mid_series_ms":$seriesJson,"calib_par_mid_p50":$seriesP50,"calib_par_mid_max":$seriesMax,"quiet_ref":$quietRefJson,"wall_x_quiet_p50":$ratioP50,"wall_x_quiet_p90":$ratioP90,"rank_wall_x_quiet":$rankRatio,"calib_par_mid_x_quiet":$midXQuiet,"metric":"total","value":$total,"unit":"sec","errors":$errJson,"sf":"$sfDir","n_queries":${results.size},"failed":${errors.nonEmpty}}"""
    println(line)
    // the stdout line is ~15 KB and the driver's tail capture truncates
    // it (BENCH_r08/r09 kept ~60 of 217 per-query timings) — persist the
    // complete JSON to a file so regressions in ANY query stay visible
    try java.nio.file.Files.write(
      java.nio.file.Paths.get("target/bench_last.json"),
      (line + "\n").getBytes("UTF-8"))
    catch { case NonFatal(e) =>
      System.err.println(s"[bench] could not write target/bench_last.json: $e")
    }
    spark.stop()
    // errored queries must surface as a nonzero exit, not rc=0 with a
    // flattered total (each failure "costs" ~0.1s instead of real work)
    if (errors.nonEmpty) sys.exit(1)
  }
}
