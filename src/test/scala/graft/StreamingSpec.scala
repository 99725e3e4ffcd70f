package graft

import java.sql.Timestamp
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.streaming.Streams
import graft.operators.EventWindows

/** Structured Streaming semantics (SURVEY.md §2.I): batch↔stream window
  * equivalence, watermark late-data drop, stateful dedup, custom keyed
  * state — the behaviors the DuckDB oracle cannot observe.
  */
class StreamingSpec extends AnyFunSuite {
  val spark = TestSpark.spark
  import spark.implicits._
  implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext

  case class Ev(event_id: Long, ts: Timestamp, user_id: Long,
    event_type: String, value: Double, props: String)

  private def ts(s: String) = Timestamp.valueOf(s)

  private def runToTable(df: org.apache.spark.sql.DataFrame, name: String,
      mode: String): Unit = {
    val q = df.writeStream.format("memory").queryName(name)
      .outputMode(mode).start()
    q.processAllAvailable()
    q.stop()
  }

  /** `body` on the RocksDB state store, which transformWithState's
    * multi-column-family state needs; the previous provider is restored.
    */
  private def withRocksDb[T](body: => T): T = {
    val key = "spark.sql.streaming.stateStore.providerClass"
    val prev = spark.conf.getOption(key)
    spark.conf.set(key,
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try body
    finally prev.fold(spark.conf.unset(key))(spark.conf.set(key, _))
  }

  /** Replays the fixture's events through `scores` into memory table
    * `name` as two file batches: the events, then one sentinel event
    * `sentinelHours` after the last, whose watermark closes every real
    * bucket. The processors' MapState and ValueState need the RocksDB
    * store's column families.
    */
  private def replayWithSentinel(name: String, sentinelHours: Long)(
      scores: org.apache.spark.sql.DataFrame => org.apache.spark.sql.DataFrame)
      : Unit = {
    val ev = graft.sources.Tables.events(spark, TestSpark.sf)
    val dir = Scratch.dir(name)
    val feed = new java.io.File(s"$dir/feed"); feed.mkdirs()
    ev.coalesce(1).write.parquet(s"$dir/b1")
    val maxTs = ev.agg(max(col("ts"))).head().getTimestamp(0)
    val sentinelTs = new Timestamp(maxTs.getTime + sentinelHours * 3600 * 1000)
    spark.range(1).select(lit(-1L).as("event_id"),
      lit(sentinelTs).as("ts"), lit(-1L).as("user_id"),
      lit("__sentinel").as("event_type"), lit(0.0).as("value"),
      lit("{}").as("props")).write.parquet(s"$dir/b2")
    def deliver(batch: String): Unit =
      new java.io.File(s"$dir/$batch").listFiles()
        .filter(_.getName.endsWith(".parquet")).zipWithIndex
        .foreach { case (f, i) =>
          java.nio.file.Files.move(f.toPath,
            new java.io.File(feed, s"$batch-$i.parquet").toPath)
        }
    val stream = spark.readStream.schema(ev.schema).parquet(feed.toString)
    withRocksDb {
      val q = scores(stream).writeStream.format("memory")
        .queryName(name).start()
      try Seq("b1", "b2").foreach { b => deliver(b); q.processAllAvailable() }
      finally q.stop()
    }
  }

  /** The planted-churn consumer harness: publishes `snapshots` as a
    * captured table, streams commits (i, i+1] as micro-batch i into the
    * foreachBatch replica fold, and returns the final replica.
    */
  private def streamCdfApplyCore(name: String,
      snapshots: Seq[org.apache.spark.sql.DataFrame],
      keys: Seq[String]): org.apache.spark.sql.DataFrame =
    Streams.streamCdfApplyFromTable(spark, name, keys) { dir =>
      val tbl = s"$dir/table"
      snapshots.foreach(s =>
        graft.sources.LakeIO.saveVersionCdf(s.repartition(4), tbl, keys))
      tbl
    }

  test("tumbling window: streaming result equals batch form (file replay)") {
    val sfd = TestSpark.sf
    runToTable(Streams.tumblingCounts(Streams.eventsFileStream(spark, sfd)),
      "tumb", "complete")
    val streamed = spark.table("tumb")
      .orderBy("win_start", "event_type").collect().toSeq
    val batch = EventWindows.tumbling(spark, sfd)
      .select("win_start", "event_type", "n_events", "sum_value")
      .collect().toSeq
    assert(streamed === batch)
  }

  test("streaming OHLC bars equal the batch ts_resample (file replay)") {
    val sfd = TestSpark.sf
    runToTable(Streams.ohlcBars(Streams.eventsFileStream(spark, sfd)),
      "ohlc", "complete")
    val streamed = spark.table("ohlc")
      .orderBy("event_type", "win_start").collect().toSeq
    val batch = graft.operators.EventWindows
      .tsResample(spark, sfd)
      .select(col("event_type"), col("bucket").as("win_start"),
        col("open"), col("high"), col("low"), col("close"),
        col("n_events"))
      .select("win_start", "event_type", "open", "high", "low", "close",
        "n_events")
      .orderBy("event_type", "win_start")
      .collect().toSeq
    assert(streamed === batch)
  }

  test("streaming prequential anomaly equals the batch twin (file replay + sentinel)") {
    // stream_anomaly: hourly buckets close via EVENT-TIME TIMERS as the
    // watermark passes; each closed bucket is scored against the
    // moments of its series' PRIOR buckets only. A far-future sentinel
    // batch pushes the watermark past every real bucket so the full
    // fixture finalizes (the watermarkLateOk delivery shape).
    val sfd = TestSpark.sf
    replayWithSentinel("anom", sentinelHours = 24)(Streams.anomalyScores)
    val streamed = spark.table("anom")
      .filter(col("event_type") =!= "__sentinel")
      .select("event_type", "bucket", "bucket_value", "z", "anomaly")
      .orderBy("event_type", "bucket").collect().toSeq
    val batch = EventWindows.streamAnomalyBatch(spark, sfd)
      .select("event_type", "bucket", "bucket_value", "z", "anomaly")
      .collect().toSeq
    assert(streamed === batch)
    assert(streamed.nonEmpty, "replay must finalize real buckets")
  }

  test("streaming day-over-day drift equals the batch twin (file replay + sentinel)") {
    // ts_drift: daily histograms close via EVENT-TIME TIMERS; each
    // closed day KS-scores against the last closed adjacent day. The
    // sentinel sits 72h past max(ts) so the watermark clears every real
    // DAY end (the hourly test's 24h margin is too tight for daily
    // buckets).
    val sfd = TestSpark.sf
    replayWithSentinel("drift", sentinelHours = 72)(Streams.driftScores)
    val streamed = spark.table("drift")
      .filter(col("event_type") =!= "__sentinel")
      .select(col("event_type"),
        date_format(col("day"), "yyyy-MM-dd").as("day"),
        col("ks_num"), col("n_cur"), col("n_prev"), col("ks"))
      .orderBy("event_type", "day").collect().toSeq
    val batch = EventWindows.tsDrift(spark, sfd)
      .select("event_type", "day", "ks_num", "n_cur", "n_prev", "ks")
      .collect().toSeq
    assert(streamed === batch)
    assert(streamed.nonEmpty, "replay must finalize real day pairs")
  }

  test("streaming Page-CUSUM equals the fixed-window batch twin " +
      "(file replay + sentinel)") {
    // ts_changepoint online form: daily sums close via EVENT-TIME
    // TIMERS; the first 7 closed days learn mu/MAD, then every closed
    // day scores the two-sided integer CUSUM. The batch twin pins the
    // SAME fixed window (refDays = Some(7)).
    val sfd = TestSpark.sf
    replayWithSentinel("cpoint", sentinelHours = 72)(
      Streams.changepointScores(_, refDays = 7))
    val ev = graft.sources.Tables.events(spark, sfd)
    val streamed = spark.table("cpoint")
      .filter(col("event_type") =!= "__sentinel")
      .select(col("event_type"),
        date_format(col("day"), "yyyy-MM-dd").as("day"),
        col("day_value"), col("cusum_pos"), col("cusum_neg"),
        col("changepoint"))
      .orderBy("event_type", "day").collect().toSeq
    // restrict the batch twin to series with >= 7 days: a shorter
    // series stays inside the stream's learning window and emits
    // nothing (the fixture has none today, but the equality must not
    // depend on that staying true)
    val qual = ev.groupBy(col("event_type"))
      .agg(countDistinct(date_trunc("day", col("ts"))).as("nd"))
      .filter(col("nd") >= 7).select("event_type")
    val batch = EventWindows.tsChangepointEvents(ev, refDays = Some(7))
      .join(qual, "event_type")
      .select("event_type", "day", "day_value", "cusum_pos",
        "cusum_neg", "changepoint")
      .orderBy("event_type", "day")
      .collect().toSeq
    assert(streamed === batch)
    assert(streamed.nonEmpty, "replay must finalize real days")
    assert(streamed.exists(_.getInt(5) == 1) ||
      streamed.forall(_.getInt(5) == 0)) // flags consistent by equality
  }

  test("stream-stream interval join equals the batch attribution join") {
    val sfd = TestSpark.sf
    val ev = Streams.eventsFileStream(spark, sfd)
    val clicks = ev.filter(col("event_type") === "click")
      .select(col("user_id").as("c_user_id"),
        col("event_id").as("click_id"), col("ts").as("click_ts"))
    val purchases = ev.filter(col("event_type") === "purchase")
      .select(col("user_id").as("p_user_id"),
        col("event_id").as("purchase_id"), col("ts").as("purchase_ts"))
    runToTable(Streams.clickPurchaseJoin(clicks, purchases), "ssjoin",
      "append")
    val streamed = spark.table("ssjoin")
      .orderBy("user_id", "purchase_id", "click_id").collect().toSeq
    val batch = EventWindows.streamJoinBatch(spark, sfd).collect().toSeq
    assert(streamed.nonEmpty && streamed === batch)
  }

  case class Clk(c_user_id: Long, click_id: Long, click_ts: Timestamp)
  case class Pur(p_user_id: Long, purchase_id: Long, purchase_ts: Timestamp)

  test("stream-stream LEFT OUTER join: NULL-padded row emits only after watermark expiry") {
    val clicks = MemoryStream[Clk]
    val purchases = MemoryStream[Pur]
    val q = Streams.clickPurchaseJoinOuter(clicks.toDF(), purchases.toDF())
      .writeStream.format("memory").queryName("ssouter").start()
    // user 1: purchase with a click 10 min earlier → inner match
    // user 2: purchase with NO click in the preceding 30 min
    clicks.addData(Clk(1, 100, ts("2025-01-01 09:50:00")))
    purchases.addData(
      Pur(1, 500, ts("2025-01-01 10:00:00")),
      Pur(2, 501, ts("2025-01-01 10:05:00")))
    q.processAllAvailable()
    val afterBatch1 = spark.table("ssouter")
      .as[(Long, Long, Option[Long], Option[Long])].collect().toSet
    // the matched row emits immediately; the unmatched purchase must NOT
    // yet have a NULL row — the watermark cannot prove no click is coming
    assert(afterBatch1 === Set((1L, 500L, Some(100L), Some(600L))))
    // advance BOTH watermarks (join watermark = min of the two) far past
    // purchase 501's match window end (10:05 + 30 min): event time 13:00
    // − 1 h delay = 12:00 → state for 501 is provably unmatched
    clicks.addData(Clk(9, 999, ts("2025-01-01 13:00:00")))
    purchases.addData(Pur(9, 998, ts("2025-01-01 13:00:00")))
    q.processAllAvailable()
    q.stop()
    val afterExpiry = spark.table("ssouter")
      .as[(Long, Long, Option[Long], Option[Long])].collect().toSet
    assert(afterExpiry.contains((2L, 501L, None, None)),
      s"expected NULL-padded row for purchase 501, got $afterExpiry")
  }

  test("stream-stream LEFT OUTER join equals the batch form (file replay)") {
    val sfd = TestSpark.sf
    val ev = Streams.eventsFileStream(spark, sfd)
    val clicks = ev.filter(col("event_type") === "click")
      .select(col("user_id").as("c_user_id"),
        col("event_id").as("click_id"), col("ts").as("click_ts"))
    val purchases = ev.filter(col("event_type") === "purchase")
      .select(col("user_id").as("p_user_id"),
        col("event_id").as("purchase_id"), col("ts").as("purchase_ts"))
    runToTable(Streams.clickPurchaseJoinOuter(clicks, purchases), "ssoutereq",
      "append")
    val streamed = spark.table("ssoutereq")
    val batch = EventWindows.streamJoinOuterBatch(spark, sfd)
    // matched rows are emitted as soon as both sides arrive — they must
    // match the batch inner set exactly
    val sm = streamed.filter(col("click_id").isNotNull)
      .orderBy("user_id", "purchase_id", "click_id").collect().toSeq
    val bm = batch.filter(col("click_id").isNotNull).collect().toSeq
    assert(sm.nonEmpty && sm === bm)
    // NULL rows emit only once the watermark passes the purchase's match
    // window; purchases near the stream's end stay in state. Streamed
    // NULLs ⊆ batch NULLs, and every batch NULL comfortably before the
    // final watermark (max ts − 1 h delay − 30 min window − 1 h slack)
    // must have been emitted.
    val sNull = streamed.filter(col("click_id").isNull)
      .select("purchase_id").as[Long].collect().toSet
    val bNull = batch.filter(col("click_id").isNull)
      .select("purchase_id").as[Long].collect().toSet
    assert(sNull.subsetOf(bNull))
    val maxTs = graft.sources.Tables.events(spark, sfd)
      .agg(max(col("ts"))).collect().head.getTimestamp(0).getTime
    val safeNull = EventWindows.streamJoinOuterBatch(spark, sfd)
      .filter(col("click_id").isNull)
      .join(graft.sources.Tables.events(spark, sfd)
        .select(col("event_id").as("purchase_id"), col("ts")), "purchase_id")
      .filter(col("ts") < new Timestamp(maxTs - (150L * 60 * 1000)))
      .select("purchase_id").as[Long].collect().toSet
    assert(safeNull.subsetOf(sNull),
      s"${(safeNull -- sNull).size} watermark-expired purchases missing NULL rows")
  }

  test("stream-stream FULL OUTER join: both sides NULL-pad after watermark expiry") {
    val clicks = MemoryStream[Clk]
    val purchases = MemoryStream[Pur]
    val q = Streams.clickPurchaseJoinFull(clicks.toDF(), purchases.toDF())
      .writeStream.format("memory").queryName("ssfull").start()
    // user 1: matched pair; user 2: purchase with no click;
    // user 3: click with no purchase in the following 30 min
    clicks.addData(Clk(1, 100, ts("2025-01-01 09:50:00")),
      Clk(3, 101, ts("2025-01-01 09:00:00")))
    purchases.addData(
      Pur(1, 500, ts("2025-01-01 10:00:00")),
      Pur(2, 501, ts("2025-01-01 10:05:00")))
    q.processAllAvailable()
    // advance both watermarks far past every match window
    clicks.addData(Clk(9, 999, ts("2025-01-01 13:00:00")))
    purchases.addData(Pur(9, 998, ts("2025-01-01 13:00:00")))
    q.processAllAvailable()
    q.stop()
    val rows = spark.table("ssfull")
      .as[(Long, Option[Long], Option[Long], Option[Long])].collect().toSet
    assert(rows.contains((1L, Some(500L), Some(100L), Some(600L)))) // matched
    assert(rows.contains((2L, Some(501L), None, None)), // purchase-side NULL
      s"purchase 501 missing its NULL-padded row: $rows")
    assert(rows.contains((3L, None, Some(101L), None)), // click-side NULL
      s"click 101 missing its NULL-padded row: $rows")
  }

  test("stream-stream LEFT SEMI join equals the batch form (file replay)") {
    val sfd = TestSpark.sf
    val ev = Streams.eventsFileStream(spark, sfd)
    val clicks = ev.filter(col("event_type") === "click")
      .select(col("user_id").as("c_user_id"),
        col("event_id").as("click_id"), col("ts").as("click_ts"))
    val purchases = ev.filter(col("event_type") === "purchase")
      .select(col("user_id").as("p_user_id"),
        col("event_id").as("purchase_id"), col("ts").as("purchase_ts"))
    runToTable(Streams.clickPurchaseJoinSemi(clicks, purchases), "sssemi",
      "append")
    // semi matches emit as soon as the first qualifying click arrives —
    // no watermark tail, so the full result must equal the batch form
    val streamed = spark.table("sssemi")
      .orderBy("user_id", "purchase_id").collect().toSeq
    val batch = EventWindows.streamJoinSemiBatch(spark, sfd).collect().toSeq
    assert(streamed.nonEmpty && streamed === batch)
  }

  test("stream-static ANTI join: streamed incremental dedup equals the batch form") {
    val sfd = TestSpark.sf
    val docs = graft.sources.Tables.documents(spark, sfd)
    val existing = docs.filter(col("doc_id") % 10 < 8)
      .select(org.apache.spark.sql.functions
        .sha2(graft.operators.TextOps.normText(col("text")), 256).as("h"))
      .distinct()
    val incoming = Streams.documentsFileStream(spark, sfd)
      .filter(col("doc_id") % 10 >= 8)
    runToTable(graft.operators.TextOps.newContent(incoming, existing),
      "ssdedup", "append")
    val streamed = spark.table("ssdedup").orderBy("doc_id").collect().toSeq
    val batch = graft.operators.TextOps.dedupIncremental(spark, sfd)
      .collect().toSeq
    assert(streamed.nonEmpty && streamed === batch)
  }

  test("stream-static join equals the batch dim enrichment") {
    val sfd = TestSpark.sf
    val enriched = Streams.enrichWithCustomer(
      Streams.eventsFileStream(spark, sfd),
      graft.sources.Tables.customer(spark, sfd))
    runToTable(enriched, "ssdim", "append")
    val streamed = spark.table("ssdim")
      .orderBy("event_id").collect().toSeq
    val batch = EventWindows.streamStaticJoinBatch(spark, sfd)
      .collect().toSeq
    assert(streamed.nonEmpty && streamed === batch)
  }

  test("watermark drops late data beyond the threshold") {
    val mem = MemoryStream[Ev]
    val counts = Streams.tumblingCounts(mem.toDF())
    val q = counts.writeStream.format("memory").queryName("wmk").start()
    // window 10:00 gets 2 events
    mem.addData(
      Ev(1, ts("2025-01-01 10:00:10"), 1, "click", 1.0, "{}"),
      Ev(2, ts("2025-01-01 10:20:00"), 1, "click", 1.0, "{}"))
    q.processAllAvailable()
    // advance event time → watermark passes 10:00 window; it finalizes
    mem.addData(Ev(3, ts("2025-01-01 12:00:00"), 1, "click", 1.0, "{}"))
    q.processAllAvailable()
    // late arrival inside the already-finalized window → dropped
    mem.addData(Ev(4, ts("2025-01-01 10:05:00"), 1, "click", 9.0, "{}"))
    q.processAllAvailable()
    q.stop()
    val w10 = spark.table("wmk")
      .filter(col("win_start") === ts("2025-01-01 10:00:00")).collect()
    assert(w10.length === 1)
    assert(w10.head.getAs[Long]("n_events") === 2) // late row NOT counted
  }

  test("dropDuplicatesWithinWatermark removes in-watermark duplicates") {
    val mem = MemoryStream[Ev]
    val q = Streams.dedupWithWatermark(mem.toDF())
      .writeStream.format("memory").queryName("dedup").start()
    mem.addData(
      Ev(1, ts("2025-01-01 10:00:00"), 1, "click", 1.0, "{}"),
      Ev(1, ts("2025-01-01 10:00:05"), 1, "click", 1.0, "{}"), // dup id
      Ev(2, ts("2025-01-01 10:01:00"), 1, "click", 1.0, "{}"))
    q.processAllAvailable()
    mem.addData(Ev(1, ts("2025-01-01 10:02:00"), 1, "click", 1.0, "{}")) // dup again
    q.processAllAvailable()
    q.stop()
    assert(spark.table("dedup").select("event_id").as[Long].collect().sorted
      === Array(1L, 2L))
  }

  test("dropDuplicatesWithinWatermark: expired state re-admits the key (bounded-state contract)") {
    // the property separating WithinWatermark from plain dropDuplicates:
    // dedup state is EVICTED once the watermark passes the event's
    // expiry, so a much-later re-occurrence is emitted again — which is
    // exactly why state stays bounded at 100 TB stream volumes
    val mem = MemoryStream[Ev]
    val q = Streams.dedupWithWatermark(mem.toDF())
      .writeStream.format("memory").queryName("dedup_exp").start()
    mem.addData(Ev(1, ts("2025-01-01 10:00:00"), 1, "click", 1.0, "{}"))
    q.processAllAvailable()
    // sentinel advances the watermark to 11:50, far past id 1's expiry
    mem.addData(Ev(2, ts("2025-01-01 12:00:00"), 99, "click", 1.0, "{}"))
    q.processAllAvailable()
    // same event_id again after eviction → re-emitted
    mem.addData(Ev(1, ts("2025-01-01 12:01:00"), 1, "click", 1.0, "{}"))
    q.processAllAvailable()
    q.stop()
    assert(spark.table("dedup_exp").count() === 3,
      "expired dedup state must re-admit the key")
  }

  test("flatMapGroupsWithState keeps a running per-user total across batches") {
    val mem = MemoryStream[Ev]
    val q = Streams.runningPurchaseTotals(spark, mem.toDF())
      .writeStream.format("memory").queryName("stateful").start()
    mem.addData(
      Ev(1, ts("2025-01-01 10:00:00"), 1, "purchase", 10.0, "{}"),
      Ev(2, ts("2025-01-01 10:01:00"), 2, "purchase", 5.0, "{}"))
    q.processAllAvailable()
    // state must persist into the next micro-batch
    mem.addData(Ev(3, ts("2025-01-01 10:02:00"), 1, "purchase", 20.0, "{}"))
    q.processAllAvailable()
    q.stop()
    val rows = spark.table("stateful")
      .orderBy("event_id")
      .as[(Long, Long, Double)].collect().toSeq
    assert(rows === Seq((1L, 1L, 10.0), (2L, 2L, 5.0), (1L, 3L, 30.0)))
  }

  test("TTL'd state: totals accumulate within TTL, reset after eviction",
      SlowTest) {
    withRocksDb {
      val mem = MemoryStream[Ev]
      // TTL of 30s: batch 2 lands well within it (state survives),
      // batch 3 lands after a 35s idle gap (state evicted → restart).
      // Margins are wide because TTL expiry is evaluated against batch
      // processing-time timestamps (second granularity + trigger
      // latency), not a precise wall clock — and the TTL must dominate
      // worst-case trigger delay on a loaded machine (ADVICE r7: at
      // 10s, one slow batch-2 trigger evicted state early and failed
      // the assertion intermittently).
      // NOTE: under TimeMode.ProcessingTime the query runs no-data
      // micro-batches continuously (to advance processing time for
      // TTL/timers), so processAllAvailable never quiesces — poll the
      // sink for the expected row count instead.
      val q = Streams.runningTotalsWithTtl(spark, mem.toDF(), ttlMs = 30000L)
        .writeStream.format("memory").queryName("tws_ttl").start()
      def awaitRows(n: Long): Unit = {
        val deadline = System.currentTimeMillis() + 60000L
        while (spark.table("tws_ttl").count() < n &&
            System.currentTimeMillis() < deadline) {
          assert(q.exception.isEmpty, s"stream died: ${q.exception}")
          Thread.sleep(100L)
        }
        assert(spark.table("tws_ttl").count() >= n,
          s"timed out waiting for $n sink rows")
      }
      mem.addData(Ev(1, ts("2025-01-01 10:00:00"), 1, "purchase", 10.0, "{}"))
      awaitRows(1)
      mem.addData(Ev(2, ts("2025-01-01 10:01:00"), 1, "purchase", 5.0, "{}"))
      awaitRows(2) // within TTL → 10 + 5
      Thread.sleep(35000L) // let user 1's state expire
      mem.addData(Ev(3, ts("2025-01-01 10:30:00"), 1, "purchase", 7.0, "{}"))
      awaitRows(3) // state gone → restarts at 7, not 22
      q.stop()
      val rows = spark.table("tws_ttl").orderBy("event_id")
        .as[(Long, Long, Double)].collect().toSeq
      assert(rows === Seq((1L, 1L, 10.0), (1L, 2L, 15.0), (1L, 3L, 7.0)))
    }
  }

  test("stream_state_ttl batch shape keeps only purchases within the TTL of each user's latest") {
    val sfd = TestSpark.sf
    import org.apache.spark.sql.Row
    val out = EventWindows.stateTtlBatch(spark, sfd).collect()
    assert(out.nonEmpty)
    // every user's live set is nonempty (their latest purchase always
    // qualifies) and live_value sums only the retained purchases
    val ev = graft.sources.Tables.events(spark, sfd)
      .filter(col("event_type") === "purchase")
      .groupBy("user_id")
      .agg(max("ts").as("max_ts"), count(lit(1)).as("n_all"))
      .collect().map(r => r.getLong(0) -> r.getLong(2)).toMap
    out.foreach { case Row(u: Long, nLive: Long, _) =>
      assert(nLive >= 1L && nLive <= ev(u))
    }
  }

  test("sliding windows: streaming result equals batch form (file replay)") {
    val sfd = TestSpark.sf
    runToTable(Streams.slidingCounts(Streams.eventsFileStream(spark, sfd)),
      "slide", "complete")
    val streamed = spark.table("slide")
      .orderBy("win_start", "event_type").collect().toSeq
    val batch = EventWindows.sliding(spark, sfd)
      .select("win_start", "event_type", "n_events")
      .collect().toSeq
    assert(streamed === batch)
  }

  test("event_pattern_sessioned: the SAME aggregation streams (session " +
      "funnel under watermark matches the batch operator)") {
    val sfd = TestSpark.sf
    val stream = EventWindows.sessionFunnelAgg(
      Streams.eventsFileStream(spark, sfd)
        .withWatermark("ts", "10 minutes"), gapMinutes = 30)
    val q = stream.writeStream.format("memory").queryName("sess_funnel").start()
    q.processAllAvailable(); q.stop()
    // append mode emits only watermark-CLOSED sessions; the file replay
    // ends with the watermark at max(ts) − 10 min, so compare on the
    // sessions the batch form also closes before that point
    val cutoff = graft.sources.Tables.events(spark, sfd)
      .agg(max(col("ts"))).head().getTimestamp(0)
    val streamed = spark.table("sess_funnel")
      .collect().map(_.toSeq).toSet
    val batch = EventWindows.eventPatternSessioned(spark, sfd)
      .collect().map(_.toSeq).toSet
    assert(streamed.nonEmpty, "no session closed — watermark never advanced")
    assert(streamed.subsetOf(batch),
      s"streamed sessions diverge from batch: ${streamed -- batch}")
    // closed-session completeness (not just soundness): a session's
    // close time is <= the same user's NEXT session start (the >= gap
    // island rule), so any non-final session whose successor started
    // before the final watermark must have been emitted
    val wmMs = cutoff.getTime - 11L * 60 * 1000 // 10-min delay + margin
    val fmt = new java.text.SimpleDateFormat("yyyy-MM-dd HH:mm:ss")
    fmt.setTimeZone(java.util.TimeZone.getTimeZone("UTC"))
    val mustClose = batch.groupBy(_.head).values.flatMap { rows =>
      val ordered = rows.toSeq.sortBy(_(1).toString)
      ordered.zip(ordered.drop(1)).collect {
        case (a, b) if fmt.parse(b(1).toString).getTime < wmMs => a
      }
    }.toSet
    assert(mustClose.subsetOf(streamed),
      s"a provably-closed session was never emitted: ${mustClose -- streamed}")
  }

  test("stream_dedup_minhash_ok: RocksDB bucket state carries the seen-" +
      "store across micro-batches (equals the batch incremental op)") {
    val sfd = TestSpark.sf
    val got = Streams.streamDedupMinhashOk(spark, sfd)
      .collect().map(_.getLong(0)).toSeq
    val want = graft.operators.MinHashDedup
      .dedupMinhashIncremental(spark, sfd)
      .collect().map(_.getLong(0)).toSeq
    assert(got === want)
    // non-vacuous: the fixture plants near-dups across the batch split
    val deltaN = graft.sources.Tables.documents(spark, sfd)
      .filter(col("doc_id") % 10 >= 8).count()
    assert(got.size < deltaN, "no doc was dropped — vacuous replay")
  }

  test("monitor replays share ONE memoized events feed (the r15 cost cap, " +
      "measured not argued)") {
    val sfd = TestSpark.sf
    val ev = graft.sources.Tables.events(spark, sfd)
      .select(col("event_id"), col("ts"), col("user_id"),
        col("event_type"), col("value"), col("props"))
    val (dir1, maxTs1, n1) = Streams.cachedEventsFeed(spark, sfd, ev)
    val (dir2, maxTs2, n2) = Streams.cachedEventsFeed(spark, sfd, ev)
    assert(dir1 === dir2, "second monitor must hit the feed memo")
    assert(maxTs1 === maxTs2 && n1 === n2)
    assert(n1 === ev.count(), "memoized count must be the table count")
    val files = new java.io.File(dir1).listFiles()
      .filter(_.getName.endsWith(".parquet"))
    // coalesce(8) caps at the scan's own split count — up to 8 files
    // at bench scale, fewer on a tiny fixture (coalesce never grows)
    assert(files.length >= 1 && files.length <= 8)
    // the feed files are the table, byte-complete
    assert(spark.read.parquet(dir1).count() === n1)
  }

  test("stream_forecast_ok: timer-closed Holt-Winters replay equals the " +
      "batch recursion row-for-row (seed window emits nothing)") {
    val sfd = TestSpark.sf
    val got = Streams.streamForecastOk(spark, sfd).collect()
      .map(r => (r.getString(0), r.getString(1), r.getDouble(2),
        r.getDouble(3), r.getDouble(4))).toSeq
    val want = graft.operators.EventWindows
      .tsForecastSeasonal(spark, sfd).collect()
      .map(r => (r.getString(0), r.getString(1), r.getDouble(2),
        r.getDouble(3), r.getDouble(4))).toSeq
    assert(got === want)
    assert(got.nonEmpty, "no post-seed day emitted — vacuous replay")
    // seed discipline: per type, the first 7 observed days are absent
    val emittedDays = got.groupBy(_._1).view.mapValues(_.size).toMap
    val allDays = graft.sources.Tables.events(spark, sfd)
      .groupBy(col("event_type"),
        date_trunc("day", col("ts"))).count()
      .groupBy(col("event_type")).count().collect()
      .map(r => (r.getString(0), r.getLong(1))).toMap
    allDays.foreach { case (t, n) =>
      assert(emittedDays.getOrElse(t, 0) ===
        math.max(0L, n - 7).toInt, s"type $t")
    }
  }

  test("stream_dedup_semantic_ok: RocksDB cell state carries the seen-" +
      "store across micro-batches (2-batch replay equals the batch op)") {
    // planted corpus — the DedupSpec semantic-incremental fixture: a
    // delta near-dup of a STORE vector drops (state survived the batch
    // boundary), a near-dup of an EARLIER delta vector drops
    // (within-batch vec_id order), fresh vectors survive
    def unit(seed: Int): Seq[Float] = {
      val r = new scala.util.Random(seed)
      val v = Array.fill(16)(r.nextGaussian().toFloat)
      val n = math.sqrt(v.map(x => x.toDouble * x).sum).toFloat
      v.map(_ / n).toSeq
    }
    def near(v: Seq[Float]): Seq[Float] = v.updated(0, v(0) + 0.02f)
    val store = Seq((0L, unit(3)), (1L, unit(1)), (2L, unit(2)))
      .toDF("vec_id", "embedding")
    val delta = Seq(
      (100L, near(unit(1))), // ~dup of store vec 1 → drops
      (101L, unit(4)),       // fresh → survives
      (102L, near(unit(4))), // ~dup of EARLIER delta 101 → drops
      (103L, unit(5)))       // fresh → survives
      .toDF("vec_id", "embedding")
    val planted = Streams.streamDedupSemanticCore(spark,
        "sem_twin_planted", store, delta, 1L, 0.95)
      .collect().map(_.getLong(0)).toSet
    assert(planted === Set(101L, 103L), s"got $planted")
    // fixture: full-row equality (vec_id AND cent_id) with the batch
    // incremental operator — the declared query's shared-oracle claim
    val sfd = TestSpark.sf
    val got = Streams.streamDedupSemanticOk(spark, sfd)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    val want = graft.operators.SimSearch.semDedupIncremental(spark, sfd)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(got === want)
  }

  test("stream_dedup_phash_ok: RocksDB bucket state carries the " +
      "perceptual seen-store across micro-batches (equals the batch op)") {
    // planted assets: a delta near-dup of a STORE asset drops (state
    // survived the batch boundary), a near-dup of an EARLIER delta
    // asset drops (within-batch asset_id order), a fresh asset and a
    // sub-threshold short blob survive
    def text(seed: Int): String = {
      val r = new scala.util.Random(seed)
      (1 to 300).map(_ => ('a' + r.nextInt(26)).toChar).mkString
    }
    // one bumped char flips at most 2 adjacent gradient bits — a true
    // near-dup at Hamming <= 3 but NOT byte-identical
    def near(s: String): String = {
      val c = if (s.charAt(120) == 'a') 'c' else 'a'
      s.updated(120, c)
    }
    def blob(s: String) = s.getBytes("UTF-8")
    val store = Seq((0L, "image/png", blob(text(1))),
      (1L, "image/png", blob(text(2))))
      .toDF("asset_id", "mime", "blob")
    val delta = Seq(
      (100L, "image/png", blob(near(text(1)))), // ~dup of store 0 → drops
      (101L, "image/png", blob(text(7))),       // fresh → survives
      (102L, "image/png", blob(near(text(7)))), // ~dup of delta 101 → drops
      (103L, "image/png", blob("tiny")))        // < 252 chars → survives
      .toDF("asset_id", "mime", "blob")
    val planted = Streams.streamDedupPhashCore(spark,
        "phash_twin_planted", store, delta, maxHamming = 3)
      .collect().map(_.getLong(0)).toSet
    assert(planted === Set(101L, 103L), s"got $planted")
    // fixture: full-row equality with the batch incremental operator —
    // the declared query's shared-oracle claim
    val sfd = TestSpark.sf
    val got = Streams.streamDedupPhashOk(spark, sfd)
      .collect().map(r => (r.getLong(0), r.getString(1))).toSeq
    val want = graft.operators.Multimodal.phashIncremental(spark, sfd)
      .collect().map(r => (r.getLong(0), r.getString(1))).toSeq
    assert(got === want)
  }

  test("timer-based sessions close when the watermark passes the gap deadline") {
    withRocksDb {
      val mem = MemoryStream[Ev]
      val q = Streams.sessionsWithTimers(spark, mem.toDF(), gapMinutes = 30)
        .writeStream.format("memory").queryName("tsess").start()
      // session A: user 1, events at 10:00 + 10:10
      mem.addData(Ev(1, ts("2025-01-01 10:00:00"), 1, "click", 2.0, "{}"),
        Ev(2, ts("2025-01-01 10:10:00"), 1, "click", 3.0, "{}"))
      q.processAllAvailable()
      assert(spark.table("tsess").count() === 0,
        "no session may close before the watermark proves the gap")
      // event at 11:30 starts session B AND advances the watermark to
      // 11:20 — past session A's 10:40 deadline, so A closes
      mem.addData(Ev(3, ts("2025-01-01 11:30:00"), 1, "click", 7.0, "{}"))
      q.processAllAvailable()
      // sentinel user advances the watermark past B's 12:00 deadline;
      // its own session stays open (state + timer evicted only on close)
      mem.addData(Ev(9, ts("2025-01-01 13:00:00"), 99, "click", 1.0, "{}"))
      q.processAllAvailable()
      q.stop()
      val got = spark.table("tsess")
        .as[(Long, Timestamp, Long, Double)].collect().toSet
      assert(got === Set(
        (1L, ts("2025-01-01 10:00:00"), 2L, 5.0),
        (1L, ts("2025-01-01 11:30:00"), 1L, 7.0)))
    }
  }

  test("timer sessions: a late row older than the open session by more than the gap forms its own island") {
    // ADVICE r7: the old fold absorbed such a row via min(start, ts);
    // the batch gap-and-island form makes it a separate earlier island.
    // gap (5 min) < watermark delay (10 min) so the late row both
    // survives watermark filtering AND predates start − gap.
    withRocksDb {
      val mem = MemoryStream[Ev]
      val q = Streams.sessionsWithTimers(spark, mem.toDF(), gapMinutes = 5)
        .writeStream.format("memory").queryName("tsess_late").start()
      // opens session A at 12:00; watermark advances to 11:50
      mem.addData(Ev(1, ts("2025-01-01 12:00:00"), 1, "click", 2.0, "{}"))
      q.processAllAvailable()
      // late row at 11:52: above the 11:50 watermark, but more than the
      // 5-min gap older than A's 12:00 start → its own island, closed
      // immediately (A is the newer open session)
      mem.addData(Ev(2, ts("2025-01-01 11:52:00"), 1, "click", 3.0, "{}"))
      q.processAllAvailable()
      // sentinel advances the watermark past A's 12:05 deadline
      mem.addData(Ev(9, ts("2025-01-01 13:00:00"), 99, "click", 1.0, "{}"))
      q.processAllAvailable()
      q.stop()
      val got = spark.table("tsess_late")
        .as[(Long, Timestamp, Long, Double)].collect().toSet
      assert(got === Set(
        (1L, ts("2025-01-01 11:52:00"), 1L, 3.0),
        (1L, ts("2025-01-01 12:00:00"), 1L, 2.0)))
    }
  }

  test("timer sessions equal the batch gap-and-island form for closed sessions (file replay)") {
    withRocksDb {
      val sfd = TestSpark.sf
      runToTable(
        Streams.sessionsWithTimers(spark, Streams.eventsFileStream(spark, sfd)),
        "tsess_eq", "append")
      val streamed = spark.table("tsess_eq")
        .as[(Long, Timestamp, Long, Double)].collect().toSet
      val batch = EventWindows.sessionize(spark, sfd)
        .select("user_id", "session_start", "n_events", "session_value")
        .as[(Long, Timestamp, Long, Double)].collect().toSet
      // every closed streamed session must be a batch session verbatim
      // (an inline-closure or timer bug would emit a row batch lacks);
      // sessions still open at stream end are the only legitimate gap
      assert(streamed.nonEmpty && streamed.subsetOf(batch),
        s"${(streamed -- batch).size} streamed sessions not in batch")
      assert(streamed.size.toDouble / batch.size >= 0.5,
        s"only ${streamed.size}/${batch.size} sessions closed — " +
          "watermark should close most of a multi-day fixture")
    }
  }

  test("foreachBatch upsert sink: streamed micro-batch upserts equal one batch sequence") {
    // the streaming side of merge_upsert: each micro-batch MERGEs into
    // the lake table via Lake.upsert, so a keyed stream materializes as
    // latest-value-wins — equal to applying the same batches in order
    val lakeS = graft.Lake(spark,
      Scratch.dir("graft_su_s"))
    val lakeB = graft.Lake(spark,
      Scratch.dir("graft_su_b"))
    val seed = Seq((1L, "a", 10.0), (2L, "b", 20.0), (3L, "c", 30.0))
      .toDF("k", "tag", "v")
    lakeS.saveDataset(seed, "su.target")
    lakeB.saveDataset(seed, "su.target")
    val mem = MemoryStream[(Long, String, Double)]
    val q = mem.toDF().toDF("k", "tag", "v").writeStream
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, _: Long) =>
        lakeS.upsert(batch, "su.target", Seq("k")); ()
      }
      .outputMode("update").start()
    // batch 1: update k=2, insert k=4 · batch 2: update k=4 again
    mem.addData((2L, "b2", 21.0), (4L, "d", 40.0))
    q.processAllAvailable()
    mem.addData((4L, "d2", 41.0))
    q.processAllAvailable()
    q.stop()
    lakeB.upsert(Seq((2L, "b2", 21.0), (4L, "d", 40.0)).toDF("k", "tag", "v"),
      "su.target", Seq("k"))
    lakeB.upsert(Seq((4L, "d2", 41.0)).toDF("k", "tag", "v"),
      "su.target", Seq("k"))
    val got = lakeS.load("su.target").orderBy("k")
      .as[(Long, String, Double)].collect().toSeq
    val want = lakeB.load("su.target").orderBy("k")
      .as[(Long, String, Double)].collect().toSeq
    assert(got === want)
    assert(got === Seq((1L, "a", 10.0), (2L, "b2", 21.0), (3L, "c", 30.0),
      (4L, "d2", 41.0)))
  }

  test("stream CDF apply: commit-per-batch replica fold reconstructs " +
      "the head across an update-then-delete (the order hazard)") {
    // the LakeSpec counterexample through the STREAMING consumer: key 2
    // updated in commit 1 then DELETED in commit 2 — a consumer that
    // merges the commits into one un-ordered apply re-adds the commit-1
    // postimage after the delete (LakeSpec proves applyChanges does
    // exactly that on the merged feed); the commit-per-micro-batch fold
    // must not
    val v0 = Seq((1L, 10.0), (2L, 20.0), (3L, 30.0)).toDF("k", "x")
    val v1 = Seq((1L, 10.0), (2L, 22.0), (3L, 30.0)).toDF("k", "x")
    val v2 = Seq((1L, 10.0), (3L, 30.0), (4L, 40.0)).toDF("k", "x")
    val got = streamCdfApplyCore("stream_cdf_spec",
      Seq(v0, v1, v2), Seq("k"))
      .as[(Long, Double)].collect().toSeq.sorted
    assert(got === Seq((1L, 10.0), (3L, 30.0), (4L, 40.0)),
      s"replica must equal the head snapshot (no resurrected key 2): $got")
  }

  test("stream index append: the streamed artifact serves exactly what " +
      "the batch incremental serves (same pinned codebooks)") {
    // encode is deterministic and row-local, so two micro-batches of
    // ingest-time encode + append must yield an artifact that serves
    // the identical top-k as simsearch_index_incremental's batch form
    val sfv = TestSpark.sf
    val streamed = Streams.streamIndexAppendOk(spark, sfv)
      .collect().map(_.toSeq).toSet
    val batch = graft.operators.SimSearch
      .simsearchIndexIncremental(spark, sfv)
      .collect().map(_.toSeq).toSet
    assert(streamed === batch,
      s"streamed-vs-batch divergence: ${streamed.diff(batch).take(3)} / " +
        s"${batch.diff(streamed).take(3)}")
    assert(streamed.nonEmpty)
  }

  test("stream index append is IDEMPOTENT: replaying a micro-batch " +
      "replaces its own ingest partition instead of double-appending") {
    import graft.operators.SimSearch
    val emb = graft.sources.Tables.embeddings(spark, TestSpark.sf)
    val store = emb.filter(col("vec_id") % 10 < 8)
    val delta = emb.filter(col("vec_id") % 10 >= 8)
      .select(col("vec_id"), col("embedding"))
    val (coarse, pqCb) = SimSearch.storeCodebooks(store)
    val dir = Scratch.dir("graft_ingest_idem")
    val index = s"$dir/index"
    SimSearch.encodeIvfPq(store, coarse, pqCb, 4)
      .withColumn("ingest", lit(-1L))
      .write.partitionBy("ingest", "cent_id").parquet(index)
    val n0 = spark.read.parquet(index).count()
    Streams.ingestIndexBatch(delta, index, coarse, pqCb, 4, batchId = 0L)
    val n1 = spark.read.parquet(index).count()
    assert(n1 > n0, "the first delivery must append the delta's codes")
    // the at-least-once REPLAY of the same batch id: a blind append
    // would double-count every delta code in the serve top-k
    Streams.ingestIndexBatch(delta, index, coarse, pqCb, 4, batchId = 0L)
    val n2 = spark.read.parquet(index).count()
    assert(n2 === n1, s"replay double-appended: $n1 -> $n2")
    // a NEW batch id still appends
    Streams.ingestIndexBatch(delta.limit(3), index, coarse, pqCb, 4,
      batchId = 1L)
    assert(spark.read.parquet(index).count() === n1 + 3 * 4)
  }

  test("stream CDF produce: the version fence makes a replayed commit " +
      "batch a no-op, and produce→consume round-trips to the head") {
    import graft.sources.LakeIO
    val v0 = Seq((1L, 10.0), (2L, 20.0), (3L, 30.0)).toDF("k", "x")
    val v1 = Seq((1L, 10.0), (2L, 22.0), (3L, 30.0)).toDF("k", "x")
    val v2 = Seq((1L, 10.0), (3L, 30.0), (4L, 40.0)).toDF("k", "x")
    val tbl = Streams.streamWriteCdfTable(spark, "stream_wcdf_spec",
      Seq(v0, v1, v2), Seq("k"))
    // the produced table's head IS v2, commit-granular capture intact
    assert(LakeIO.listVersions(spark, tbl) === Seq(0, 1, 2))
    def snap(df: org.apache.spark.sql.DataFrame) =
      df.as[(Long, Double)].collect().toSeq.sorted
    assert(snap(LakeIO.loadVersion(spark, tbl, Some(2)))
      === Seq((1L, 10.0), (3L, 30.0), (4L, 40.0)))
    // at-least-once REPLAY: re-applying commit 1's churn (stamp ≤ head)
    // must be fenced to a no-op — no v=3 appears, head unchanged
    val replay = LakeIO.capturedChanges(spark, tbl, 0, 1)
    Streams.applyCommitsIdempotent(replay, tbl, Seq("k"))
    assert(LakeIO.listVersions(spark, tbl) === Seq(0, 1, 2),
      "a replayed commit must not publish a new version")
    // a SKIPPED commit fails loud instead of corrupting the chain
    val skipped = replay.withColumn("_commit_version", lit(9))
    val err = intercept[IllegalArgumentException] {
      Streams.applyCommitsIdempotent(skipped, tbl, Seq("k"))
    }
    assert(err.getMessage.contains("skipped"), err.getMessage)
    // produce → consume: the captured feed the producer wrote drives
    // the streaming CONSUMER's replica fold back to the same head
    // (stream_cdf_apply's machinery over the produced feed)
    val replica = LakeIO.replayChanges(
      LakeIO.loadVersion(spark, tbl, Some(0)),
      LakeIO.capturedChanges(spark, tbl, 0, 2), Seq("k"))
    assert(snap(replica) === snap(LakeIO.loadVersion(spark, tbl, Some(2))))
  }

  test("checkpointed parquet sink is exactly-once under restart (AvailableNow)") {
    val dir = Scratch.dir("graft_stream")
    val src = Streams.eventsFileStream(spark, TestSpark.sf)
      .select("event_id", "user_id", "value")
    val q1 = Streams.startParquetSink(src, s"$dir/out", s"$dir/ckpt")
    q1.awaitTermination()
    val n1 = spark.read.parquet(s"$dir/out").count()
    // restart with same checkpoint: no new input → no duplicate output
    val q2 = Streams.startParquetSink(src, s"$dir/out", s"$dir/ckpt")
    q2.awaitTermination()
    val n2 = spark.read.parquet(s"$dir/out").count()
    assert(n1 > 0 && n1 === n2)
  }

  test("stream_sink_ok leaves no graft_sink_ok scratch dir behind") {
    // the sink's scratch dir lands under the process's scratch root
    val root = new java.io.File(graft.Scratch.root)
    def sinkDirs(): Int = Option(root.listFiles()).toSeq.flatten
      .count(_.getName.startsWith("graft_sink_ok"))
    val before = sinkDirs()
    val rows = Streams.streamSinkOk(spark, TestSpark.sf).collect()
    assert(rows.nonEmpty)
    assert(sinkDirs() === before, "stream_sink_ok left its scratch dir")
  }

  test("stream_watermark_late_ok runs on its own session: an active " +
      "query of the same name on the caller's session does not clash") {
    val want = Streams.watermarkLateOk(spark, TestSpark.sf).collect().toSeq
    val blocker = MemoryStream[Int].toDF().writeStream.format("memory")
      .queryName("wmk_late_ok").start()
    try {
      val got = Streams.watermarkLateOk(spark, TestSpark.sf).collect().toSeq
      assert(want.nonEmpty)
      assert(got === want)
    } finally blocker.stop()
  }
}
