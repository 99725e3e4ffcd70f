package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.functions.ScalarFns
import graft.operators.{Multimodal, TextOps}

/** Unit coverage for the non-oracle function surface: map ops, hash
  * stability, multimodal schema round-trip (SURVEY.md §2.H fn_map/fn_hash,
  * §2.K multimodal_schema).
  */
class FunctionSpec extends AnyFunSuite {
  val spark = TestSpark.spark
  val sf = TestSpark.sf
  import spark.implicits._

  test("sample_split is leakage-free: equal normalized content never " +
      "straddles a split boundary (planted dups + whitespace variants)") {
    import graft.functions.ScalarFns
    // 300 base texts, each also present as a whitespace/case variant
    // that normText collapses to the same content — an id-keyed split
    // would scatter ~2% of these pairs across split boundaries
    val docs = (0L until 300L).flatMap { i =>
      val base = s"document $i with some body text token${i % 7} end"
      Seq((i * 2, "en", "a", base),
        (i * 2 + 1, "en", "b", "  " + base.toUpperCase + "  "))
    }.toDF("doc_id", "lang", "source", "text")
    val split = ScalarFns.sampleSplitDocs(docs)
    val joined = split.join(
      docs.select(col("doc_id"),
        graft.operators.TextOps.normText(col("text")).as("t")),
      Seq("doc_id"))
    val violations = joined.groupBy(col("t"))
      .agg(countDistinct(col("split")).as("ns"))
      .filter(col("ns") > 1).count()
    assert(violations === 0L, "a duplicated text landed in two splits")
    // non-vacuous: every content value occurs twice, and the corpus is
    // big enough that all three splits are populated
    assert(joined.groupBy(col("t")).count()
      .filter(col("count") =!= 2).count() === 0L)
    assert(split.select(col("split")).distinct().count() === 3L,
      "expected train, val and test all populated at n=600")
  }

  test("sample_weighted equals the driver-computed systematic sample") {
    val step = 100000000000L // 1e7 price in 1e-4 units
    val rows = graft.sources.Tables.orders(spark, sf)
      .select("o_orderkey", "o_totalprice").collect()
      .map(r => (r.getLong(0), r.getDouble(1))).sortBy(_._1)
    var cumU = 0L
    val expect = rows.flatMap { case (k, p) =>
      val wU = java.math.BigDecimal.valueOf(p)
        .setScale(4, java.math.RoundingMode.HALF_UP)
        .movePointRight(4).longValueExact()
      val prev = cumU; cumU += wU
      if (cumU / step > prev / step) Some(k) else None
    }.toSeq
    val got = graft.operators.Aggregates.sampleWeighted(spark, sf)
      .select("o_orderkey").collect().map(_.getLong(0)).toSeq
    assert(got === expect)
    assert(got.nonEmpty)
  }

  test("ts_resample OHLC: open/close resolve same-millisecond ties by event_id") {
    val t0 = java.sql.Timestamp.valueOf("2024-03-01 02:00:00")
    def at(s: Int) = new java.sql.Timestamp(t0.getTime + s * 1000L)
    // one 6h bucket (00:00–06:00): two rows share the SAME timestamp —
    // the packed ordering must pick event_id order, not row order
    val ev = Seq(
      ("click", at(0), 10.0, 7L),   // same ms as event 3 → open is id 3
      ("click", at(0), 99.0, 3L),
      ("click", at(60), 1.0, 9L),   // low
      ("click", at(120), 42.0, 11L) // latest ts → close
    ).toDF("event_type", "ts", "value", "event_id")
    val r = graft.operators.EventWindows.tsResampleEvents(ev).collect()
    assert(r.length === 1)
    val row = r.head
    assert(row.getDouble(2) === 99.0, "open = earliest (ms, event_id)")
    assert(row.getDouble(3) === 99.0, "high")
    assert(row.getDouble(4) === 1.0, "low")
    assert(row.getDouble(5) === 42.0, "close = latest (ms, event_id)")
    assert(row.getLong(6) === 4L)
  }

  test("filter_not_in_null: the planted NULL is live at the smallest fixture (ADVICE r7)") {
    // the three-valued-logic pin is only non-vacuous if the NOT IN
    // subquery actually contains a NULL — i.e. some customer has
    // c_custkey % 7 == 0 — at EVERY fixture SF, including this one
    graft.sources.Tables.registerAll(spark, sf)
    val nNull = spark.sql(
      "SELECT count(*) FROM customer WHERE c_custkey % 7 = 0")
      .head().getLong(0)
    assert(nNull > 0, "no customer divisible by 7: the NULL trap is vacuous")
    val r = graft.operators.Relational.filterNotInNull(spark, sf).head()
    assert(r.getLong(0) === 0L,
      "NOT IN over a subquery containing NULL must be silently empty")
    assert(r.getLong(1) > 0L && r.getLong(1) === r.getLong(2),
      "NULL-filtered NOT IN must equal NOT EXISTS and be non-empty")
  }

  test("approx_top_k eviction regime: heavy hitters surface, overestimates bounded") {
    // 20 planted heavies (2000 each) in a 30k-distinct singleton tail,
    // tracked capacity 64 — eviction is active (30k ≫ 64). The
    // frequent-items guarantees must hold regardless of encounter
    // order: every heavy in the top-20 by estimate, estimates never
    // under the true count, overestimate within ~4N/maxTracked.
    val n = 20 * 2000 + 30000
    val heavies = (0 until 20).flatMap(h => Seq.fill(2000)(s"heavy$h"))
    val tail = (0 until 30000).map(i => s"tail$i")
    val tokens = spark.createDataFrame(
      (heavies ++ tail).map(Tuple1(_))).toDF("token")
      .repartition(8) // multi-partition: the merge path runs too
    val rows = TextOps.approxTopKTokens(tokens, k = 20, maxTracked = 64)
      .collect().map(r => (r.getString(0), r.getLong(1)))
    assert(rows.length === 20)
    val top = rows.map(_._1).toSet
    assert((0 until 20).forall(h => top.contains(s"heavy$h")),
      s"a planted heavy hitter missed the sketch top-20: $top")
    val bound = 4L * n / 64
    rows.foreach { case (t, est) =>
      assert(est >= 2000L, s"$t estimated $est under its true count")
      assert(est <= 2000L + bound, s"$t overestimate $est exceeds bound")
    }
    // exact regime: capacity over the distinct count → counts exact
    val exactRows = TextOps.approxTopKTokens(
      tokens.filter(col("token").startsWith("heavy")), k = 25,
      maxTracked = 1024)
      .collect().map(r => (r.getString(0), r.getLong(1)))
    assert(exactRows.length === 20 && exactRows.forall(_._2 === 2000L))
  }

  test("fn_map builds and accesses maps from parsed props") {
    val rows = ScalarFns.fnMap(spark, sf).limit(5).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      assert(r.getString(r.fieldIndex("ks")) === "k,type")
      assert(r.getString(r.fieldIndex("entries")).contains("type="))
      assert(r.getString(r.fieldIndex("etype")).nonEmpty)
    }
  }

  test("pack_sequences invariants: offsets under budget, ids contiguous, tokens conserved") {
    val budget = 512
    val rows = graft.operators.TextOps.packSequences(spark, sf, budget)
      .collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      assert(r.getAs[Long]("pack_offset") >= 0 &&
        r.getAs[Long]("pack_offset") < budget)
    }
    rows.groupBy(_.getAs[String]("source")).foreach { case (src, rs) =>
      val ordered = rs.sortBy(_.getAs[Long]("doc_id"))
      // pack ids start at 0, never decrease, never skip more than the
      // largest doc spans
      assert(ordered.head.getAs[Long]("pack_id") === 0L)
      assert(ordered.head.getAs[Long]("pack_offset") === 0L)
      ordered.sliding(2).foreach {
        case Array(a, b) =>
          val cumA = a.getAs[Long]("pack_id") * budget +
            a.getAs[Long]("pack_offset") + a.getAs[Int]("n_tok")
          val cumB = b.getAs[Long]("pack_id") * budget +
            b.getAs[Long]("pack_offset")
          assert(cumA === cumB,
            s"$src: doc ${b.getAs[Long]("doc_id")} offset must equal " +
              "running token sum (concat-then-chunk)")
        case _ =>
      }
    }
  }

  test("doc_chunking invariants: coverage, overlap, bounded length, reconstructible") {
    val (win, stride) = (64, 48)
    val rows = graft.operators.TextOps.docChunk(spark, sf, win, stride)
      .collect()
    assert(rows.nonEmpty)
    rows.groupBy(_.getAs[Long]("doc_id")).foreach { case (docId, rs) =>
      val ordered = rs.sortBy(_.getAs[Int]("chunk_id"))
      // ids contiguous from 0; starts advance by exactly the stride
      ordered.zipWithIndex.foreach { case (r, i) =>
        assert(r.getAs[Int]("chunk_id") === i)
        assert(r.getAs[Int]("start_tok") === i * stride)
        val len = r.getAs[Int]("chunk_len")
        assert(len >= 1 && len <= win, s"doc $docId chunk $i len $len")
        assert(r.getAs[String]("chunk_text").split(" ", -1).length === len)
      }
      // every chunk except the last is full-width, so consecutive
      // chunks overlap by win − stride tokens and the doc is covered
      ordered.dropRight(1).foreach { r =>
        assert(r.getAs[Int]("chunk_len") === win)
      }
      // reconstruct: chunk 0 + the tail (stride..) of every later chunk
      val toks = ordered.head.getAs[String]("chunk_text").split(" ", -1) ++
        ordered.drop(1).flatMap(
          _.getAs[String]("chunk_text").split(" ", -1).drop(win - stride))
      val last = ordered.last
      assert(toks.length ===
        last.getAs[Int]("start_tok") + last.getAs[Int]("chunk_len"))
    }
  }

  test("quality_lm_bucket: per-language terciles are balanced and score-ordered") {
    val rows = graft.operators.TextOps.qualityLmBucket(spark, sf).collect()
    assert(rows.nonEmpty)
    rows.groupBy(_.getAs[String]("lang")).foreach { case (lang, rs) =>
      val sizes = rs.groupBy(_.getAs[String]("bucket"))
        .view.mapValues(_.length).toMap
      // NTILE: bucket sizes differ by at most 1
      assert(sizes.values.max - sizes.values.min <= 1,
        s"$lang terciles unbalanced: $sizes")
      // every head score >= every tail score within the language
      val head = rs.filter(_.getAs[String]("bucket") == "head")
        .map(_.getAs[Double]("avg_logp"))
      val tail = rs.filter(_.getAs[String]("bucket") == "tail")
        .map(_.getAs[Double]("avg_logp"))
      if (head.nonEmpty && tail.nonEmpty)
        assert(head.min >= tail.max, s"$lang: head/tail overlap")
    }
  }

  test("doc_chunking randomized: count formula, reconstruction, full middles (2 geometries)") {
    val rnd = new scala.util.Random(42)
    val docs = (0 until 100).map { i =>
      val n = rnd.nextInt(251) // 0..250 tokens (0 ⇒ empty text)
      (i.toLong, Seq.fill(n)("w" + rnd.nextInt(1000)).mkString(" "))
    }.toDF("doc_id", "text")
    for ((win, stride) <- Seq((64, 48), (32, 32))) { // overlap + none
      val rows = graft.operators.TextOps.docChunkDocs(docs, win, stride)
        .collect().groupBy(_.getAs[Long]("doc_id"))
      docs.collect().foreach { d =>
        val (id, text) = (d.getLong(0), d.getString(1))
        // normText("") = "" splits to [""], one 1-token chunk
        val toks = text.toLowerCase.trim.replaceAll("\\s+", " ").split(" ", -1)
        val n = toks.length
        val expChunks = math.ceil(math.max(n - win, 0) / stride.toDouble).toInt + 1
        val rs = rows(id).sortBy(_.getAs[Int]("chunk_id"))
        assert(rs.length === expChunks, s"doc $id n=$n win=$win stride=$stride")
        rs.dropRight(1).foreach(r => assert(r.getAs[Int]("chunk_len") === win))
        val rebuilt = rs.head.getAs[String]("chunk_text").split(" ", -1) ++
          rs.drop(1).flatMap(
            _.getAs[String]("chunk_text").split(" ", -1).drop(win - stride))
        assert(rebuilt.toSeq === toks.toSeq, s"doc $id reconstruction")
      }
    }
  }

  test("embedding_quantize randomized: bounds, error contract, zero-vector path") {
    val rnd = new scala.util.Random(7)
    val vecs = (0 until 100).map { i =>
      val dim = 1 + rnd.nextInt(32)
      val v = if (i == 0) Seq.fill(4)(0.0f) // planted zero vector
        else Seq.fill(dim)((rnd.nextFloat() * 20 - 10))
      (i.toLong, v)
    }.toDF("vec_id", "embedding")
    val byId = graft.operators.SimSearch.embeddingQuantizeVecs(vecs)
      .collect().map(r => r.getAs[Long]("vec_id") -> r).toMap
    vecs.collect().foreach { r =>
      val (id, v) = (r.getLong(0), r.getSeq[Float](1).map(_.toDouble))
      val out = byId(id)
      val scale = v.map(math.abs).max / 127.0
      if (scale == 0.0) {
        assert(out.getAs[String]("codes_csv") === "")
        assert(out.getAs[Double]("max_abs_err") === 0.0)
      } else {
        val codes = out.getAs[String]("codes_csv").split(",", -1).map(_.toInt)
        assert(codes.length === v.length)
        assert(codes.forall(c => c >= -127 && c <= 127))
        assert(codes.exists(_.abs === 127))
        v.zip(codes).foreach { case (x, c) =>
          assert(math.abs(c * scale - x) <= scale / 2 + 1e-9,
            s"vec $id dim error beyond scale/2") }
      }
    }
  }

  test("quality_lm_bucket cutoff variant agrees with exact terciles away from boundaries") {
    val exact = graft.operators.TextOps.qualityLmBucket(spark, sf)
      .collect().map(r => r.getAs[Long]("doc_id") -> r.getAs[String]("bucket"))
      .toMap
    val approx = graft.operators.TextOps.qualityLmBucketCutoff(spark, sf)
      .collect().map(r => r.getAs[Long]("doc_id") -> r.getAs[String]("bucket"))
      .toMap
    assert(approx.keySet === exact.keySet)
    val agree = exact.count { case (id, b) => approx(id) == b }
    assert(agree.toDouble / exact.size >= 0.9,
      s"cutoff buckets agree on only $agree/${exact.size} docs")
  }

  test("embedding_quantize: codes in [-127,127], error bounded by scale/2") {
    val rows = graft.operators.SimSearch.embeddingQuantize(spark, sf)
      .collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val scale = r.getAs[Double]("scale6")
      val codes = r.getAs[String]("codes_csv").split(",", -1).map(_.toInt)
      assert(codes.length === r.getAs[Int]("n_dim"))
      assert(codes.forall(c => c >= -127 && c <= 127))
      assert(codes.exists(_.abs === 127),
        "the max-|x| dimension must quantize to ±127 exactly")
      // round-to-nearest ⇒ |dequant − x| ≤ scale/2 (+ rounding slack)
      assert(r.getAs[Double]("max_abs_err") <= scale / 2 + 1e-4)
    }
  }

  test("as-of joins (backward + forward) equal in-memory brute force on the fixture") {
    import graft.sources.Tables
    val spark2 = spark
    // NTZ timestamps collect as LocalDateTime; session tz is UTC
    def millis(v: Any): Long = v match {
      case t: java.sql.Timestamp => t.getTime
      case d: java.time.LocalDateTime =>
        d.toInstant(java.time.ZoneOffset.UTC).toEpochMilli
      case i: java.time.Instant => i.toEpochMilli
      case other => fail(s"unexpected timestamp type $other")
    }
    val purchases = Tables.events(spark2, TestSpark.sf)
      .filter(org.apache.spark.sql.functions.col("event_type") === "purchase")
      .select("event_id", "user_id", "ts").collect()
      .map(r => (r.getLong(0), r.getLong(1),
        millis(r.get(2)) / 86400000L * 86400000L)) // to_date truncation
    val orders = Tables.orders(spark2, TestSpark.sf)
      .select("o_orderkey", "o_custkey", "o_orderdate").collect()
      .map(r => (r.getLong(0), r.getLong(1), millis(r.get(2))))
    def bruteBackward(u: Long, t: Long): Option[Long] = {
      val c = orders.filter(o => o._2 == u && o._3 <= t)
      if (c.isEmpty) None
      // latest date wins; largest key breaks date ties (window order:
      // at_ts asc, side asc, o_key asc with last() → max key at max ts)
      else Some(c.maxBy(o => (o._3, o._1))._1)
    }
    def bruteForward(u: Long, t: Long): Option[Long] = {
      val c = orders.filter(o => o._2 == u && o._3 >= t)
      if (c.isEmpty) None
      // earliest date wins; smallest key breaks date ties (first() over
      // the ascending frame)
      else Some(c.minBy(o => (o._3, o._1))._1)
    }
    val back = graft.operators.Joins.joinAsOf(spark2, TestSpark.sf)
      .collect().map(r => r.getLong(0) ->
        (if (r.isNullAt(2)) None else Some(r.getLong(2)))).toMap
    val fwd = graft.operators.Joins.joinAsOfForward(spark2, TestSpark.sf)
      .collect().map(r => r.getLong(0) ->
        (if (r.isNullAt(2)) None else Some(r.getLong(2)))).toMap
    assert(purchases.nonEmpty)
    purchases.foreach { case (eid, uid, day) =>
      assert(back(eid) === bruteBackward(uid, day), s"backward event $eid")
      assert(fwd(eid) === bruteForward(uid, day), s"forward event $eid")
    }
    // tolerance variant: backward match survives only if <= 7 days old
    val tol = graft.operators.Joins.joinAsOfTolerance(spark2, TestSpark.sf)
      .collect().map(r => r.getLong(0) ->
        (if (r.isNullAt(2)) None else Some((r.getLong(2), r.getInt(3)))))
      .toMap
    var nullified = 0
    purchases.foreach { case (eid, uid, day) =>
      val expected = bruteBackward(uid, day).flatMap { k =>
        val oday = orders.find(_._1 == k).get._3
        val gap = ((day - oday) / 86400000L).toInt
        if (gap <= 7) Some((k, gap)) else { nullified += 1; None }
      }
      assert(tol(eid) === expected, s"tolerance event $eid")
    }
    assert(nullified > 0, "fixture must exercise the beyond-tolerance path")
    // nearest variant (purchase ↔ nearest error within events, µs
    // gaps): argmin of the two directional carries, tie backward.
    // Equal-ts errors sort BEFORE the purchase (side 0 < 1), so they
    // are backward-side with gap 0 — the brute mirrors that.
    def micros(v: Any): Long = v match {
      case t: java.sql.Timestamp =>
        t.getTime / 1000L * 1000000L + t.getNanos / 1000L
      case d: java.time.LocalDateTime =>
        d.toEpochSecond(java.time.ZoneOffset.UTC) * 1000000L + d.getNano / 1000
      case i: java.time.Instant =>
        i.getEpochSecond * 1000000L + i.getNano / 1000
      case other => fail(s"unexpected timestamp type $other")
    }
    val ev = Tables.events(spark2, TestSpark.sf)
      .select("event_id", "user_id", "ts", "event_type").collect()
    val purFull = ev.filter(_.getString(3) == "purchase")
      .map(r => (r.getLong(0), r.getLong(1), micros(r.get(2))))
    val errs = ev.filter(_.getString(3) == "error")
      .map(r => (r.getLong(0), r.getLong(1), micros(r.get(2))))
    val near = graft.operators.Joins.joinAsOfNearest(spark2, TestSpark.sf)
      .collect().map(r => r.getLong(0) ->
        (if (r.isNullAt(2)) None else Some((r.getLong(2), r.getLong(3)))))
      .toMap
    var forwardWins = 0
    purFull.foreach { case (eid, uid, t) =>
      val bc = errs.filter(e => e._2 == uid && e._3 <= t)
      val b = if (bc.isEmpty) None
        else { val m = bc.maxBy(e => (e._3, e._1)); Some((m._1, t - m._3)) }
      val fc = errs.filter(e => e._2 == uid && e._3 > t)
      val f = if (fc.isEmpty) None
        else { val m = fc.minBy(e => (e._3, e._1)); Some((m._1, m._3 - t)) }
      val expected = (b, f) match {
        case (None, None) => None
        case (Some(x), None) => Some(x)
        case (None, Some(y)) => Some(y)
        case (Some(x), Some(y)) =>
          if (x._2 <= y._2) Some(x) else { forwardWins += 1; Some(y) }
      }
      assert(near(eid) === expected, s"nearest event $eid")
    }
    assert(forwardWins > 0, "fixture must exercise the forward-wins path")
  }

  test("pii_scrub redacts planted emails and phone numbers") {
    val d = Seq(
      (1L, "contact john.doe@example.com or +1 (555) 123-4567 now"),
      (2L, "no pii here at all")).toDF("doc_id", "text")
    val r = graft.operators.TextOps.piiScrubDocs(d).collect()
      .map(row => row.getLong(0) -> row).toMap
    assert(r(1L).getAs[Int]("n_emails") === 1)
    assert(r(1L).getAs[Int]("n_phones") === 1)
    val s = r(1L).getAs[String]("scrubbed")
    assert(s.contains("<EMAIL>") && s.contains("<PHONE>"))
    assert(!s.contains("example.com") && !s.contains("555"))
    assert(r(2L).getAs[String]("scrubbed") === "no pii here at all")
  }

  test("pii_scrub null/empty text: null propagates, empty stays empty") {
    val d = Seq((1L, null.asInstanceOf[String]), (2L, ""))
      .toDF("doc_id", "text")
    val r = graft.operators.TextOps.piiScrubDocs(d).collect()
      .map(row => row.getLong(0) -> row).toMap
    assert(r(1L).isNullAt(r(1L).fieldIndex("scrubbed")))
    assert(r(1L).isNullAt(r(1L).fieldIndex("n_emails"))) // size(null) = null
    assert(r(2L).getAs[String]("scrubbed") === "")
    assert(r(2L).getAs[Int]("n_emails") === 0)
  }

  test("hash functions are stable across runs (fixed vectors)") {
    val df = Seq("abc").toDF("s").select(
      md5(col("s")).as("m"), sha2(col("s"), 256).as("h"),
      crc32(col("s")).as("c"), xxhash64(col("s")).as("x"))
    val r = df.collect().head
    assert(r.getAs[String]("m") === "900150983cd24fb0d6963f7d28e17f72")
    assert(r.getAs[String]("h") ===
      "ba7816bf8f01cfea414140de5dae2223b00361a396177a9cb410ff61f20015ad")
    assert(r.getAs[Long]("c") === 891568578L)
    // xxhash64 seed=42 (Spark's fixed default) — engine-stable
    assert(df.union(df).distinct().count() === 1)
  }

  test("lang_id predicts the planted language on constructed docs") {
    val d = Seq(
      (1L, "the cat and the dog went to the house in the woods"),
      (2L, "der hund und die katze ist nicht ein zu haus"),
      (3L, "xyzzy plugh qwerty asdf")
    ).toDF("doc_id", "text").withColumn("lang", lit("?"))
    // reuse the operator's scoring shape through a temp view + same code path
    val hits = (pat: String) => size(filter(
      split(TextOps.normText(col("text")), " "), t => t.rlike(pat)))
    val scored = d
      .withColumn("sc_en", hits("^(the|and|of|to|in|is|that|for)$"))
      .withColumn("sc_de", hits("^(der|die|das|und|ist|nicht|ein|zu)$"))
      .collect().map(r => r.getLong(0) ->
        (r.getInt(r.fieldIndex("sc_en")), r.getInt(r.fieldIndex("sc_de")))).toMap
    assert(scored(1L)._1 > scored(1L)._2)
    assert(scored(2L)._2 > scored(2L)._1)
    assert(scored(3L) === ((0, 0)))
  }

  test("multimodal asset schema round-trips through parquet with binary intact") {
    val dir = Scratch.dir("graft_mm")
    val assets = Multimodal.syntheticAssets(spark, sf).limit(20)
    assets.write.mode("overwrite").parquet(s"$dir/assets")
    val back = spark.read.parquet(s"$dir/assets")
    assert(back.schema("blob").dataType ===
      org.apache.spark.sql.types.BinaryType)
    val a = assets.select("asset_id", "blob").as[(Long, Array[Byte])]
      .collect().toMap
    val b = back.select("asset_id", "blob").as[(Long, Array[Byte])]
      .collect().toMap
    assert(a.keySet === b.keySet)
    a.foreach { case (k, v) => assert(v.sameElements(b(k))) }
  }

  test("mapPartitions batched decode appends features, preserves schema") {
    val out = Multimodal.decodeBatchedStub(
      Multimodal.syntheticAssets(spark, sf).limit(10))
    assert(out.columns.last === "features")
    val feats = out.select("asset_id", "features")
      .as[(Long, Seq[Double])].collect()
    assert(feats.length === 10)
    feats.foreach { case (_, f) =>
      assert(f.length === 8 && f.forall(v => v >= 0.0 && v < 1.0))
    }
    // pure kernel → identical on rerun
    val again = Multimodal.decodeBatchedStub(
      Multimodal.syntheticAssets(spark, sf).limit(10))
      .select("asset_id", "features").as[(Long, Seq[Double])].collect()
    assert(feats.sortBy(_._1).toSeq === again.sortBy(_._1).toSeq)
  }

  test("frame sampling fans video rows into bounded frame work items") {
    val assets = Multimodal.syntheticAssets(spark, sf)
    val frames = Multimodal.sampleFrames(assets, everyMs = 500L)
    val perAsset = frames.groupBy("asset_id").count()
      .join(assets.select(col("asset_id"), col("duration_ms")), "asset_id")
    // ceil(duration/500) frames per video
    val bad = perAsset.filter(
      col("count") =!= ceil(col("duration_ms").cast("double") / 500.0)).count()
    assert(bad === 0)
    // only video/* assets produce frames
    assert(frames.join(assets.filter(!col("mime").startsWith("video/"))
      .select("asset_id"), "asset_id").count() === 0)
  }

  test("resize preserves aspect ratio and bounds the long side") {
    val assets = Multimodal.syntheticAssets(spark, sf)
      .filter(col("width") > 0 && col("height") > 0)
    val resized = Multimodal.resizeTo(assets, maxSide = 64)
    val bad = resized.filter(
      col("out_width") > 64 || col("out_height") > 64 ||
        (col("out_width") < 64 && col("out_height") < 64 &&
          col("width") >= 64 && col("height") >= 64)).count()
    assert(bad === 0)
  }

  test("decoded features are deterministic (stubbed decode is pure)") {
    def run() = Multimodal.decodeFeaturesStub(
      Multimodal.syntheticAssets(spark, sf))
      .select(col("asset_id"), col("features"))
      .orderBy("asset_id").limit(10)
      .as[(Long, Seq[Double])].collect().toSeq
    assert(run() === run())
  }

  test("ts_anomaly: z-scores recompute per series and flags follow the rounded z") {
    val rows = graft.operators.EventWindows.tsAnomaly(spark, TestSpark.sf)
      .collect().map(r => (r.getString(0), r.getString(1), r.getDouble(2),
        r.getDouble(3), r.getInt(4)))
    assert(rows.nonEmpty)
    // the flag is a pure function of the emitted z
    assert(rows.forall { case (_, _, _, z, f) =>
      f == (if (math.abs(z) > 2.0) 1 else 0) })
    // both flag values occur on the fixtures (the check counts, not
    // rubber-stamps) and the tail mass is plausible for a z>2 cut
    val flagged = rows.count(_._5 == 1)
    assert(flagged > 0 && flagged < rows.length / 4,
      s"implausible anomaly mass: $flagged of ${rows.length}")
    // per-series recompute from the emitted day_rev values: mean z ~ 0
    // and each z within rounding of (x - mu) / sigma
    rows.groupBy(_._1).foreach { case (p, rs) =>
      val xs = rs.map(_._3)
      val n = xs.length.toDouble
      val mu = xs.sum / n
      val sd = math.sqrt(xs.map(x => x * x).sum / n - mu * mu)
      // a zero-variance series short-circuits to z = 0 in the operator;
      // mirror that here instead of dividing by zero
      rs.foreach { case (_, day, x, z, _) =>
        val expect = if (sd > 0) (x - mu) / sd else 0.0
        assert(math.abs(z - expect) < 1e-3,
          s"$p $day: z=$z but recompute=$expect")
      }
    }
  }

  test("embedding_covariance equals the exact scaled-long model and is partitioning-invariant") {
    import graft.operators.SimSearch
    val d = 64
    val vecs = graft.sources.Tables.embeddings(spark, sf)
      .select(col("vec_id"), col("embedding"))
      .collect()
      .map(r => r.getSeq[Float](1).toArray)
    def snap4(v: Double): Long =
      java.math.BigDecimal.valueOf(v)
        .setScale(4, java.math.RoundingMode.HALF_UP)
        .unscaledValue().longValue()
    val l = vecs.map(_.map(f => snap4(f.toDouble)))
    val n = l.length
    val sums = Array.tabulate(d)(i => l.map(_(i)).sum)
    val got = SimSearch.embeddingCovariance(spark, sf, d).collect()
      .map(r => ((r.getInt(0), r.getInt(1)), r.getDouble(2))).toMap
    assert(got.size == d * (d + 1) / 2)
    for (i <- 0 until d; j <- i until d) {
      val sxy = l.map(v => v(i) * v(j)).sum
      val expect = (sxy.toDouble / 1e8) / n -
        ((sums(i).toDouble / 1e4) / n) * ((sums(j).toDouble / 1e4) / n)
      assert(got((i, j)) == expect, s"cov($i,$j)")
      if (i == j) assert(got((i, j)) >= -1e-12, s"var($i) negative")
    }
    // merge associativity: 1-partition and 7-partition runs bit-agree
    val emb = graft.sources.Tables.embeddings(spark, sf)
    def run(parts: Int) = emb.repartition(parts)
      .agg(graft.functions.ImperativeAggs
        .vectorMoments(col("embedding"), d).as("c"))
      .select(explode(col("c")).as("v")).collect().map(_.getDouble(0)).toSeq
    assert(run(1) == run(7))
  }

  test("embedding_report: zero vectors counted, planted extreme-" +
      "variance dims surfaced, norm stats exact") {
    import graft.operators.SimSearch
    // dim 4: dim 2 has the only variance; dim 0 is constant-nonzero
    // (zero variance); one all-zero vector
    val vecs = Seq(
      (1L, Array(1f, 0f, 5f, 0.5f)),
      (2L, Array(1f, 0f, -5f, 0.5f)),
      (3L, Array(1f, 0f, 9f, 0.5f)),
      (4L, Array(0f, 0f, 0f, 0f))).toDF("vec_id", "embedding")
    val r = SimSearch.embeddingReportOf(vecs, 4).collect().head
    assert(r.getAs[Long]("n_vecs") === 4L)
    assert(r.getAs[Long]("n_zero") === 1L)
    assert(r.getAs[Double]("min_norm") === 0.0)
    assert(r.getAs[Int]("top_var_dim") === 2)
    assert(r.getAs[Double]("top_var") > 1.0)
    // zero-variance tie between dims 1 and 3 (dim 0 varies via the
    // zero row): lowest dim wins
    assert(r.getAs[Int]("min_var_dim") === 1)
    assert(r.getAs[Double]("min_var") === 0.0)
    val norms = Seq(math.sqrt(1 + 25 + 0.25), math.sqrt(1 + 25 + 0.25),
      math.sqrt(1 + 81 + 0.25), 0.0)
      .map(v => BigDecimal(v).setScale(6, BigDecimal.RoundingMode.HALF_UP)
        .toDouble)
    val mean = BigDecimal(norms.sum / 4)
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    assert(math.abs(r.getAs[Double]("mean_norm") - mean) < 2e-6)
    assert(r.getAs[Double]("max_norm") === norms.max)
  }

  test("vector_moments: NULL vectors skip (SQL agg semantics); a " +
      "wrong-length vector RAISES instead of silently diverging") {
    import graft.functions.ImperativeAggs
    val ok = spark.createDataFrame(Seq(
        (1L, Array(1.0f, 2.0f)),
        (2L, null.asInstanceOf[Array[Float]]),
        (3L, Array(3.0f, 4.0f)))).toDF("id", "v")
      .agg(ImperativeAggs.vectorMoments(col("v"), 2).as("c"))
      .select(explode(col("c")).as("x")).collect().map(_.getDouble(0))
    // null skipped ⇒ n = 2 over {1,3}: var = (1+9)/2 − 2² = 1 exactly
    assert(ok(0) == 1.0, s"null row leaked into the moments: ${ok(0)}")
    val ex = intercept[Exception] {
      spark.createDataFrame(Seq(
          (1L, Array(1.0f, 2.0f)), (2L, Array(9.0f)))).toDF("id", "v")
        .agg(ImperativeAggs.vectorMoments(col("v"), 2).as("c")).collect()
    }
    def chain(t: Throwable): Seq[String] =
      Option(t).toSeq.flatMap(e => e.getMessage +: chain(e.getCause))
    assert(chain(ex).exists(m =>
      m != null && m.contains("malformed embedding row")),
      s"expected the vector_moments length raise, got: ${chain(ex)}")
  }

  test("embedding_pca direction maximizes variance vs axes and random directions") {
    import graft.operators.SimSearch
    val d = 64
    val v = SimSearch.embeddingPca(spark, sf, d).collect()
      .sortBy(_.getInt(0)).map(_.getDouble(2))
    assert(v.length == d && v.exists(_ != 0.0))
    // empirical covariance from the oracled covariance query
    val cov = Array.ofDim[Double](d, d)
    SimSearch.embeddingCovariance(spark, sf, d).collect().foreach { r =>
      val (i, j, c) = (r.getInt(0), r.getInt(1), r.getDouble(2))
      cov(i)(j) = c; cov(j)(i) = c
    }
    def rayleigh(u: Array[Double]): Double = {
      var num = 0.0; var den = 0.0
      for (i <- 0 until d; j <- 0 until d) num += u(i) * cov(i)(j) * u(j)
      for (i <- 0 until d) den += u(i) * u(i)
      num / den
    }
    val rv = rayleigh(v)
    // beats every coordinate axis (= every single dimension's variance)
    for (i <- 0 until d) {
      val e = Array.fill(d)(0.0); e(i) = 1.0
      assert(rv >= rayleigh(e) - 1e-12, s"axis $i beats the PC direction")
    }
    // beats 20 seeded random directions
    val rnd = new scala.util.Random(11)
    (1 to 20).foreach { t =>
      val u = Array.fill(d)(rnd.nextGaussian())
      assert(rv >= rayleigh(u) - 1e-12, s"random dir $t beats the PC")
    }
  }

  test("embedding_pca_project equals the driver-side exact dot with the direction") {
    import graft.operators.SimSearch
    val d = 64
    val vfp = SimSearch.embeddingPca(spark, sf, d).collect()
      .sortBy(_.getInt(0)).map(_.getLong(1))
    def snap4(v: Double): Long =
      java.math.BigDecimal.valueOf(v)
        .setScale(4, java.math.RoundingMode.HALF_UP)
        .unscaledValue().longValue()
    val expect = graft.sources.Tables.embeddings(spark, sf)
      .select(col("vec_id"), col("embedding")).collect()
      .map { r =>
        val e = r.getSeq[Float](1)
        r.getLong(0) ->
          (0 until d).map(i => snap4(e(i).toDouble) * vfp(i)).sum
      }.toMap
    val got = SimSearch.embeddingPcaProject(spark, sf, d).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getDouble(2)))
    assert(got.length == expect.size)
    got.foreach { case (id, (fp, s)) =>
      assert(fp == expect(id), s"vec $id score_fp")
      assert(s == fp.toDouble / 1e16, s"vec $id score")
    }
  }
}
