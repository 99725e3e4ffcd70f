package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.operators.{EventWindows, SimSearch}

/** Contracts for the round-12 additions `event_pattern`, `ts_seasonal`
  * and `dedup_semantic`: each is re-derived on the driver by an
  * INDEPENDENT formulation (an explicit automaton scan, java.time
  * weekday arithmetic, a brute-force cell model) and compared row for
  * row against the operator at sf0.001.
  */
class PatternSeasonalSpec extends AnyFunSuite {
  val spark = TestSpark.spark
  import spark.implicits._
  val sf = TestSpark.sf

  private def hu(x: Double, scale: Int): Double =
    java.math.BigDecimal.valueOf(x)
      .setScale(scale, java.math.RoundingMode.HALF_UP).doubleValue()

  /** Leftmost-lazy v→c→p automaton: count++ at earliest completion,
    * resume AFTER the match; `resetOnE` models the [^e] guards (any
    * in-progress match crossing an 'e' is impossible, and every
    * completable match before it was already counted lazily).
    */
  private def automaton(s: String, resetOnE: Boolean): Int = {
    var st = 0; var n = 0
    s.foreach { ch =>
      if (resetOnE && ch == 'e' && st > 0) st = 0
      else ch match {
        case 'v' if st == 0 => st = 1
        case 'c' if st == 1 => st = 2
        case 'p' if st == 2 => n += 1; st = 0
        case _ => ()
      }
    }
    n
  }

  test("lazy-regex counts equal the automaton scan (semantics pin)") {
    val rnd = new scala.util.Random(11)
    val alphabet = "vcpse"
    val cases = Seq("vcp", "vvcpcp", "vecp", "vcecp", "vcpvcp",
      "vvvcccppp", "vpc", "", "e", "vcpe") ++
      Seq.fill(200)((0 until (1 + rnd.nextInt(40)))
        .map(_ => alphabet(rnd.nextInt(5))).mkString)
    cases.foreach { s =>
      val conv = "v.*?c.*?p".r.findAllIn(s).length
      val clean = "v[^e]*?c[^e]*?p".r.findAllIn(s).length
      assert(conv === automaton(s, resetOnE = false), s"conv on '$s'")
      assert(clean === automaton(s, resetOnE = true), s"clean on '$s'")
    }
  }

  test("event_pattern equals the per-user automaton reference") {
    import scala.jdk.CollectionConverters._
    val ev = graft.sources.Tables.events(spark, sf)
      .select(col("user_id"), unix_millis(col("ts")).as("ms"),
        col("event_id"), col("event_type"))
      .collectAsList().asScala
    val codeOf = Map("view" -> 'v', "click" -> 'c', "purchase" -> 'p',
      "signup" -> 's').withDefaultValue('e')
    val ref = ev.groupBy(_.getLong(0)).map { case (u, rows) =>
      val codes = rows.sortBy(r => (r.getLong(1), r.getLong(2)))
        .map(r => codeOf(r.getString(3))).mkString
      u -> (codes.length.toLong, automaton(codes, false).toLong,
        automaton(codes, true).toLong)
    }
    val got = EventWindows.eventPattern(spark, sf).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getLong(3)))
      .toMap
    assert(got === ref.toMap)
    assert(got.values.map(_._2).sum > 0, "fixture has no conversions")
  }

  test("ts_seasonal: weekday grouping + mean + residual re-derived") {
    val rows = EventWindows.tsSeasonal(spark, sf).collect()
    assert(rows.nonEmpty)
    // day_value carries the exact DECIMAL(18,4) day sum (scale-4 cast
    // of a scale-4 decimal is lossless), so the reference rebuilds the
    // weekday means from the output frame itself with java.time dow
    val byKey = rows.groupBy { r =>
      val d = java.time.LocalDate.parse(r.getString(1))
      (r.getString(0), d.getDayOfWeek.getValue - 1) // 0 = Monday
    }
    byKey.foreach { case ((typ, _), grp) =>
      val sx = grp.map(r => java.math.BigDecimal.valueOf(r.getDouble(2)))
        .reduce(_.add(_))
      val mean = sx.doubleValue() / grp.length
      grp.foreach { r =>
        assert(r.getDouble(3) === hu(mean, 6),
          s"seasonal mismatch $typ ${r.getString(1)}")
        assert(r.getDouble(4) === hu(r.getDouble(2) - mean, 6),
          s"residual mismatch $typ ${r.getString(1)}")
      }
    }
    // seasonality is non-trivial: some weekday differs from the mean
    assert(rows.exists(r => math.abs(r.getDouble(4)) > 0.0))
  }

  test("ts_stl: components reconstruct the day (identity) and a planted " +
      "weekday effect is recovered under a trend that fools raw means") {
    // identity on the fixture: value == trend + seasonal + residual
    // up to the rounding slack (4dp value, 6dp components)
    EventWindows.tsStl(spark, sf).collect().foreach { r =>
      val recon = r.getDouble(3) + r.getDouble(4) + r.getDouble(5)
      assert(math.abs(r.getDouble(2) - recon) < 1.1e-4,
        s"decomposition identity broke at ${r.getString(0)} ${r.getString(1)}")
    }
    // planted series: strong linear trend (+100/day) + weekday effect
    // (+50 on dow 2 only). Weekday means of RAW values absorb the
    // trend (each weekday class sits at a different trend level by
    // construction when the span isn't a whole number of weeks);
    // detrending first must recover dow 2 as the clear maximum.
    val days = 0 until 24 // 3.4 weeks — misaligned on purpose
    val ev = days.map { d =>
      val dow = (3 + d) % 7 // 1970-01-08 is a Thursday offset
      val v = 1000.0 + 100.0 * d + (if (dow == 2) 50.0 else 0.0)
      (1L + d, java.sql.Timestamp.valueOf(
        java.time.LocalDate.of(1970, 1, 8).plusDays(d).atStartOfDay()),
        1L, "planted", v, "{}")
    }.toDF("event_id", "ts", "user_id", "event_type", "value", "props")
    val stl = EventWindows.tsStlEvents(ev).collect()
    val byDow = stl.groupBy { r =>
      java.time.LocalDate.parse(r.getString(1)).getDayOfWeek.getValue - 1
    }.map { case (dw, rs) =>
      dw -> rs.map(_.getDouble(4)).sum / rs.length
    }
    val best = byDow.maxBy(_._2)._1
    assert(best === 2,
      s"detrended weekday profile must peak at the planted dow 2: $byDow")
  }

  test("ts_forecast equals a literal Holt fold (and the fixture " +
      "exercises the negative-dividend div path)") {
    import scala.jdk.CollectionConverters._
    val daily = graft.sources.Tables.events(spark, sf)
      .groupBy(col("event_type"),
        date_trunc("day", col("ts")).cast("date").as("day"))
      .agg((sum(col("value").cast(
        org.apache.spark.sql.types.DecimalType(18, 4))) * 10000)
        .cast("long").as("x"))
      .collectAsList().asScala
      .map(r => (r.getString(0), r.getDate(1).toString, r.getLong(2)))
    var negDividends = 0
    val ref = daily.groupBy(_._1).flatMap { case (typ, rows) =>
      val days = rows.sortBy(_._2)
      var l = 0L; var b = 0L
      days.zipWithIndex.map { case ((_, day, x), i) =>
        val f = if (i == 0) x else l + b
        if (i == 0) { l = x; b = 0L }
        else {
          val l2 = (x + l + b) / 2 // Long '/': toward zero, = div, = //
          val bNum = (l2 - l) + b
          if (bNum < 0) negDividends += 1
          b = bNum / 2; l = l2
        }
        (typ, day) -> ((x, f))
      }
    }.toMap
    val got = EventWindows.tsForecast(spark, sf).collect()
    assert(got.length === ref.size)
    got.foreach { r =>
      val (x, f) = ref((r.getString(0), r.getString(1)))
      assert(r.getDouble(2) === hu(x / 10000.0, 4))
      assert(r.getDouble(3) === hu(f / 10000.0, 4),
        s"forecast mismatch ${r.getString(0)} ${r.getString(1)}")
      assert(r.getDouble(4) === hu((x - f) / 10000.0, 4))
    }
    assert(negDividends > 0,
      "fixture never hits a negative trend numerator — the " +
        "div-toward-zero claim is untested by this data")
  }

  test("ts_forecast equals the literal fold on randomized series " +
      "(falling trends force negative-dividend divisions)") {
    val rnd = new scala.util.Random(41)
    (1 to 5).foreach { trial =>
      val rows = (for {
        t <- Seq("up", "down", "noisy")
        d <- 0 until (20 + rnd.nextInt(30))
        _ <- 0 until (1 + rnd.nextInt(3))
      } yield {
        val base = t match {
          case "up" => 10.0 + d * 7.3
          case "down" => 500.0 - d * 9.1 // falling ⇒ negative trend
          case _ => 100.0 + rnd.nextGaussian() * 80.0
        }
        (t, java.sql.Timestamp.valueOf(
          f"2024-03-${d % 28 + 1}%02d ${d / 28 + 1}%02d:00:00"),
          base + rnd.nextGaussian())
      })
      val df = rows.toDF("event_type", "ts", "value")
      // literal reference on the same generated rows
      val daily = rows.groupBy(r => (r._1,
        r._2.toLocalDateTime.toLocalDate)).map { case ((t, day), rs) =>
        val sum = rs.map(r => java.math.BigDecimal.valueOf(r._3)
          .setScale(4, java.math.RoundingMode.HALF_UP))
          .reduce(_.add(_))
        (t, day.toString,
          sum.movePointRight(4).longValueExact())
      }.toSeq
      var neg = 0
      val ref = daily.groupBy(_._1).flatMap { case (_, ds) =>
        val seq = ds.sortBy(_._2)
        var l = 0L; var b = 0L
        seq.zipWithIndex.map { case ((t, day, x), i) =>
          val f = if (i == 0) x else l + b
          if (i == 0) { l = x; b = 0L }
          else {
            val l2 = (x + l + b) / 2
            val bn = (l2 - l) + b
            if (bn < 0) neg += 1
            b = bn / 2; l = l2
          }
          (t, day) -> ((x, f))
        }
      }.toMap
      val got = EventWindows.tsForecastEvents(df).collect()
      assert(got.length === ref.size, s"trial $trial row count")
      got.foreach { r =>
        val (x, f) = ref((r.getString(0), r.getString(1)))
        assert(r.getDouble(3) === hu(f / 10000.0, 4),
          s"trial $trial forecast ${r.getString(0)} ${r.getString(1)}")
        assert(r.getDouble(4) === hu((x - f) / 10000.0, 4))
      }
      assert(neg > 0, s"trial $trial never hit a negative dividend")
    }
  }

  test("event_attribution: last prior click wins, equal-ts tie rules, " +
      "lookback expiry, and unattributed purchases drop") {
    def ts(s: String) = java.sql.Timestamp.valueOf(s)
    val ev = Seq(
      // user 1: two clicks then a purchase — the LATER click wins
      (1L, 10L, ts("2024-01-01 10:00:00"), "click", 0.0),
      (2L, 10L, ts("2024-01-01 11:00:00"), "click", 0.0),
      (3L, 10L, ts("2024-01-01 12:00:00"), "purchase", 5.0),
      // user 2: click at the SAME ts as the purchase — click sorts
      // first, so it attributes; a second same-ts click with higher id
      // wins the tie
      (4L, 20L, ts("2024-01-02 09:00:00"), "click", 0.0),
      (5L, 20L, ts("2024-01-02 09:00:00"), "click", 0.0),
      (6L, 20L, ts("2024-01-02 09:00:00"), "purchase", 1.0),
      // user 3: the only click is 8 days old — outside the lookback
      (7L, 30L, ts("2024-01-01 00:00:00"), "click", 0.0),
      (8L, 30L, ts("2024-01-09 00:00:01"), "purchase", 2.0),
      // user 4: purchase with no click at all
      (9L, 40L, ts("2024-01-03 00:00:00"), "purchase", 3.0)
    ).toDF("event_id", "user_id", "ts", "event_type", "value")
    val got = EventWindows.eventAttributionEvents(ev, lookbackDays = 7)
      .collect().map(r => (r.getLong(0), r.getLong(2), r.getLong(3)))
    assert(got.toSeq === Seq(
      (3L, 2L, 3600L * 1000000L), // later click, exact 1h gap
      (6L, 5L, 0L)),              // same-ts: higher click id, zero gap
      s"got ${got.toSeq}")
  }

  test("ts_forecast_seasonal equals the literal Holt-Winters fold, beats " +
      "Holt linear on planted weekly seasonality, and skips short series") {
    // planted weekly cycle + trend: one event per day, value =
    // 100 + 2*d + 40*sin-ish weekly pattern (integer-friendly plateau)
    val weekly = Array(0.0, 30.0, 60.0, 40.0, 10.0, -40.0, -70.0)
    val rows = (0 until 49).map { d =>
      ("season", java.sql.Timestamp.valueOf(
        java.time.LocalDate.of(2024, 1, 1).plusDays(d.toLong)
          .atTime(12, 0)), 100.0 + 2.0 * d + weekly(d % 7))
    } ++ (0 until 5).map { d => // short series: must emit nothing
      ("short", java.sql.Timestamp.valueOf(
        java.time.LocalDate.of(2024, 1, 1).plusDays(d.toLong)
          .atTime(12, 0)), 50.0 + d)
    }
    val df = rows.toDF("event_type", "ts", "value")
    val got = EventWindows.tsForecastSeasonalEvents(df).collect()
    assert(!got.exists(_.getString(0) == "short"),
      "a series with <= 7 days must stay in its seed window")
    // literal fold on the planted series
    def tdiv(a: Long, b: Long): Long = a / b // JVM / truncates like div
    val xs = (0 until 49)
      .map(d => math.round((100.0 + 2.0 * d + weekly(d % 7)) * 10000))
    var l = tdiv(xs.take(7).sum, 7); var b = 0L
    val s = xs.take(7).map(_ - l).toArray
    val ref = (7 until 49).map { i =>
      val idx = i % 7
      val f = l + b + s(idx)
      val l2 = tdiv(xs(i) - s(idx) + l + b, 2)
      val b2 = tdiv((l2 - l) + b, 2)
      s(idx) = tdiv((xs(i) - l2) + s(idx), 2)
      val out = (xs(i), f); l = l2; b = b2; out
    }
    val season = got.filter(_.getString(0) == "season").sortBy(_.getString(1))
    assert(season.length === ref.length)
    season.zip(ref).foreach { case (r, (x, f)) =>
      assert(r.getDouble(3) === hu(f / 10000.0, 4),
        s"forecast ${r.getString(1)}")
      assert(r.getDouble(2) === hu(x / 10000.0, 4))
    }
    // the seasonal model must beat Holt linear on one-step |err| over
    // the post-seed window (same days, same integer discipline)
    val linear = EventWindows.tsForecastEvents(
        df.filter(col("event_type") === "season")).collect()
      .filter(r => season.exists(_.getString(1) == r.getString(1)))
      .map(r => math.abs(r.getDouble(4))).sum
    val hw = season.map(r => math.abs(r.getDouble(4))).sum
    assert(hw < linear * 0.5,
      s"Holt-Winters MAE ($hw) should beat Holt linear ($linear) on " +
        "planted weekly seasonality by a wide margin")
  }

  test("ts_seasonal equals a literal weekday-mean model on randomized " +
      "frames (property)") {
    val rnd = new scala.util.Random(67)
    (1 to 4).foreach { trial =>
      val rows = (for {
        t <- Seq("a", "b")
        d <- 0 until (25 + rnd.nextInt(40))
        _ <- 0 until (1 + rnd.nextInt(2))
      } yield (t, java.sql.Timestamp.valueOf(
        f"2024-0${d / 28 + 1}%d-${d % 28 + 1}%02d 09:30:00"),
        50.0 + (d % 7) * 20 + rnd.nextGaussian() * 5))
      val got = EventWindows.tsSeasonalEvents(
        rows.toDF("event_type", "ts", "value")).collect()
      val daily = rows.groupBy(r =>
        (r._1, r._2.toLocalDateTime.toLocalDate)).map { case ((t, d), vs) =>
        (t, d, vs.map(v => java.math.BigDecimal.valueOf(v._3)
          .setScale(4, java.math.RoundingMode.HALF_UP)).reduce(_.add(_)))
      }.toSeq
      val byDow = daily.groupBy(r =>
        (r._1, r._2.getDayOfWeek.getValue - 1))
      val ref = daily.map { case (t, d, rev) =>
        val grp = byDow((t, d.getDayOfWeek.getValue - 1))
        val mean = grp.map(_._3).reduce(_.add(_)).doubleValue() /
          grp.length
        (t, d.toString) ->
          ((hu(rev.doubleValue(), 4), hu(mean, 6),
            hu(rev.doubleValue() - mean, 6)))
      }.toMap
      assert(got.length === ref.size, s"trial $trial")
      got.foreach { r =>
        val (x, seas, res) = ref((r.getString(0), r.getString(1)))
        assert(r.getDouble(2) === x, s"trial $trial day_value")
        assert(r.getDouble(3) === seas,
          s"trial $trial seasonal ${r.getString(1)}")
        assert(r.getDouble(4) === res, s"trial $trial residual")
      }
    }
  }

  test("ts_changepoint equals the literal CUSUM fold and fires on a " +
      "planted level shift (not before it)") {
    val rnd = new scala.util.Random(61)
    // steady level 100 for 30 days, then a +60 shift for 20 days —
    // plus a falling series exercising the negative-side statistic
    val rows = (for (d <- 0 until 50) yield {
      val v = (if (d < 30) 100.0 else 160.0) + rnd.nextGaussian() * 3
      ("shift_up", java.sql.Timestamp.valueOf(
        f"2024-0${d / 28 + 1}%d-${d % 28 + 1}%02d 10:00:00"), v)
    }) ++ (for (d <- 0 until 50) yield {
      val v = (if (d < 30) 200.0 else 90.0) + rnd.nextGaussian() * 3
      ("shift_down", java.sql.Timestamp.valueOf(
        f"2024-0${d / 28 + 1}%d-${d % 28 + 1}%02d 10:00:00"), v)
    })
    val got = EventWindows.tsChangepointEvents(
      rows.toDF("event_type", "ts", "value")).collect()
    // literal reference
    val ref = rows.groupBy(_._1).flatMap { case (t, rs) =>
      val daily = rs.groupBy(_._2.toLocalDateTime.toLocalDate)
        .map { case (day, vs) =>
          (day.toString, vs.map(v => java.math.BigDecimal.valueOf(v._3)
            .setScale(4, java.math.RoundingMode.HALF_UP))
            .reduce(_.add(_)).movePointRight(4).longValueExact())
        }.toSeq.sortBy(_._1)
      val n = daily.length
      val ref0 = daily.take(math.max(7, n / 4)) // reference window
      val mu = ref0.map(_._2).sum / ref0.length
      val mad = ref0.map(d => math.abs(d._2 - mu)).sum / ref0.length
      val k = mad / 2
      var sp = 0L; var sn = 0L
      daily.map { case (day, x) =>
        sp = math.max(0L, sp + (x - mu) - k)
        sn = math.max(0L, sn - (x - mu) - k)
        (t, day) -> ((x, sp, sn, if (sp > mad * 5 || sn > mad * 5) 1
          else 0))
      }
    }
    got.foreach { r =>
      val (x, sp, sn, flag) = ref((r.getString(0), r.getString(1)))
      assert(r.getDouble(3) === hu(sp / 10000.0, 4), s"sp ${r.getString(1)}")
      assert(r.getDouble(4) === hu(sn / 10000.0, 4), s"sn ${r.getString(1)}")
      assert(r.getInt(5) === flag, s"flag ${r.getString(0)} ${r.getString(1)}")
    }
    // detection semantics: no flag in the steady prefix, flags after
    // the shift, and the down-shift fires the NEGATIVE statistic
    def flags(t: String) = got.filter(_.getString(0) == t)
      .sortBy(_.getString(1)).map(_.getInt(5)).toSeq
    Seq("shift_up", "shift_down").foreach { t =>
      val f = flags(t)
      assert(f.take(25).forall(_ == 0), s"$t flagged before the shift")
      assert(f.drop(32).exists(_ == 1), s"$t never detected the shift")
    }
    assert(got.filter(_.getString(0) == "shift_down")
      .exists(r => r.getDouble(4) > 0), "negative CUSUM never rose")
  }

  test("ts_gapfill and ts_interpolate equal the grid-window formulas on " +
      "planted rows (null-valued buckets, one-bucket users, leading and " +
      "trailing gaps)") {
    import org.apache.spark.sql.expressions.Window
    def at(h: Int, m: Int = 0) = java.sql.Timestamp.valueOf(
      java.time.LocalDateTime.of(2024, 3, 1, 0, 0).plusHours(h.toLong)
        .plusMinutes(m.toLong))
    val rnd = new scala.util.Random(83)
    val ev = (Seq[(Long, java.sql.Timestamp, Option[Double])](
      // user 1: a null-valued bucket between observed ones, and a
      // three-event bucket with one null value
      (1L, at(0), Some(1.0)), (1L, at(3), None), (1L, at(5, 10), Some(2.5)),
      (1L, at(5, 40), None), (1L, at(5, 50), Some(3.5)), (1L, at(9), Some(4.0)),
      // users 2 and 3: one bucket each, the second with no value
      (2L, at(4, 30), Some(7.0)),
      (3L, at(2), None),
      // user 4: null-valued buckets before the first value and after the
      // last one
      (4L, at(0), None), (4L, at(2), None), (4L, at(4), Some(5.0)),
      (4L, at(7), Some(-6.0)), (4L, at(8), None), (4L, at(11, 59), None)
    ) ++ (0 until 40).map { i => // user 5: two days of irregular hours
      (5L, at(i * 2 + i % 3, i),
        if (i % 7 == 3) None else Some(rnd.nextGaussian() * 10.0))
    }).toDF("user_id", "ts", "value")
    // the reference: the hourly grid as a sequence over each user's span,
    // left-joined to the observations, with the carries as windows over
    // the grid
    val hourly = ev
      .groupBy(col("user_id"), date_trunc("hour", col("ts")).as("bucket"))
      .agg(count(lit(1)).as("n"), sum(col("value").cast(
        org.apache.spark.sql.types.DecimalType(18, 4))).cast("double").as("s"))
    val grid = hourly.groupBy(col("user_id"))
      .agg(min(col("bucket")).as("lo"), max(col("bucket")).as("hi"))
      .select(col("user_id"), explode(sequence(col("lo"), col("hi"),
        expr("INTERVAL 1 HOUR"))).as("bucket"))
    val wPrev = Window.partitionBy(col("user_id")).orderBy(col("bucket").asc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wNext = Window.partitionBy(col("user_id")).orderBy(col("bucket").desc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val joined = grid.join(hourly, Seq("user_id", "bucket"), "left")
    val gapRef = joined.select(col("user_id"), col("bucket"),
        coalesce(col("n"), lit(0L)).as("n_events"),
        last(col("s"), ignoreNulls = true).over(wPrev).as("filled_value"))
      .orderBy(col("user_id").asc, col("bucket").asc).collect().toSeq
    val seen = when(col("v").isNotNull, col("bucket"))
    val interpRef = joined.withColumn("v", col("s") / col("n"))
      .withColumn("pv", last(col("v"), ignoreNulls = true).over(wPrev))
      .withColumn("pt", last(seen, ignoreNulls = true).over(wPrev))
      .withColumn("nv", last(col("v"), ignoreNulls = true).over(wNext))
      .withColumn("nt", last(seen, ignoreNulls = true).over(wNext))
      .select(col("user_id"), col("bucket"),
        when(col("v").isNotNull, col("v"))
          .when(col("pv").isNull, col("nv"))
          .when(col("nv").isNull, col("pv"))
          .otherwise(col("pv") + (col("nv") - col("pv")) *
            (unix_timestamp(col("bucket")) - unix_timestamp(col("pt")))
              .cast("double") /
            (unix_timestamp(col("nt")) - unix_timestamp(col("pt")))
              .cast("double")).as("interp"))
      .orderBy(col("user_id").asc, col("bucket").asc).collect().toSeq
    val gap = EventWindows.tsGapfillEvents(ev).collect().toSeq
    val interp = EventWindows.tsInterpolateEvents(ev).collect().toSeq
    assert(gap === gapRef)
    assert(interp === interpRef)
    // the planted cases are there: one-bucket users have one row, the
    // valueless one carries nothing, and user 4's leading and trailing
    // hours take its nearest value
    def rows(s: Seq[org.apache.spark.sql.Row], u: Long) =
      s.filter(_.getLong(0) == u)
    assert(rows(gap, 2L).map(_.getDouble(3)) === Seq(7.0))
    assert(rows(gap, 3L).size === 1 && rows(gap, 3L).head.isNullAt(3))
    assert(rows(interp, 3L).size === 1 && rows(interp, 3L).head.isNullAt(2))
    val u4 = rows(interp, 4L).map(_.getDouble(2))
    assert(u4.size === 12 && u4.take(5).forall(_ == 5.0) &&
      u4.drop(7).forall(_ == -6.0), s"user 4: $u4")
    assert(rows(gap, 4L).map(_.getLong(2)).sum === 6L)
  }

  test("dedup_semantic equals the brute-force cell model") {
    import scala.jdk.CollectionConverters._
    val emb = graft.sources.Tables.embeddings(spark, sf)
      .collectAsList().asScala
      .map(r => r.getLong(0) -> r.getSeq[Float](1).toArray).toMap
    def dot(a: Array[Float], b: Array[Float]): Double = {
      var s = 0.0; var i = 0
      while (i < a.length) { s += a(i).toDouble * b(i).toDouble; i += 1 }
      s
    }
    def nrm(a: Array[Float]): Double = math.sqrt(dot(a, a))
    // centroids normalize in DOUBLE (the kernel's pre-normalization)
    val cents = emb.keys.filter(_ % 127 == 0).toSeq.sorted
      .map(id => id -> emb(id).map(_.toDouble / nrm(emb(id))))
    def dotD(a: Array[Float], c: Array[Double]): Double = {
      var s = 0.0; var i = 0
      while (i < a.length) { s += a(i).toDouble * c(i); i += 1 }
      s
    }
    // argmax of dot(x, ĉ), ties to the smaller cent_id (scan order)
    val cellOf = emb.map { case (id, v) =>
      id -> cents.maxBy { case (cid, cv) => (dotD(v, cv), -cid) }._1
    }
    val dropped = emb.keys.filter { b =>
      emb.keys.exists { a =>
        a < b && cellOf(a) == cellOf(b) &&
          hu(dot(emb(a), emb(b)) / (nrm(emb(a)) * nrm(emb(b))), 4) >= 0.40
      }
    }.toSet
    val ref = emb.keys.filterNot(dropped).toSeq.sorted
      .map(id => (id, cellOf(id)))
    val got = SimSearch.semDedup(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(got === ref)
    assert(dropped.nonEmpty,
      "declared threshold drops nothing — vacuous drop path")
  }

  test("dedup_semantic drops planted 0.95+ near-duplicates, keeps " +
      "the lowest id, and never drops across cells") {
    val rnd = new scala.util.Random(23)
    val dim = 16
    def vec(): Array[Float] = Array.fill(dim)(rnd.nextGaussian().toFloat)
    val base = (0L until 40L).map(id => (id, vec()))
    // ids 100/101: near-copies of 3 and 17 (tiny perturbation keeps
    // the cell assignment and cosine > 0.99); id 102: a near-copy of
    // 5 NEGATED — cosine ≈ −1, must never be dropped
    def near(v: Array[Float]): Array[Float] =
      v.map(x => x + 1e-3f * rnd.nextGaussian().toFloat)
    val planted = base ++ Seq(
      (100L, near(base(3)._2)), (101L, near(base(17)._2)),
      (102L, near(base(5)._2).map(-_)))
    val df = planted.toDF("vec_id", "embedding")
    val got = SimSearch.semDedupDocs(df, centroidStride = 7,
      threshold = 0.95).collect().map(r => (r.getLong(0), r.getLong(1)))
    val ids = got.map(_._1).toSet
    assert(!ids.contains(100L) && !ids.contains(101L),
      "planted near-duplicates survived")
    assert(ids.contains(3L) && ids.contains(17L),
      "the lowest-id representative must survive")
    assert(ids.contains(102L), "anti-parallel vector wrongly dropped")
    assert(got.length === planted.length - 2)
  }

  test("dedup_semantic equals the brute-force model on randomized " +
      "frames across strides and thresholds (property)") {
    val rnd = new scala.util.Random(53)
    (1 to 5).foreach { trial =>
      val dim = 4 + rnd.nextInt(12)
      val n = 40 + rnd.nextInt(120)
      val stride = Seq(7L, 13L, 31L)(rnd.nextInt(3))
      val tau = 0.3 + rnd.nextDouble() * 0.5
      val emb = (0L until n.toLong).map(id =>
        (id, Array.fill(dim)(rnd.nextGaussian().toFloat))).toMap
      def dot(a: Array[Float], b: Array[Float]): Double = {
        var s = 0.0; var i = 0
        while (i < a.length) { s += a(i).toDouble * b(i).toDouble; i += 1 }
        s
      }
      def dotD(a: Array[Float], c: Array[Double]): Double = {
        var s = 0.0; var i = 0
        while (i < a.length) { s += a(i).toDouble * c(i); i += 1 }
        s
      }
      def nrm(a: Array[Float]): Double = math.sqrt(dot(a, a))
      val cents = emb.keys.filter(_ % stride == 0).toSeq.sorted
        .map(id => id -> emb(id).map(_.toDouble / nrm(emb(id))))
      val cellOf = emb.map { case (id, v) =>
        id -> cents.maxBy { case (cid, cv) => (dotD(v, cv), -cid) }._1
      }
      val expect = emb.keys.toSeq.filterNot { b =>
        emb.keys.exists { a =>
          a < b && cellOf(a) == cellOf(b) &&
            hu(dot(emb(a), emb(b)) / (nrm(emb(a)) * nrm(emb(b))),
              4) >= tau
        }
      }.sorted.map(id => (id, cellOf(id)))
      val got = SimSearch.semDedupDocs(
        emb.toSeq.toDF("vec_id", "embedding"), stride, tau)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
      assert(got === expect,
        s"trial $trial (dim=$dim n=$n stride=$stride tau=$tau)")
    }
  }

  test("dedup_semantic with the LEARNED k-means codebook still drops " +
      "every planted near-duplicate (the SemDeDup production config)") {
    val rnd = new scala.util.Random(31)
    val dim = 16
    // 4 well-separated gaussian clusters + near-copies: k-means cells
    // recover the clusters, and a near-copy shares its twin's cell
    // under ANY sane codebook (tiny perturbation, argmax unchanged)
    // spread σ=3 vs center norm ≈20: cluster-mates land at cos ≈0.7
    // (below τ — tighter spreads make REAL mates cross 0.95 and the
    // keep-all-base assertion would be wrong, not the operator)
    val centers = Array.fill(4)(Array.fill(dim)(rnd.nextGaussian() * 5))
    val base = (0L until 200L).map { id =>
      val c = centers((id % 4).toInt)
      (id, c.zip(Array.fill(dim)(rnd.nextGaussian() * 3.0))
        .map { case (m, e) => (m + e).toFloat })
    }
    val planted = base ++ (0 until 5).map { i =>
      (300L + i, base(i * 37)._2.map(x => x + 1e-4f))
    }
    val df = planted.toDF("vec_id", "embedding")
    val cb = SimSearch.ivfCodebookKmeans(df, kCents = 4)
    val got = SimSearch.semDedupWithCodebook(df, cb, threshold = 0.95)
      .collect().map(_.getLong(0)).toSet
    (0 until 5).foreach(i => assert(!got.contains(300L + i),
      s"planted near-duplicate ${300 + i} survived the k-means cells"))
    // exact-model equality with THIS codebook's cells (a handful of
    // true cluster-mates may legitimately sit above τ — the model,
    // not a keep-everything guess, decides)
    def dot(a: Array[Float], b: Array[Float]): Double = {
      var s = 0.0; var i = 0
      while (i < a.length) { s += a(i).toDouble * b(i).toDouble; i += 1 }
      s
    }
    def dotD(a: Array[Float], c: Array[Double]): Double = {
      var s = 0.0; var i = 0
      while (i < a.length) { s += a(i).toDouble * c(i); i += 1 }
      s
    }
    val cents = cb.map { case (cid, v, nrm) =>
      (cid, v.map(_.toDouble / nrm)) }
    val embMap = planted.toMap
    val cellOf = planted.map { case (id, v) =>
      id -> cents.maxBy { case (cid, cv) => (dotD(v, cv), -cid) }._1
    }.toMap
    val expect = planted.map(_._1).filterNot { b =>
      planted.map(_._1).exists { a =>
        a < b && cellOf(a) == cellOf(b) && {
          val (va, vb) = (embMap(a), embMap(b))
          hu(dot(va, vb) / (math.sqrt(dot(va, va)) *
            math.sqrt(dot(vb, vb))), 4) >= 0.95
        }
      }
    }.toSet
    assert(got === expect)
  }

  test("dedup_semantic pair work scales LINEARLY with the corpus " +
      "(executed-metric pin: cell-local pairs, never all-pairs)") {
    val dim = 16
    // gaussian base + 1% planted near-copies: `dropped` must be
    // non-empty, else AQE's empty-relation propagation folds the anti
    // join (and with it the pair-join stage) out of the final tree
    def corpus(n: Int) = {
      val rnd = new scala.util.Random(77)
      val base = (0L until n.toLong).map(id =>
        (id, Array.fill(dim)(rnd.nextGaussian().toFloat)))
      val copies = (0 until n / 100).map { i =>
        (n + i.toLong, base(i * 97 % n)._2.map(x => x + 1e-4f))
      }
      (base ++ copies).toDF("vec_id", "embedding")
    }
    // fixed stride ⇒ cell count grows with N, expected cell size stays
    // ~stride ⇒ Σ cell² grows ~linearly; all-pairs would quadruple 1×→2×
    def pairRows(n: Int): Long = {
      val res = SimSearch.semDedupDocs(corpus(n), centroidStride = 50,
        threshold = 0.95)
      assert(res.collect().length < n + n / 100,
        "planted copies not dropped — pair stage may be folded away")
      SpecUtil.collectPlan(res.queryExecution.executedPlan) {
        case j: org.apache.spark.sql.execution.joins.BaseJoinExec =>
          j.metrics.get("numOutputRows").map(_.value)
      }.flatten.max // the cent_id pair join dominates every other join
    }
    val (p1, p2) = (pairRows(3000), pairRows(6000))
    assert(p1 > 0)
    val ratio = p2.toDouble / p1
    assert(ratio < 3.0,
      s"pair stage grew ${ratio}x on 2x data — super-linear (all-pairs " +
        s"would be 4x): $p1 -> $p2")
    assert(p1 < 3000L * 3000 / 8,
      s"pair stage is corpus-quadratic at 1x: $p1 rows")
  }
}
