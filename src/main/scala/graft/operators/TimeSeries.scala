package graft.operators

import java.time.LocalDate
import scala.reflect.runtime.universe.TypeTag
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import Relational.dec

/** The time-series kit behind the monitoring rows: the series rule, the
  * hourly grid and the three recurrences, each written once. The batch
  * rows in [[EventWindows]] fold the recurrences per series; their
  * streaming twins in [[graft.streaming.Streams]]
  * (`ChangepointProcessor`, `HoltWintersProcessor`) call the same learn
  * and step functions over the days their timers close.
  *
  * '''Fixed point.''' A series point is the exact DECIMAL(18,4) sum `rev`
  * of its bucket's values. The recurrences run on [[fp]]`(rev)`, the
  * unscaled 1e-4 BIGINT, with Long `/`: it truncates toward zero, as
  * Spark's `div` and DuckDB's `//` do (a falling series makes a trend
  * numerator negative, where floor division would differ). Nothing else
  * divides, so a recurrence computed here, in a streaming processor or in
  * the oracle's recursive CTE agrees to the last digit; [[display]] turns
  * a fixed-point value back into the 4dp double the rows emit.
  *
  * Day gaps are adjacent observations: a recurrence steps once per
  * observed day, and `ts_gapfill` is the regularisation step a
  * calendar-spaced forecast would compose.
  *
  * Left out on purpose: `retention_cohort` and `ts_drift` (one active-day
  * set per user, one histogram per day), `ts_resample` (6-hour OHLC bars)
  * and `ts_anomaly` (orders by `to_date`).
  */
private[graft] object TimeSeries {

  /** The Holt-Winters season, in observed days. */
  val Period = 7

  /** One series point per (`key`, `bucket`): its event count `n_events`
    * and the exact sum `rev`.
    */
  def series(events: DataFrame, key: String, bucket: Column): DataFrame =
    events.groupBy(col(key), bucket)
      .agg(count(lit(1)).as("n_events"), sum(dec(col("value"))).as("rev"))

  /** The daily series of each event type; the bucket is the DATE `day`. */
  def daily(events: DataFrame): DataFrame =
    series(events, "event_type",
      date_trunc("day", col("ts")).cast("date").as("day"))

  /** The hourly series of each `key`; the bucket is the timestamp
    * `bucket`.
    */
  def hourly(events: DataFrame, key: String): DataFrame =
    series(events, key, date_trunc("hour", col("ts")).as("bucket"))

  /** `rev` as the fixed-point BIGINT. */
  def fp(rev: Column): Column = (rev * 10000).cast("long")

  /** A fixed-point value as the 4dp double. */
  def display(fp: Column): Column = round(fp.cast("double") / 10000.0, 4)

  /** Every hour of each `key`'s observed span, from an hourly series
    * `obs` (key, `bucket`, its own columns, among them the value `v`).
    * A row carries the observation's own columns (null on an hour nothing
    * was observed in) and the carries: `pv`/`pt`, the last non-null `v`
    * at or before the hour and its bucket, and `nv`/`nt`, the first
    * non-null `v` after the hour's observation and its bucket.
    *
    * The windows run over the observed rows only; each observed row then
    * explodes into the hours up to the next observed one, so no window or
    * join runs over the grid.
    */
  def hourlyGrid(obs: DataFrame, key: String, v: String): DataFrame = {
    val byTime = Window.partitionBy(col(key)).orderBy(col("bucket").asc)
    val upTo = byTime.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    // the first after: the last one before, in DESCENDING bucket order
    val after = Window.partitionBy(col(key)).orderBy(col("bucket").desc)
      .rowsBetween(Window.unboundedPreceding, -1)
    val seen = when(col(v).isNotNull, col("bucket"))
    val hour = expr("INTERVAL 1 HOUR")
    val own = obs.columns.toSeq.filterNot(Set(key, "bucket"))
    obs
      .withColumn("next", lead(col("bucket"), 1).over(byTime))
      .withColumn("pv", last(col(v), ignoreNulls = true).over(upTo))
      .withColumn("pt", last(seen, ignoreNulls = true).over(upTo))
      .withColumn("nv", last(col(v), ignoreNulls = true).over(after))
      .withColumn("nt", last(seen, ignoreNulls = true).over(after))
      .withColumn("hour", explode(sequence(col("bucket"),
        coalesce(col("next") - hour, col("bucket")), hour)))
      .select((col(key) +: col("hour").as("bucket") +:
        own.map(c => when(col("hour") === col("bucket"), col(c)).as(c))) ++
        Seq("pv", "pt", "nv", "nt").map(col): _*)
  }

  /** Folds `f` over each event type's [[daily]] series in fixed point,
    * sorted by day: one keyed shuffle, and `f` holds one series at a
    * time. `f` gets the key and the (day, x) points and returns the rows.
    * A day whose values are all null has no point, and the fold fails on
    * it, as the streaming twins fail on a null value.
    */
  def foldDays[O <: Product : TypeTag](events: DataFrame)(
      f: (String, IndexedSeq[(LocalDate, Long)]) => Iterator[O]): DataFrame = {
    val spark = events.sparkSession
    import spark.implicits._
    daily(events).select(col("event_type").as[String],
        col("day").as[LocalDate], fp(col("rev")).as[Long])
      .groupByKey(_._1)
      .flatMapGroups((k, rows) =>
        f(k, rows.map(r => (r._2, r._3)).toIndexedSeq.sortBy(_._1.toEpochDay)))
      .toDF()
  }

  /** One Holt step (α = β = ½) on `x` from level `l` and trend `b`: the
    * forecast made before `x`, then the new level and trend.
    */
  def holtStep(l: Long, b: Long, x: Long): (Long, Long, Long) = {
    val l2 = (x + l + b) / 2
    (l + b, l2, (l2 - l + b) / 2)
  }

  /** Holt's one-step forecast of each point of `xs`: the first point
    * starts the level (trend 0) and forecasts itself.
    */
  def holt(xs: Seq[Long]): Seq[Long] = xs.headOption.fold(Seq.empty[Long]) {
    x0 => xs.tail.scanLeft((x0, x0, 0L)) { case ((_, l, b), x) =>
      holtStep(l, b, x) }.map(_._1)
  }

  /** The Holt-Winters seed from the first [[Period]] points: level
    * Σ / Period, trend 0, and each point minus that level as its
    * seasonal slot.
    */
  def holtWintersLearn(seed: Seq[Long]): (Long, Seq[Long]) = {
    val l = seed.sum / Period
    (l, seed.map(_ - l))
  }

  /** One additive Holt-Winters step (α = β = γ = ½) on `x` with seasonal
    * slot `s`: the forecast l + b + s, then Holt's step on x − s and the
    * new slot value.
    */
  def holtWintersStep(l: Long, b: Long, s: Long,
      x: Long): (Long, Long, Long, Long) = {
    val (_, l2, b2) = holtStep(l, b, x - s)
    (l + b + s, l2, b2, (x - l2 + s) / 2)
  }

  /** Holt-Winters' one-step forecasts of the points after the seed (none
    * for a series of at most [[Period]] points); point i uses slot
    * i mod [[Period]].
    */
  def holtWinters(xs: IndexedSeq[Long]): Seq[Long] =
    if (xs.size <= Period) Nil
    else {
      val (l0, s0) = holtWintersLearn(xs.take(Period))
      val s = s0.toArray
      var (l, b) = (l0, 0L)
      (Period until xs.size).map { i =>
        val (f, l2, b2, s2) = holtWintersStep(l, b, s(i % Period), xs(i))
        l = l2; b = b2; s(i % Period) = s2
        f
      }
    }

  /** Page-CUSUM's reference from the window `ref`: its mean μ and the
    * mean absolute deviation about μ (MAD).
    */
  def cusumLearn(ref: Seq[Long]): (Long, Long) = {
    val mu = ref.sum / ref.size
    (mu, ref.map(x => math.abs(x - mu)).sum / ref.size)
  }

  /** One two-sided Page-CUSUM step on `x` with slack k = MAD / 2: the new
    * S⁺ and S⁻, and 1 when either passes the threshold 5·MAD.
    */
  def cusumStep(mu: Long, mad: Long, sp: Long, sn: Long,
      x: Long): (Long, Long, Int) = {
    val k = mad / 2
    val p = math.max(0L, sp + (x - mu) - k)
    val n = math.max(0L, sn - (x - mu) - k)
    (p, n, if (p > mad * 5 || n > mad * 5) 1 else 0)
  }

  /** Page-CUSUM over `xs`, learnt from its first `w` points (all of them
    * when it is shorter): (S⁺, S⁻, flag) per point.
    */
  def cusum(xs: Seq[Long], w: Int): Seq[(Long, Long, Int)] = {
    val (mu, mad) = cusumLearn(xs.take(w))
    xs.scanLeft((0L, 0L, 0)) { case ((sp, sn, _), x) =>
      cusumStep(mu, mad, sp, sn, x) }.tail
  }

  /** The forecast rows' (actual, forecast, err) from fixed-point `x` and
    * forecast `f`.
    */
  def forecastCols(x: Column, f: Column): Seq[Column] =
    Seq(display(x).as("actual"), display(f).as("forecast"),
      display(x - f).as("err"))

  /** The change-point rows' (day_value, cusum_pos, cusum_neg) from
    * fixed-point `x`, S⁺ and S⁻.
    */
  def cusumCols(x: Column, sp: Column, sn: Column): Seq[Column] =
    Seq(display(x).as("day_value"), display(sp).as("cusum_pos"),
      display(sn).as("cusum_neg"))
}
