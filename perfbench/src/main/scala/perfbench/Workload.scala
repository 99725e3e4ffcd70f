package perfbench

import scala.util.Random

import org.apache.spark.sql.SparkSession

/** A named metric with its unit. */
final case class Metric(name: String, value: Double, unit: String)

/** One benchmark workload: a closed loop with one client. */
trait Workload {
  /** Workload-specific set-up, including the client's own state; part
    * of `setup_s`.
    */
  def setup(spark: SparkSession, o: Opts): Unit = ()
  /** The timed closed loop: whole passes of the workload's mix (see
    * [[Ctx.another]]). A traced run makes exactly one pass, so its summed
    * layer figures describe the same work on every tree.
    */
  def run(ctx: Ctx): Unit
  /** End-of-run output checks, outside every timed interval. */
  def verify(ctx: Ctx): Unit
  /** Workload-specific end-to-end metrics. */
  def metrics(ctx: Ctx): Seq[Metric]
  /** Workload-specific layer metrics of a traced run. */
  def layerMetrics(ctx: Ctx): Seq[Metric] = Seq(
    Metric("lakeio.files_written", 0, "count"),
    Metric("lakeio.bytes_written", 0, "bytes"),
    Metric("lakeio.files_per_version", 0, "count"),
    Metric("lakeio.jobs_per_commit", 0, "count"))
}

object Workload {
  def apply(name: String): Workload = name match {
    case "adhoc_sql" => new AdhocSql
    case "lake_maintain" => new LakeMaintain
    case "curate_batch" => new CurateBatch
    case other => throw new IllegalArgumentException(
      s"unknown workload '$other' (adhoc_sql, lake_maintain, curate_batch)")
  }

  /** Nearest-rank percentile. */
  def pct(xs: Seq[Double], p: Double): Double =
    if (xs.isEmpty) Double.NaN
    else {
      val s = xs.sorted
      s(math.min(s.size - 1, math.max(0, math.ceil(p * s.size).toInt - 1)))
    }
}

/** Workloads whose operations are declared queries, each checked against
  * the expected row count and digest of its result.
  */
abstract class QueryWorkload extends Workload {
  private var expected = Map.empty[String, (Long, String)]

  override def setup(spark: SparkSession, o: Opts): Unit =
    expected = Json.fields(Json.read(o.expected)).map { case (k, v) =>
      k -> (v.get("rows").asLong, v.get("digest").asText)
    }.toMap

  /** The first DataFrame each query built, kept for the output check. */
  private val built = scala.collection.mutable.LinkedHashMap.empty[String,
    org.apache.spark.sql.DataFrame]

  protected def query(ctx: Ctx, name: String): Unit = {
    val fn = graft.SparkEntry.queries(name)
    ctx.op("query", name) {
      val df = ctx.construct(fn(ctx.spark, ctx.o.sfDir))
      ctx.trace.foreach(_.analyzed(df))
      ctx.noop(df)
      built.getOrElseUpdate(name, df)
    }
  }

  /** Runs the DataFrame of every distinct query once more and compares
    * its result; each operation of a query whose result differs, or whose
    * construction failed, counts as failed.
    */
  def verify(ctx: Ctx): Unit =
    ctx.records.map(_.name).distinct.foreach { name =>
      val want = expected.get(name)
      val ok = want.nonEmpty && built.contains(name) && scala.util.Try {
        val d = Digest.of(built(name))
        (d.rows, d.hex) == want.get
      }.getOrElse(false)
      if (!ok) {
        System.err.println(s"[perfbench] $name: result differs from " +
          s"the expected ${want.getOrElse("(none)")}")
        ctx.records.filter(_.name == name).foreach(_.ok = false)
      }
    }
}

/** The analyst. A session draws on the light-set sample [[Queries.mix]];
  * in each of the `rounds` rounds of a pass the query at rank r of the mix
  * runs round(`head` / r) times (at least once), a Zipf-shaped mix whose
  * hot head stays in the default 100-entry codegen cache while the tail
  * does not. The seed permutes the order of every round.
  */
final class AdhocSql extends QueryWorkload {
  val head = 4
  val rounds = 2

  private val round: Seq[String] = Queries.mix.zipWithIndex.flatMap {
    case (q, r) => Seq.fill(math.max(1, math.round(head / (r + 1.0)).toInt))(q)
  }

  def pass(seed: Long, p: Int): Seq[String] = (0 until rounds).flatMap { k =>
    new Random(seed * 1009 + p * rounds + k).shuffle(round)
  }

  def run(ctx: Ctx): Unit = {
    var p = 0
    while (ctx.another(p)) {
      pass(ctx.o.seed, p).foreach(q => if (ctx.room) query(ctx, q))
      p += 1
    }
  }

  def metrics(ctx: Ctx): Seq[Metric] = {
    val ms = ctx.records.map(_.ms).toSeq
    Seq(Metric("query_p50_ms", Workload.pct(ms, 0.5), "ms"),
      Metric("query_p95_ms", Workload.pct(ms, 0.95), "ms"))
  }
}

/** The curation job: one pass over the heavy query set in an order
  * permuted by the seed, with cold memos.
  */
final class CurateBatch extends QueryWorkload {
  def run(ctx: Ctx): Unit =
    new Random(ctx.o.seed).shuffle(Queries.heavy)
      .foreach(q => if (ctx.room) query(ctx, q))

  def metrics(ctx: Ctx): Seq[Metric] =
    Seq(Metric("batch_s", ctx.records.map(_.ms).sum / 1000, "s"))
}
