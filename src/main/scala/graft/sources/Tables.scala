package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, TimestampNTZType, TimestampType}

/** Parquet table sources for the lake layout used by the test fixtures.
  *
  * Mirrors the reference's read path (novlake `Lake.query` reads
  * Glue-cataloged S3 parquet via Athena [upstream, unverified — see
  * SURVEY.md §0]); here a table is simply a parquet directory under the
  * scale-factor dir, read through Spark's vectorized parquet reader so
  * filter pushdown and column pruning apply automatically.
  *
  * 100 TB notes: `spark.read.parquet` scans are split by
  * `spark.sql.files.maxPartitionBytes`; nothing here collects to the
  * driver or assumes single-file inputs.
  */
object Tables {
  val allTables: Seq[String] = Seq(
    "region", "nation", "supplier", "customer", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  /** Per-session catalog cache, one [[graft.Memo]] per fixture table: a
    * DataFrame is an immutable lazy plan, so reusing it avoids
    * re-reading parquet footers and re-running analysis for every one of
    * the ~90 contract queries (the fixed per-query overhead that
    * dominates the bench at small scale — the role Glue/metastore schema
    * caching plays in the reference). Each memo is fingerprinted over
    * its own `<name>.parquet`, so an in-place rewrite misses (a fresh
    * file listing) and sweeps the stale entry.
    */
  private val memos: Map[String, graft.Memo[DataFrame]] =
    allTables.map(t => t -> graft.Memo[DataFrame](t)).toMap

  def table(spark: SparkSession, sfDir: String, name: String): DataFrame =
    memos(name)(spark, sfDir) {
      if (name == "events") eventsUncached(spark, sfDir)
      else {
        preferLtzTimestamps(spark)
        normalizeNtz(spark.read.parquet(s"$sfDir/$name.parquet"))
      }
    }

  /** `events.ts` is parquet TIMESTAMP(NANOS), which Spark 4's vectorized
    * reader rejects outright (PARQUET_TYPE_ILLEGAL). Read it as raw ns
    * via the legacy conf and truncate to µs — Spark's native timestamp
    * precision. Truncation is oracle-safe: every declared query over `ts`
    * compares ≥µs-granularity buckets or derived values (SURVEY.md
    * §5.3.4; DuckDB keeps ns as TIMESTAMP_NS on its side).
    */
  private def eventsRaw(spark: SparkSession, d: String): DataFrame = {
    enableNanosAsLong(spark)
    preferLtzTimestamps(spark)
    spark.read.parquet(s"$d/events.parquet")
  }

  /** Shared pieces of the ns-timestamp workaround, used by both the
    * batch reader here and the streaming reader
    * (graft.streaming.Streams.eventsFileStream) so the handling cannot
    * drift between them.
    */
  def enableNanosAsLong(spark: SparkSession): Unit =
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")

  /** The fixtures (regenerated 2026-08-13) write tz-less `timestamp[us]`
    * (parquet `isAdjustedToUTC = false`), which Spark 4 infers as
    * TIMESTAMP_NTZ by default — and `unix_millis`/`unix_micros` and
    * other epoch functions reject NTZ. Read them as session-local
    * TIMESTAMP instead: value-identical under the forced UTC session
    * timezone, and exactly what DuckDB sees reading the same naive
    * timestamps under its UTC session. Doing it via the reader conf (not
    * a cast) keeps parquet filter pushdown on timestamp columns intact.
    */
  def preferLtzTimestamps(spark: SparkSession): Unit =
    spark.conf.set("spark.sql.parquet.inferTimestampNTZ.enabled", "false")

  /** Defensive belt-and-braces for frames that were scanned before the
    * reader conf applied (or come from elsewhere): cast any residual
    * TIMESTAMP_NTZ column to TIMESTAMP. No-op on normal reads.
    */
  def normalizeNtz(df: DataFrame): DataFrame = {
    val ntz = df.schema.fields.collect {
      case f if f.dataType == TimestampNTZType => f.name
    }
    if (ntz.isEmpty) df
    else df.withColumns(ntz.map(c => c -> col(c).cast(TimestampType)).toMap)
  }

  /** Event `ts` normalization across fixture generations: ns-epoch long
    * (retired ns fixtures read via nanosAsLong) → µs timestamp; NTZ
    * (current tz-less µs fixtures) → session TIMESTAMP.
    */
  def normalizeEventTs(df: DataFrame): DataFrame = {
    val cast =
      if (df.schema("ts").dataType == LongType)
        df.withColumn("ts", timestamp_micros(expr("ts div 1000")))
      else df
    normalizeNtz(cast)
  }

  def region(spark: SparkSession, d: String): DataFrame    = table(spark, d, "region")
  def nation(spark: SparkSession, d: String): DataFrame    = table(spark, d, "nation")
  def supplier(spark: SparkSession, d: String): DataFrame  = table(spark, d, "supplier")
  def customer(spark: SparkSession, d: String): DataFrame  = table(spark, d, "customer")
  def part(spark: SparkSession, d: String): DataFrame      = table(spark, d, "part")
  def orders(spark: SparkSession, d: String): DataFrame    = table(spark, d, "orders")
  def lineitem(spark: SparkSession, d: String): DataFrame  = table(spark, d, "lineitem")
  def events(spark: SparkSession, d: String): DataFrame =
    table(spark, d, "events")

  private def eventsUncached(spark: SparkSession, d: String): DataFrame =
    normalizeEventTs(eventsRaw(spark, d))
  def documents(spark: SparkSession, d: String): DataFrame = table(spark, d, "documents")
  def embeddings(spark: SparkSession, d: String): DataFrame = table(spark, d, "embeddings")

  /** Register every fixture table as a temp view so `spark.sql` queries
    * (the engine's Athena-SQL-passthrough equivalent) can reference them
    * by name. Idempotent.
    */
  def registerAll(spark: SparkSession, sfDir: String): Unit =
    allTables.foreach(t => table(spark, sfDir, t).createOrReplaceTempView(t))
}
