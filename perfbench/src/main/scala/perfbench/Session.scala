package perfbench

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.{col, count, lit, sum}

/** The benchmark's Spark session: `local[n]` with Spark's defaults except
  * for the settings every declared query assumes (UTC, no NTZ inference,
  * one shuffle partition per core). The codegen class cache keeps its
  * default of 100 entries.
  */
object Session {
  def build(cores: Int, work: String): SparkSession = {
    val spark = SparkSession.builder()
      .appName("perfbench")
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/spark-warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    graft.GraftExtensions.install(spark)
    spark
  }

  /** One throwaway query so that the first timed operation does not pay
    * for loading the planner, codegen, the parquet reader, joins and
    * shuffles: a join and an aggregate over two sf tables.
    */
  def warmup(spark: SparkSession, sfDir: String): Unit = {
    val orders = spark.read.parquet(s"$sfDir/orders.parquet")
    spark.read.parquet(s"$sfDir/customer.parquet")
      .join(orders, col("c_custkey") === col("o_custkey"))
      .groupBy("c_mktsegment", "o_orderstatus")
      .agg(sum("o_totalprice"), count(lit(1)))
      .write.format("noop").mode("overwrite").save()
  }
}
