package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.operators.Joins

/** [[Joins.carryLastRangeSplit]] ≡ the single-window carry — the library
  * form of the as-of hot-user mitigation (VERDICT r7 #6; measured in
  * SCALE.md). The split must be a pure re-plan: identical output on
  * every row, across bucket widths, with nulls, null-only buckets,
  * empty buckets, and a hot key.
  */
class JoinsCarrySpec extends AnyFunSuite {
  val spark = TestSpark.spark
  import spark.implicits._

  private def collectCarry(df: org.apache.spark.sql.DataFrame) =
    df.select(col("k"), col("ts"), col("carry"))
      .collect()
      .map(r => (r.getLong(0), r.getLong(1),
        if (r.isNullAt(2)) None else Some(r.getLong(2))))
      .toSet

  test("join_asof_split equals join_asof row for row at several bucket widths") {
    val base = Joins.joinAsOf(spark, TestSpark.sf).collect()
      .map(r => (r.getLong(0), r.getLong(1),
        if (r.isNullAt(2)) None else Some(r.getLong(2)))).toSeq
    assert(base.nonEmpty)
    for (days <- Seq(1L, 64L, 100000L)) {
      val split = Joins.joinAsOfSplit(spark, TestSpark.sf, bucketDays = days)
        .collect()
        .map(r => (r.getLong(0), r.getLong(1),
          if (r.isNullAt(2)) None else Some(r.getLong(2)))).toSeq
      assert(split === base, s"bucketDays=$days diverged")
    }
  }

  test("range-split carry equals the single window on planted edge cases") {
    // key 1: hot key spanning many buckets, with a null-only bucket
    // (ts 200..299 all null) and an empty bucket gap (no ts in 300..399)
    val hot = (0L until 200L).map(t => (1L, t, if (t % 10 == 0) Some(t) else None)) ++
      (200L until 300L).map(t => (1L, t, None: Option[Long])) ++
      (400L until 450L).map(t => (1L, t, if (t == 420L) Some(t) else None))
    // key 2: leading nulls (no carry until the first non-null)
    val lead = (0L until 50L).map(t => (2L, t, if (t >= 30L) Some(t) else None))
    // key 3: single row
    val single = Seq((3L, 7L, Some(7L)))
    val df = (hot ++ lead ++ single).toDF("k", "ts", "v")
    val plain = collectCarry(Joins.carryLastPlain(df, "k", "ts", "v"))
    for (width <- Seq(1L, 7L, 64L, 100L, 1000000L)) {
      val split = collectCarry(
        Joins.carryLastRangeSplit(df, "k", "ts", "v", width))
      assert(split === plain, s"divergence at bucketWidth=$width")
    }
    // sanity on the semantics themselves, not just self-agreement:
    // ts=299 (null-only bucket tail) carries the last hot marker (190),
    // ts=449 carries 420, key 2's ts=29 has no carry yet
    val byKey = plain.map { case (k, t, c) => (k, t) -> c }.toMap
    assert(byKey((1L, 299L)) === Some(190L))
    assert(byKey((1L, 449L)) === Some(420L))
    assert(byKey((2L, 29L)) === None)
    assert(byKey((2L, 30L)) === Some(30L))
  }

  test("range-split carry equals the single window on randomized data") {
    val rnd = new scala.util.Random(19)
    val rows = Seq.fill(800) {
      (rnd.nextInt(5).toLong,             // 5 keys, one will dominate ties
        rnd.nextInt(300).toLong,          // duplicate timestamps likely
        if (rnd.nextBoolean()) Some(rnd.nextInt(1000).toLong) else None)
    }
    val df = rows.toDF("k", "ts", "v")
    val plain = collectCarry(Joins.carryLastPlain(df, "k", "ts", "v"))
    for (width <- Seq(1L, 13L, 50L, 299L)) {
      val split = collectCarry(
        Joins.carryLastRangeSplit(df, "k", "ts", "v", width))
      assert(split === plain, s"divergence at bucketWidth=$width")
    }
  }
}
