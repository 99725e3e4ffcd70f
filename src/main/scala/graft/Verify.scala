package graft
import java.nio.file.{Files, Paths}
import scala.util.control.NonFatal
import org.apache.spark.sql.SparkSession
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val spark = Scratch.driverSession()
    // optional third+ args: restrict to named queries
    dump(spark, args(0), args(1), args.drop(2).toSet)
    spark.stop()
  }

  /** Writes every declared query's result (or only those in `only`, when
    * non-empty) under `outDir`, then `oracle_sql.json` and
    * `failures.json` — `[{"query":…,"error":…}]` for each query that
    * threw, `[]` when none did. A failure is also printed as a
    * `[verify]` stderr line. Returns the failed queries' names.
    */
  def dump(spark: SparkSession, sfDir: String, outDir: String,
      only: Set[String]): Seq[String] = {
    new java.io.File(outDir).mkdirs()
    val failures = SparkEntry.queries.toSeq.flatMap { case (name, fn) =>
      if (only.nonEmpty && !only.contains(name)) None
      else try {
        fn(spark, sfDir).coalesce(1).write.mode("overwrite")
          .parquet(s"$outDir/$name")
        None
      } catch { case NonFatal(e) =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
        Some(name -> String.valueOf(e.getMessage))
      }
    }
    // {SFDIR} lets an oracle reference fixture FILES (e.g. read_blob for
    // source_binary) rather than the pre-registered table views — the
    // placeholder resolves to whatever dir this dump actually ran on.
    // It is spliced into SQL string literals, so single quotes in the
    // path are doubled (ADVICE r7 — an unescaped quote would break the
    // read_blob literal). Globs over {SFDIR} assume SINGLE-FILE fixture
    // tables ('{SFDIR}/x.parquet' is a file, not a directory) — true of
    // every sf* fixture; a multi-part table (like the builder-local 10x
    // events directory) would need a recursive glob and is deliberately
    // out of oracle scope (documented next to the source_binary oracle).
    val sfDirSql = sfDir.replace("'", "''")
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${q(k)}: ${q(v.replace("{SFDIR}", sfDirSql))}" }
      .mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    Files.writeString(Paths.get(s"$outDir/failures.json"), failures
      .map { case (n, e) => s"""{"query":${q(n)},"error":${q(e)}}""" }
      .mkString("[", ",", "]"))
    failures.map(_._1)
  }

  // JSON string escape: backslash, quote, and ALL control chars (<0x20)
  // — a tab or CR in hand-written oracle SQL would otherwise make the
  // JSON reader of the dump fail and silently skip every oracle compare.
  private def q(s: String): String = "\"" + s.flatMap {
    case '"'  => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
}
