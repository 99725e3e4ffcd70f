package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val sfDir = args(0); val outDir = args(1)
    val only = args.drop(2).toSet // optional: restrict to named queries
    val spark = Scratch.driverSession()
    new java.io.File(outDir).mkdirs()
    SparkEntry.queries.foreach { case (name, fn) =>
      if (only.nonEmpty && !only.contains(name)) ()
      else try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
      }
    }
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
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
    spark.stop()
  }
}
