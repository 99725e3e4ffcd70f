package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.sources.{LakeIO, Tables, VersionLog}

/** The user-facing facade — the Spark-native equivalent of novlake's
  * `Lake` class, which is the reference's entire public API surface
  * (`Lake(user).query/save_dataset/preview/meta/list_tables`
  * [upstream, unverified — SURVEY.md §0/§3.1]). A novlake user switches
  * by constructing `Lake(spark, warehouse)` instead of `Lake(user)`:
  * every call they make today has a same-shape method here, with Athena
  * replaced by Catalyst and S3+Glue by a parquet warehouse directory +
  * the session catalog.
  *
  * 100 TB: nothing in this class collects (preview/meta return bounded
  * frames); writes inherit upstream partitioning (LakeIO notes).
  */
class Lake(val spark: SparkSession, val warehouse: String) {

  GraftExtensions.install(spark) // SQL kernels + optimizer rule active

  private def pathOf(table: String): String =
    s"${warehouse.stripSuffix("/")}/${table.replace('.', '/')}"

  /** novlake `Lake.query(sql)` → pandas: arbitrary SQL over registered
    * tables, here executed by Catalyst over the session catalog. Returns
    * the (lazy) DataFrame rather than an eager local frame — `.toPandas`
    * equivalent is the caller's `.collect()` choice.
    */
  def query(sql: String): DataFrame = spark.sql(sql)

  /** novlake's query-to-table workflow (CTAS): run `sql`, persist the
    * result as `name`, return the saved (re-read) dataset.
    */
  def ctas(sql: String, name: String, mode: String = "overwrite",
      partitionCols: Seq[String] = Nil): DataFrame =
    saveDataset(query(sql), name, mode, partitionCols)

  /** novlake `Lake.save_dataset(df, name, mode, partition_cols)`:
    * write parquet into the warehouse + register in the catalog.
    */
  def saveDataset(df: DataFrame, name: String,
      mode: String = "overwrite",
      partitionCols: Seq[String] = Nil): DataFrame = {
    require(Seq("overwrite", "append", "overwrite_partitions").contains(mode),
      s"unknown save mode '$mode' (a typo would silently overwrite data)")
    val path = pathOf(name)
    (mode, partitionCols) match {
      case ("append", Nil) => LakeIO.appendDataset(df, path)
      case ("append", cols) =>
        // keep the partition layout on append — an un-partitioned append
        // into a partitioned dataset corrupts partition discovery
        df.repartition(cols.map(org.apache.spark.sql.functions.col): _*)
          .write.mode("append").partitionBy(cols: _*).parquet(path)
      case ("overwrite_partitions", Nil) =>
        throw new IllegalArgumentException(
          "overwrite_partitions requires partitionCols (a full overwrite " +
            "would silently drop sibling partitions — use mode=overwrite)")
      case ("overwrite_partitions", cols) =>
        LakeIO.replacePartitions(df, path, cols)
      case (_, Nil) => LakeIO.saveDataset(df, path)
      case (_, cols) => LakeIO.savePartitioned(df, path, cols)
    }
    LakeIO.registerDurable(spark, name.replace('.', '_'), path)
    spark.read.parquet(path)
  }

  /** novlake `Lake.load(name)` — read a warehouse dataset. */
  def load(name: String): DataFrame = spark.read.parquet(pathOf(name))

  /** Cluster-and-sort save: range-partitioned + sorted files so filters
    * on `sortCols` skip files/row groups via parquet stats (LakeIO
    * notes). The lake-maintenance form of Delta OPTIMIZE ZORDER.
    */
  def saveSorted(df: DataFrame, name: String, sortCols: Seq[String],
      numFiles: Option[Int] = None): DataFrame = {
    LakeIO.saveSorted(df, pathOf(name), sortCols, numFiles)
    LakeIO.registerDurable(spark, name.replace('.', '_'), pathOf(name))
    load(name)
  }

  /** Z-order-clustered save: Morton-interleaved two-column clustering so
    * predicates on EITHER column skip files/row groups (LakeIO notes —
    * the two-dimensional sibling of `saveSorted`).
    */
  def saveZOrdered(df: DataFrame, name: String, colA: String, colB: String,
      numFiles: Int = 16): DataFrame = {
    LakeIO.saveZOrdered(df, pathOf(name), colA, colB, numFiles)
    LakeIO.registerDurable(spark, name.replace('.', '_'), pathOf(name))
    load(name)
  }

  /** MERGE/upsert into a warehouse dataset: source rows win on `keys`,
    * unmatched target rows survive (Delta MERGE emulation — LakeIO).
    */
  def upsert(df: DataFrame, name: String, keys: Seq[String]): DataFrame = {
    LakeIO.upsert(df, pathOf(name), keys)
    load(name)
  }

  /** Versioned snapshot save; returns the new version number. */
  def saveVersioned(df: DataFrame, name: String): Int =
    LakeIO.saveVersion(df, pathOf(name))

  /** Time-travel read: `version=None` resolves latest. */
  def loadVersioned(name: String, version: Option[Int] = None): DataFrame =
    LakeIO.loadVersion(spark, pathOf(name), version)

  /** Snapshot retention (Delta VACUUM analogue): keep the newest `keep`
    * versions, delete the rest; returns the versions removed.
    */
  def vacuum(name: String, keep: Int): Seq[Int] =
    LakeIO.vacuumVersions(spark, pathOf(name), keep)

  /** Change-data-feed between pinned versions (Delta `table_changes`
    * analogue): insert / delete / update_preimage / update_postimage
    * rows keyed by `keys` — LakeIO.changes notes.
    */
  def changes(name: String, fromV: Int, toV: Int,
      keys: Seq[String]): DataFrame =
    LakeIO.changes(spark, pathOf(name), fromV, toV, keys)

  /** Apply a change-data-feed to any snapshot frame — the consume side
    * of [[changes]]: applyChanges(loadVersioned(n), changes(n, m)) ≡
    * loadVersioned(m).
    */
  def applyChanges(target: DataFrame, cdf: DataFrame,
      keys: Seq[String]): DataFrame =
    LakeIO.applyChanges(target, cdf, keys)

  /** Rollback (Delta RESTORE analogue): republish pinned `version` as
    * the new latest — history stays append-only; returns the new
    * version number.
    */
  def restore(name: String, version: Int): Int =
    LakeIO.restoreVersion(spark, pathOf(name), version)

  /** Versioned save WITH write-time CDF capture (Delta's
    * enableChangeDataFeed analogue): the commit records its own
    * row-level changes, commit-granular — LakeIO.saveVersionCdf notes.
    */
  def saveVersionedCdf(df: DataFrame, name: String,
      keys: Seq[String]): Int =
    LakeIO.saveVersionCdf(df, pathOf(name), keys)

  /** The write-time-captured feed for commits in (fromV, toV] —
    * commit-granular, guard-checked against the persistent commit log
    * (a commit written without capture, or whose capture retention
    * reaped, REFUSES the range — LakeIO.capturedChanges notes).
    */
  def capturedChanges(name: String, fromV: Int, toV: Int): DataFrame =
    LakeIO.capturedChanges(spark, pathOf(name), fromV, toV)

  /** Replay a multi-commit captured feed onto a snapshot, one commit
    * at a time in version order: replayChanges(loadVersioned(name,
    * Some(a)), capturedChanges(name, a, b)) ≡ loadVersioned(name,
    * Some(b)).
    */
  def replayChanges(target: DataFrame, cdf: DataFrame,
      keys: Seq[String]): DataFrame =
    LakeIO.replayChanges(target, cdf, keys)

  /** Rollback WITH capture — use on tables whose commits carry
    * write-time CDF so the undo commit records its own churn and the
    * captured feed stays commit-complete.
    */
  def restoreCdf(name: String, version: Int, keys: Seq[String]): Int =
    LakeIO.restoreVersionCdf(spark, pathOf(name), version, keys)

  /** Zero-copy shallow clone of `srcName`'s pinned `srcVersion` into
    * `dstName` (manifest-only version dir; the clone pins its source
    * version against vacuum) — the dev-branch fork.
    */
  def shallowClone(srcName: String, srcVersion: Int,
      dstName: String): Int =
    LakeIO.shallowClone(spark, pathOf(srcName), srcVersion,
      pathOf(dstName))

  /** Merge a diverged branch back into its source chain (keyed
    * three-way merge, destination-wins with per-key conflict flags in
    * the returned outcome frame; `capture = true` publishes the merge
    * through the CDF-captured path) — LakeIO.mergeBranch notes.
    */
  def mergeBranch(srcName: String, branchName: String,
      baseSrcVersion: Int, keys: Seq[String],
      capture: Boolean = false): (Int, DataFrame) =
    LakeIO.mergeBranch(spark, pathOf(srcName), pathOf(branchName),
      baseSrcVersion, keys, capture)

  /** Read a pinned version aligned to the HEAD schema (typed null fill
    * for columns the version predates) — the schema-evolution read,
    * and the alignment `changes`/`mergeBranch` demand across an
    * evolved history.
    */
  def loadVersionedEvolved(name: String, version: Int): DataFrame =
    LakeIO.loadVersionEvolved(spark, pathOf(name), version)

  /** Snapshot history (DESCRIBE HISTORY analogue): version, file count,
    * bytes, latest flag — metadata only.
    */
  def history(name: String): DataFrame =
    LakeIO.versionHistory(spark, pathOf(name))

  /** Small-file compaction (Delta OPTIMIZE analogue): bin-pack data
    * files to ~`targetFileBytes` each — the maintenance job that
    * completes the vacuum/history trio. On a version-structured dataset
    * the compacted copy is written as a NEW version, so `history`
    * records the rewrite as its own row (fewer files, same content) and
    * readers pinned to older versions are untouched until `vacuum` —
    * Delta's OPTIMIZE-then-VACUUM lifecycle. On a plain dataset the
    * rewrite is in place (scratch dir + rename swap; Hive-partitioned
    * layouts compact per-partition-dir — LakeIO.compactToSize notes).
    * Returns (filesBefore, filesAfter).
    */
  def compact(name: String, targetFileBytes: Long): (Int, Int) = {
    val path = pathOf(name)
    val log = new VersionLog(spark, path)
    log.versions.lastOption match {
      case Some(head) =>
        // through the log, so a clone head reads and counts its manifest
        val files = log.files(head)
        val compacted = LakeIO.packed(log.read(head),
          LakeIO.packedFileCount(files, targetFileBytes))
        // on a capture-enabled table the content-identical rewrite
        // records an EMPTY change set, so captured range reads spanning
        // it keep working instead of refusing on a needless hole
        val v = LakeIO.saveVersionRewrite(compacted, path)
        (files.length, log.files(v).length)
      case None => LakeIO.compactToSize(spark, path, targetFileBytes)
    }
  }

  /** novlake `Lake.preview(table, n)` ≈ SELECT * LIMIT n — deterministic:
    * totally ordered over all ORDERABLE columns (the first column alone
    * may have ties at the limit boundary). Map-typed columns can't be
    * sort keys (AnalysisException — ADVICE r1), so they're skipped; a
    * dataset with no orderable column at all falls back to a plain
    * limit(n).
    */
  def preview(name: String, n: Int = 10): DataFrame = {
    val df = load(name)
    val orderable = df.schema.fields
      .filter(f => org.apache.spark.sql.catalyst.expressions.RowOrdering
        .isOrderable(f.dataType))
      .map(f => col(f.name).asc)
    if (orderable.isEmpty) df.limit(n)
    else df.orderBy(orderable.toIndexedSeq: _*).limit(n)
  }

  /** novlake `Lake.meta(table)` — schema as rows (Glue DDL stand-in). */
  def meta(name: String): DataFrame = LakeIO.tableMeta(load(name))

  /** Generic data-quality audit of any lake table (the `dq_checks`
    * surface as a facade method): row count, per-column null counts,
    * optional key-uniqueness probes, optional RANGE constraints — all
    * riding ONE aggregation pass regardless of check count (null,
    * dup-key, and out-of-range violations are conditional counts in
    * the same aggregate) — plus optional REFERENTIAL-INTEGRITY checks,
    * each a keyed LEFT ANTI join count against its referenced table
    * (the `dq_checks` fk_exists discipline: the only check class that
    * inherently needs a second table). The single 1-row aggregate is
    * collected and the check-count-sized report built locally — the
    * decontaminate_bloom bounded-collect class; the first cut instead
    * union-ed one `agged.select` per check, and Catalyst's column
    * pruning specialized every branch into its OWN single-expression
    * aggregate over its own scan (verified: 1+C+K full scans for a
    * C-column table), which is why the report must not be derived
    * relationally from the aggregate. Column names are
    * backtick-escaped: an audit facade must survive dotted column
    * names that `col(...)` would parse as field access.
    * Output: (check_name, target, violations, pass).
    *
    * @param ranges (column, lo, hi) inclusive-domain constraints —
    *               non-null values outside [lo, hi] count as violations
    * @param fks    (column, refTable, refColumn) — non-null values of
    *               `column` missing from `refTable.refColumn` count
    */
  def audit(name: String, uniqueKeys: Seq[String] = Seq(),
      ranges: Seq[(String, Double, Double)] = Seq(),
      fks: Seq[(String, String, String)] = Seq()): DataFrame = {
    val agged = auditAgg(load(name), uniqueKeys, ranges)
    val row = agged.collect().head
    val nCols =
      agged.columns.length - 1 - uniqueKeys.length - ranges.length
    val fields = agged.columns.slice(1, 1 + nCols).map(_.stripPrefix("nulls_"))
    val checks: Seq[(String, String, Long)] =
      Seq(("row_count", name, if (row.getLong(0) > 0) 0L else 1L)) ++
      fields.zipWithIndex.map { case (f, i) =>
        ("not_null", s"$name.$f", row.getLong(1 + i))
      } ++
      uniqueKeys.zipWithIndex.map { case (k, i) =>
        ("unique", s"$name.$k", row.getLong(1 + nCols + i))
      } ++
      ranges.zipWithIndex.map { case ((f, lo, hi), i) =>
        ("range", s"$name.$f in [$lo,$hi]",
          row.getLong(1 + nCols + uniqueKeys.length + i))
      } ++
      fks.map { case (f, refTable, refCol) =>
        val missing = load(name).select(escCol(f).as("__fk"))
          .filter(col("__fk").isNotNull)
          .join(load(refTable).select(escCol(refCol).as("__fk")),
            Seq("__fk"), "left_anti")
          .count()
        ("fk_exists", s"$name.$f->$refTable.$refCol", missing)
      }
    import spark.implicits._
    checks.toDF("check_name", "target", "violations")
      .withColumn("pass", when(col("violations") === 0L, 1).otherwise(0))
      .orderBy(col("check_name").asc, col("target").asc)
  }

  /** Generic dataset-card rollup of any lake table (the
    * `corpus_report` surface as a facade method): row counts and
    * numeric sums per single dimension, per full dimension cell, and
    * overall — ONE GROUPING SETS aggregation pass regardless of level
    * count. Dimension values render as strings with grouped-out
    * levels as '(all)'; `level` names the dims that are live in the
    * row (or 'all' for the grand total). Column names are
    * backtick-escaped (the audit discipline).
    */
  def report(name: String, dims: Seq[String],
      sums: Seq[String] = Seq()): DataFrame = {
    require(dims.nonEmpty, "report needs at least one dimension")
    def esc(n: String) = "`" + n.replace("`", "``") + "`"
    // identifier positions backtick-escape; the level-label LITERAL
    // positions quote-escape (a dim named "it's" must neither break
    // nor inject into the generated SQL)
    def escLit(n: String) = "'" + n.replace("'", "''") + "'"
    // per-call view name: a fixed name would race concurrent report()
    // calls on a shared session and clobber a user view of that name
    val v = "__graft_report_" +
      java.util.UUID.randomUUID().toString.replace("-", "")
    // catalog-registered tables (attachFixtures / external) first,
    // warehouse datasets otherwise — the preview/meta resolution order
    val src = if (spark.catalog.tableExists(name)) spark.table(name)
      else load(name)
    src.createOrReplaceTempView(v)
    val setList = (Seq(dims) ++ dims.map(Seq(_)) ++ Seq(Seq.empty))
      .map(_.map(esc).mkString("(", ", ", ")")).distinct.mkString(", ")
    val levelExpr = "coalesce(nullif(concat_ws('+', " + dims.map(d =>
      s"CASE WHEN grouping(${esc(d)}) = 0 THEN ${escLit(d)} END")
      .mkString(", ") + "), ''), 'all') AS level"
    // grouping() distinguishes a rolled-up level from a real NULL
    // dimension value (coalesce alone would conflate them)
    val dimExprs = dims.map(d =>
      s"CASE WHEN grouping(${esc(d)}) = 1 THEN '(all)' ELSE " +
        s"coalesce(CAST(${esc(d)} AS STRING), '(null)') END AS ${esc(d)}")
    val sumExprs = sums.map(s =>
      s"SUM(${esc(s)}) AS ${esc("sum_" + s)}")
    val df = spark.sql(
      s"""SELECT $levelExpr, ${dimExprs.mkString(", ")},
         |  COUNT(1) AS n_rows${if (sums.nonEmpty) "," else ""}
         |  ${sumExprs.mkString(", ")}
         |FROM $v
         |GROUP BY GROUPING SETS ($setList)
         |ORDER BY level ASC, ${dims.map(esc).mkString(", ")}""".stripMargin)
    spark.catalog.dropTempView(v)
    df
  }

  private def escCol(n: String): Column =
    col("`" + n.replace("`", "``") + "`")

  /** The audit's single aggregate frame (one row; one table scan) —
    * exposed so LakeSpec can pin the one-scan plan shape directly.
    */
  private[graft] def auditAgg(df: DataFrame, uniqueKeys: Seq[String],
      ranges: Seq[(String, Double, Double)] = Seq()): DataFrame = {
    def c(n: String) = escCol(n)
    val nullChecks = df.schema.fields.map(f =>
      count(when(c(f.name).isNull, lit(1))).cast("long")
        .as(s"nulls_${f.name}"))
    val keyChecks = uniqueKeys.map(k =>
      (count(lit(1)) - countDistinct(c(k))).cast("long").as(s"dup_$k"))
    val rangeChecks = ranges.map { case (f, lo, hi) =>
      count(when(c(f) < lit(lo) || c(f) > lit(hi), lit(1))).cast("long")
        .as(s"range_$f")
    }
    df.agg(count(lit(1)).as("n_rows"),
      (nullChecks ++ keyChecks ++ rangeChecks).toIndexedSeq: _*)
  }

  /** novlake `Lake.list_tables()` — session-catalog listing. */
  def listTables(): DataFrame = LakeIO.listTables(spark)

  /** Register the driver fixture tables so `query` can address them —
    * the equivalent of pointing the lake at an existing Glue database.
    */
  def attachFixtures(sfDir: String): Lake = {
    Tables.registerAll(spark, sfDir)
    this
  }

  /** Re-register every dataset already present in the warehouse — a
    * fresh process pointed at the same warehouse sees all previously
    * saved tables, the durability a Glue/Hive-backed catalog gives for
    * free (with such a metastore this call is a no-op refresh; with the
    * default in-memory catalog it IS the durable-catalog story, because
    * the warehouse directory itself is the registry). A dataset root is
    * any directory carrying Spark's `_SUCCESS` commit marker whose path
    * has no `k=v` segment (partition and `v=N` snapshot dirs are
    * addressed through their dataset root / `loadVersioned`). Metadata
    * listing only — nothing is read or rewritten.
    */
  def attachWarehouse(): Lake = {
    val root = new org.apache.hadoop.fs.Path(warehouse)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    def datasets(p: org.apache.hadoop.fs.Path): Seq[String] = {
      val entries = fs.listStatus(p).toSeq
      if (entries.exists(e => e.getPath.getName == "_SUCCESS"))
        Seq(fs.makeQualified(p).toString)
      else entries
        .filter(e => e.isDirectory && !e.getPath.getName.contains("="))
        .flatMap(e => datasets(e.getPath))
    }
    // listStatus returns scheme-qualified URIs (file:/…, s3a://…) —
    // qualify the root the same way or the prefix-strip silently fails
    val qroot = fs.makeQualified(root).toString
    if (fs.exists(root)) datasets(root).foreach { path =>
      val rel = path.stripPrefix(qroot).stripPrefix("/")
      LakeIO.registerDurable(spark, rel.replace('/', '_'), path)
    }
    this
  }
}

object Lake {
  def apply(spark: SparkSession, warehouse: String): Lake =
    new Lake(spark, warehouse)

  /** Release everything the library's memos hold ([[graft.Memo]]):
    * every memoized dedup, LM, graph, tokenizer-training, perceptual,
    * vector-search, bucketed-table, curation and streaming-replay entry
    * is dropped and its storage freed — persisted frames unpersisted,
    * checkpointed frames' blocks removed, memo-owned scratch dirs
    * deleted. Cheap and safe to call between jobs: the next use
    * recomputes and re-memoizes. Frames obtained from a memo before the
    * call must not be used after it. Returns the number of entries
    * released.
    */
  def clearCaches(): Int = Memo.clearAll()

  /** novlake `Lake(user)` — the per-user convenience constructor: each
    * user gets a personal warehouse prefix under a shared root, so
    * `Lake.forUser(spark, "alice").saveDataset(df, "t")` and bob's `"t"`
    * never collide. The root comes from (in order) the explicit `root`
    * argument, the GRAFT_WAREHOUSE environment variable, or a tmpdir
    * fallback — the same env/config-convention layering novlake uses for
    * its per-user path config [upstream, unverified — SURVEY.md §1.1].
    */
  def forUser(spark: SparkSession, user: String,
      root: Option[String] = None): Lake = {
    require(user.nonEmpty && user.forall(c => c.isLetterOrDigit || c == '_'),
      s"user must be alphanumeric/_, got '$user'")
    val base = root.orElse(sys.env.get("GRAFT_WAREHOUSE"))
      .getOrElse(s"${sys.props("java.io.tmpdir")}/graft_warehouse")
    new Lake(spark, s"${base.stripSuffix("/")}/user_$user")
  }
}
