package graft

/** Fast local scratch for SHUFFLE files (`spark.local.dir`) — the
  * round-19 optimization round's fleet-wide finding: thread-dump
  * sampling of the bench showed up to 24 of 32 task threads BLOCKED in
  * `IndexShuffleBlockResolver.writeMetadataFileAndCommit` (a global
  * resolver lock around shuffle index create+rename) plus
  * `FileOutputStream.open` of shuffle data files. With shuffle local
  * dirs on the disk-backed java.io.tmpdir, every map task of every
  * tiny stage serializes through file-system I/O under that lock —
  * ~100–300 ms of blocked time per task, the dominant fixed cost of
  * the many-small-stages queries (graph BFS rounds, lake commit
  * chains, streaming replays). Pointing `spark.local.dir` at tmpfs
  * makes the critical section microseconds.
  *
  * Production analogue (optimization guide §9): shuffle on fast local
  * SSD/NVMe — nobody runs shuffle-heavy Spark against a slow shared
  * disk. This is the same setting the streaming harnesses already
  * apply to their checkpoint/feed scratch (Streams.scratchBase,
  * ADVICE r14).
  *
  * Resolution order: $SPARK_GRAFT_LOCAL_DIR when set (cluster
  * operators parameterize placement); /dev/shm when writable with
  * >= 8 GiB usable (the ADVICE r14 headroom rule — containers cap
  * /dev/shm; sf0.1 shuffle spill is MBs, 8 GiB is generous slack);
  * else empty → Spark's default local dir. Must be applied BEFORE
  * SparkContext creation (static conf), hence a builder-time helper.
  */
object Scratch {
  private def shmIfUsable(sub: String): Option[String] =
    try {
      val shm = new java.io.File("/dev/shm")
      val usable = shm.canWrite &&
        java.nio.file.Files.getFileStore(shm.toPath)
          .getUsableSpace >= (8L << 30)
      if (usable) {
        val d = new java.io.File(shm, sub)
        d.mkdirs()
        Some(d.getAbsolutePath)
      } else None
    } catch { case _: java.io.IOException => None }

  def sparkLocalDir(): Option[String] =
    sys.env.get("SPARK_GRAFT_LOCAL_DIR")
      .orElse(shmIfUsable("graft_spark_local"))

  /** Fast base for the sink/lake queries' scratch DATA dirs (same
    * resolution + production analogue as the shuffle dir; the
    * streaming harnesses already sit on it via Streams.scratchBase):
    * the lake rows' commit chains are read-after-write sequences of
    * small parquet snapshots + captures, and paying the slow
    * disk-backed java.io.tmpdir for each was the same convoy the
    * shuffle finding removed. Falls back to java.io.tmpdir.
    *
    * Resolved ONCE per process (ADVICE r19, low): the /dev/shm
    * headroom check re-ran per call, so a mid-process headroom dip
    * silently flipped the base to java.io.tmpdir — the sink sweep
    * (SinkQueries.uniqueRunDir's idle-dir reaper) then never saw its
    * shm-side `*_runs` siblings again and tmpfs accumulated until JVM
    * exit. A stable base keeps the sweep and its dirs on one root for
    * the JVM lifetime.
    */
  private lazy val fastTmpBase: String =
    sys.env.get("SPARK_GRAFT_LOCAL_DIR")
      .orElse(shmIfUsable("graft_sink_scratch"))
      .getOrElse(sys.props("java.io.tmpdir"))

  def fastTmpDir(): String = fastTmpBase

  /** Apply to a builder: the fast local dir (no-op when none
    * resolves) + a codegen class cache sized for this library's query
    * fleet (static conf, so builder-time): the default 100-entry LRU
    * thrashes across ~350 distinct declared plans, recompiling shared
    * fragments (scan/filter/agg shapes over the same fixture tables)
    * that would otherwise hit; sizing is driver-memory-bounded, not
    * scale-dependent. Overridable via SPARK_GRAFT_CODEGEN_CACHE.
    */
  def configure(b: org.apache.spark.sql.SparkSession.Builder)
      : org.apache.spark.sql.SparkSession.Builder = {
    val b2 = b.config("spark.sql.codegen.cache.maxEntries",
      sys.env.getOrElse("SPARK_GRAFT_CODEGEN_CACHE", "1000"))
    sparkLocalDir().fold(b2)(d => b2.config("spark.local.dir", d))
  }

  /** Cores of the driver mains' session: $SPARK_GRAFT_CPUS, default 4. */
  def cpus: Int = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4").toInt

  /** The one session graft.Bench, Verify, PlanDump and TimeQ run on:
    * `local[cpus]` with one shuffle partition per core, UTC, no NTZ
    * inference (the fixtures' tz-less timestamps read as LTZ), no UI, a
    * per-process temp warehouse (the bucketed/catalog queries
    * saveAsTable — keep it out of the CWD, and apart between
    * concurrent mains), [[configure]]'s scratch settings and the graft
    * extensions.
    */
  def driverSession(): org.apache.spark.sql.SparkSession = {
    val spark = configure(org.apache.spark.sql.SparkSession.builder())
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.warehouse.dir", java.nio.file.Files
        .createTempDirectory("graft_wh").toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    GraftExtensions.install(spark)
    spark
  }
}
