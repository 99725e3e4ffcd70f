package graft

import scala.jdk.CollectionConverters._

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
  * disk. The same base holds every query's scratch data ([[dir]]).
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

  /** Base of the scratch root: $SPARK_GRAFT_LOCAL_DIR, else /dev/shm
    * with the 8 GiB rule above, else java.io.tmpdir. Resolved ONCE per
    * process (ADVICE r19, low): re-checking the /dev/shm headroom per
    * call let a mid-process dip flip later scratch onto another
    * filesystem, out of reach of the owner that deletes it.
    */
  private lazy val fastTmpBase: String =
    sys.env.get("SPARK_GRAFT_LOCAL_DIR")
      .orElse(shmIfUsable("graft_sink_scratch"))
      .getOrElse(sys.props("java.io.tmpdir"))

  private val rootPrefix = "graft_sinks_"

  /** The per-process scratch root `<base>/graft_sinks_<pid>_<jvmStartHex>`
    * that every [[dir]] lives under. Created on first use; a JVM
    * shutdown hook deletes it, and creating it sweeps the roots that
    * exited processes left behind ([[sweepStale]]).
    */
  private[graft] lazy val root: String = {
    val startHex = java.lang.management.ManagementFactory
      .getRuntimeMXBean.getStartTime.toHexString
    val r = new java.io.File(fastTmpBase,
      s"$rootPrefix${ProcessHandle.current().pid()}_$startHex")
    r.mkdirs()
    Runtime.getRuntime.addShutdownHook(new Thread(() =>
      org.apache.commons.io.FileUtils.deleteQuietly(r)))
    sweepStale(new java.io.File(fastTmpBase), System.currentTimeMillis())
    r.getAbsolutePath
  }

  private val dirSeq = new java.util.concurrent.atomic.AtomicLong()

  /** A fresh, empty directory under [[root]], named after `name`. Every
    * call gets its own, so a frame read from an earlier call's directory
    * stays readable after a later call of the same row. Owners may
    * delete it early; whatever is left goes with the root at exit.
    */
  def dir(name: String): String = {
    val d = new java.io.File(root, s"${name}_${dirSeq.incrementAndGet()}")
    if (!d.mkdirs())
      throw new java.io.IOException(s"cannot create scratch dir $d")
    d.getAbsolutePath
  }

  /** Deletes each scratch root under `base` whose pid is not a live
    * process and whose newest file is more than 30 minutes older than
    * `now` (the idle guard covers a pid that is not visible from this
    * process). Returns the deleted roots.
    */
  private[graft] def sweepStale(base: java.io.File,
      now: Long): Seq[java.io.File] = {
    val named = (rootPrefix + "(\\d+)_.*").r
    def newest(f: java.io.File): Long =
      try {
        val s = java.nio.file.Files.walk(f.toPath)
        try s.iterator().asScala.map(_.toFile.lastModified()).max
        finally s.close()
      } catch { case scala.util.control.NonFatal(_) => now }
    val stale = Option(base.listFiles()).toSeq.flatten.filter { f =>
      f.getName match {
        case named(pid) => f.isDirectory &&
          !ProcessHandle.of(pid.toLong).isPresent &&
          newest(f) < now - 30L * 60 * 1000
        case _ => false
      }
    }
    stale.foreach(org.apache.commons.io.FileUtils.deleteQuietly)
    stale
  }

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
    * scratch warehouse (the bucketed/catalog queries saveAsTable — keep
    * it out of the CWD, and apart between concurrent mains),
    * [[configure]]'s scratch settings and the graft extensions.
    */
  def driverSession(): org.apache.spark.sql.SparkSession = {
    val spark = configure(org.apache.spark.sql.SparkSession.builder())
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.warehouse.dir", dir("warehouse"))
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    GraftExtensions.install(spark)
    spark
  }
}
