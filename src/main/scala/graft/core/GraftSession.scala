package graft.core

import org.apache.hadoop.fs.FileSystem
import org.apache.spark.sql.SparkSession

/** Session factory with the engine's recommended configuration, sized by
  * deployment shape. All settings are plain Spark confs — nothing custom —
  * so the same library runs under any externally-provided session too.
  *
  * One of them, the codegen cache size, is JVM-wide: Spark keeps every
  * class Janino compiled in one LRU cache whose capacity is read once, at
  * the JVM's first code generation. So a `GraftSession` has to build the
  * JVM's first session; a session built earlier elsewhere fixes the cache
  * at its own size for the life of the JVM.
  *
  * The `file://` file system is JVM-wide too: Hadoop caches one instance
  * per scheme and user, whatever conf asked for it. The session sets
  * [[LocalFs]] through [[LocalFsConfs]], and [[local]] and [[cluster]]
  * check after `getOrCreate` that the cached instance is that class, so a
  * `file://` file system created earlier in the JVM fails the session
  * instead of silently forking a `chmod` for every file it writes.
  */
object GraftSession {

  /** `spark.sql.codegen.cache.maxEntries`. Spark's default of 100 entries
    * is below the engine's working set of generated classes, and a pass
    * over a working set that does not fit compiles all of it again; the
    * JIT then compiles every new class again too. Measured working sets:
    * one etl_batch pass over its 30 op kinds (perfbench) about 350
    * classes; the driver bench's 172 queries about 1,300 beyond what its
    * prebuild compiled; the control plane (ticks, alerts, HTTP reads)
    * about 90; 4,096 holds each with headroom. At 100 entries each driver-bench rep compiled about 2,700
    * classes; at 4,096 a later rep compiles about 215, nearly all in the
    * streaming queries. Metaspace at the end of a driver-bench run read
    * 206 MB at 100 entries and 219 MB at 4,096. */
  val CodegenCacheEntries = 4096

  /** The Hadoop confs, as Spark `spark.hadoop.*` keys, that make `file://`
    * paths use [[LocalFs]]: the `FileSystem` class and the
    * `AbstractFileSystem` class that `FileContext` loads. */
  val LocalFsConfs: Map[String, String] = Map(
    "spark.hadoop.fs.file.impl" -> classOf[LocalFs].getName,
    "spark.hadoop.fs.AbstractFileSystem.file.impl" -> classOf[LocalFs.Fc].getName)

  /** Local development/test shape (what Verify/Bench use). */
  def local(cores: Int = Runtime.getRuntime.availableProcessors()): SparkSession =
    requireLocalFs(configure(SparkSession.builder().master(s"local[$cores]"),
      shufflePartitions = cores).getOrCreate())

  /** Cluster shape: shuffle partitions sized ~2-3× total executor cores
    * (callers pass the real number); AQE then coalesces small partitions at
    * runtime, so over-provisioning is safe and under-provisioning is not. */
  def cluster(builder: SparkSession.Builder, totalCores: Int): SparkSession =
    requireLocalFs(configure(builder, shufflePartitions = totalCores * 3).getOrCreate())

  /** `spark`, once the JVM's cached `file://` file system is known to be
    * [[LocalFs]]; otherwise an `IllegalStateException` naming the class
    * that was cached first. */
  def requireLocalFs(spark: SparkSession): SparkSession = {
    val raw = FileSystem.getLocal(spark.sparkContext.hadoopConfiguration).getRaw
    if (!raw.isInstanceOf[LocalFs.Raw])
      throw new IllegalStateException(
        s"the JVM's file:// file system is ${raw.getClass.getName}, not " +
        s"${classOf[LocalFs.Raw].getName}: a file:// FileSystem was created " +
        "before this session, and Hadoop's cache keeps the first one")
    spark
  }

  /** Scheduler-pool names: FAIR scheduling between pools keeps an API
    * query responsive while a long task job runs (the reference serves 4
    * gunicorn workers concurrently with the scheduler daemon). Pools are
    * created on demand; callers tag their thread via [[usePool]]. */
  val ServePool = "graft-serve"
  val TasksPool = "graft-tasks"

  /** Tag the CURRENT thread's Spark jobs with a FAIR pool (inherited by
    * child threads; no-op scheduling-wise unless spark.scheduler.mode=FAIR,
    * which [[configure]] sets). */
  def usePool(spark: SparkSession, pool: String): Unit =
    spark.sparkContext.setLocalProperty("spark.scheduler.pool", pool)

  private def configure(b: SparkSession.Builder, shufflePartitions: Int): SparkSession.Builder = b
    .config(LocalFsConfs)
    .config("spark.sql.shuffle.partitions", shufflePartitions.toString)
    .config("spark.sql.codegen.cache.maxEntries", CodegenCacheEntries.toString)
    // FAIR across pools: serving threads (ServePool) and the scheduler
    // daemon (TasksPool) each get a fair share of executor slots instead of
    // FIFO head-of-line blocking behind a long task job
    .config("spark.scheduler.mode", "FAIR")
    .config("spark.sql.session.timeZone", "UTC")
    // AQE: runtime coalescing, skew-join splitting, dynamic join strategy —
    // the first line of defense at 100 TB before manual salting (SkewJoin)
    .config("spark.sql.adaptive.enabled", "true")
    .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
    .config("spark.sql.adaptive.skewJoin.enabled", "true")
    // runtime bloom-filter pruning: for a shuffle join whose small side
    // is a selective filter-over-scan (filtered fact-fact joins) the
    // optimizer injects a bloom filter built from that side's join keys
    // into the big side's scan — rows that cannot match are dropped
    // BEFORE the exchange, cutting shuffled bytes at 100 TB where it
    // matters most. Off by default in Spark; the thresholds keep it to
    // genuinely selective cases (injection fires — PlanAuditSpec).
    .config("spark.sql.optimizer.runtime.bloomFilter.enabled", "true")
    // NOTE: spark.sql.files.ignoreMissingFiles stays FALSE (default) — a
    // read must fail loudly on incomplete input, catalog reads included:
    // CatalogStore decodes a table under its writer lock, and a scan of a
    // table too large to decode that races a compaction swap fails rather
    // than returning fewer rows.
    // parquet: µs timestamps for cross-engine parity; 128 MB splits keep
    // scan tasks uniform on large files
    .config("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
    .config("spark.sql.files.maxPartitionBytes", (128L * 1024 * 1024).toString)
    // TIMESTAMP(NANOS) parquet (events.ts): Spark 4.1.2 here reads it
    // NATIVELY as TIMESTAMP_NTZ and this conf is a no-op; on older builds
    // that reject NANOS it maps the column to a raw nanos long instead of
    // failing the scan. Kept for that portability only — Tables.load
    // adapts to whichever mapping the reader produced (r6 post-mortem:
    // code that ASSUMED the long mapping broke when the native read
    // appeared). A session constant: never toggled at runtime.
    .config("spark.sql.legacy.parquet.nanosAsLong", "true")
    .config("spark.ui.enabled", "false")
}
