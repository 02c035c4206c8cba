package graft

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Shared local session for specs — one per suite (lazy). */
trait SparkSuite extends AnyFunSuite with BeforeAndAfterAll {

  /** Suites run sequentially in the forked test JVM; draining EVERY scope
    * at suite end means a test that pins tracked frames and forgets its
    * own releaseAll cannot leak them into a later suite's global-zero
    * assertion (AdminApiSpec's request-drain test counts ALL scopes — a
    * 2-suite `testOnly` combo exposed exactly that leak). */
  override protected def afterAll(): Unit = {
    graft.core.Mat.releaseAllScopes()
    super.afterAll()
  }
  lazy val spark: SparkSession = graft.core.GraftSession.requireLocalFs(SparkSession.builder()
    // the engine's file system, so specs write files as the engine does
    .config(graft.core.GraftSession.LocalFsConfs)
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    // the engine's codegen cache size, so specs run the engine's cache; it
    // is JVM-wide and fixed by the first session, which is this one
    .config("spark.sql.codegen.cache.maxEntries",
      graft.core.GraftSession.CodegenCacheEntries.toString)
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
    // session constant (see GraftSession): suites share one session and
    // run in parallel — a scoped restore of this conf races Tables.load
    .config("spark.sql.legacy.parquet.nanosAsLong", "true")
    .config("spark.ui.enabled", "false")
    .getOrCreate())

  val sfDir = "/root/testdata/sf0.001"
  /** Larger driver-generated corpora, for tests that need scale contrast
    * (growth-rate assertions) or more rows than sf0.001 provides — one
    * definition instead of per-spec hardcoded paths. */
  val sf001Dir = "/root/testdata/sf0.01"
  val sf01Dir = "/root/testdata/sf0.1"

  def tmpDir(prefix: String): String =
    java.nio.file.Files.createTempDirectory(prefix).toString

  /** Janino compilations while `body` runs. The counter is JVM-wide, so a
    * concurrent suite's compilations count too. */
  def compiledDuring(body: => Unit): Long = {
    val before = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    body
    CodegenMetrics.METRIC_COMPILATION_TIME.getCount - before
  }

  /** Spark jobs started while `body` runs. Listener events arrive
    * asynchronously but in order, so two marked sentinel jobs bracket the
    * count: nothing before the first or after the second is included. */
  def jobsDuring(body: => Unit): Int = {
    val sc = spark.sparkContext
    val (open, close) = (java.util.UUID.randomUUID.toString, java.util.UUID.randomUUID.toString)
    val counted = new java.util.concurrent.atomic.AtomicInteger(-1)
    val done = new java.util.concurrent.CountDownLatch(1)
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(e: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        Option(e.properties).map(_.getProperty("spark.job.description")).orNull match {
          case `open` => counted.set(0)
          case `close` => done.countDown()
          case _ => if (done.getCount > 0 && counted.get >= 0) counted.incrementAndGet()
        }
    }
    def sentinel(marker: String): Unit = {
      sc.setJobDescription(marker)
      try sc.parallelize(Seq(1), 1).count() finally sc.setJobDescription(null)
    }
    sc.addSparkListener(listener)
    try {
      sentinel(open); body; sentinel(close)
      assert(done.await(60, java.util.concurrent.TimeUnit.SECONDS), "sentinel job not seen")
      counted.get
    } finally sc.removeSparkListener(listener)
  }
}
