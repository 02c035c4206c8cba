package perfbench

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.{AtomicLong, DoubleAdder}

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** The traced run's collectors: a SparkListener (jobs, stages, tasks,
  * shuffle and spill bytes) and a QueryExecutionListener (Catalyst phase
  * times), plus a sampler of block-manager storage memory. They count only
  * work of traced ops: a job carries the `perfbench.traced` local property
  * of the thread that started it; jobs from threads the benchmark does not
  * own (HTTP handlers) and the asynchronous Catalyst events use the traced
  * flag current when they arrive. */
final class Trace(spark: SparkSession, cores: Int) {
  @volatile var ctx: Context = _

  private val jobs, stages, tasks = new AtomicLong()
  private val taskRunMs, taskCpuNs, waitMs = new AtomicLong()
  private val shuffleRead, shuffleWrite, input, spill = new AtomicLong()
  private val stageSubmitMs = new ConcurrentHashMap[Int, java.lang.Long]()
  private val jobStart = new ConcurrentHashMap[Int, (String, Long)]()
  /** job spans (start, end) per op id, for the driver-only split */
  private val spans = new ConcurrentHashMap[String, java.util.List[(Long, Long)]]()

  private val executions = new AtomicLong()
  private val analysisMs, optimizationMs, planningMs = new DoubleAdder()

  @volatile private var storagePeakBytes = 0L
  @volatile private var sampling = true

  private def tracedFlag(props: java.util.Properties): Boolean =
    Option(props).flatMap(p => Option(p.getProperty("perfbench.traced"))) match {
      case Some(v) => v == "1"
      case None => ctx != null && ctx.tracedNow
    }

  private val sparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit =
      if (tracedFlag(e.properties)) {
        jobs.incrementAndGet()
        val opId = Option(e.properties).flatMap(p => Option(p.getProperty("perfbench.opid"))).getOrElse("")
        jobStart.put(e.jobId, (opId, e.time))
        e.stageInfos.foreach(s => stageSubmitMs.putIfAbsent(s.stageId, -1L))
      }
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      Option(jobStart.remove(e.jobId)).foreach { case (opId, t0) =>
        if (opId.nonEmpty)
          spans.computeIfAbsent(opId, _ => java.util.Collections.synchronizedList(
            new java.util.ArrayList[(Long, Long)]())).add((t0, e.time))
      }
    override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
      if (stageSubmitMs.containsKey(e.stageInfo.stageId)) {
        stages.incrementAndGet()
        val at: Long = e.stageInfo.submissionTime.getOrElse(System.currentTimeMillis())
        stageSubmitMs.put(e.stageInfo.stageId, at)
      }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val submitted = stageSubmitMs.get(e.stageId)
      if (submitted != null && e.taskMetrics != null) {
        tasks.incrementAndGet()
        val m = e.taskMetrics
        taskRunMs.addAndGet(m.executorRunTime)
        taskCpuNs.addAndGet(m.executorCpuTime)
        shuffleRead.addAndGet(m.shuffleReadMetrics.totalBytesRead)
        shuffleWrite.addAndGet(m.shuffleWriteMetrics.bytesWritten)
        input.addAndGet(m.inputMetrics.bytesRead)
        spill.addAndGet(m.memoryBytesSpilled + m.diskBytesSpilled)
        if (submitted > 0) waitMs.addAndGet(math.max(0L, e.taskInfo.launchTime - submitted))
      }
    }
  }

  private val qeListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
      if (ctx != null && ctx.tracedNow) {
        executions.incrementAndGet()
        val phases = qe.tracker.phases
        phases.get("analysis").foreach(p => analysisMs.add(p.durationMs.toDouble))
        phases.get("optimization").foreach(p => optimizationMs.add(p.durationMs.toDouble))
        phases.get("planning").foreach(p => planningMs.add(p.durationMs.toDouble))
      }
    override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()
  }

  private val sampler = new Thread(() => {
    while (sampling) {
      val used = spark.sparkContext.getExecutorMemoryStatus.values
        .map { case (max, free) => max - free }.sum
      if (used > storagePeakBytes) storagePeakBytes = used
      Thread.sleep(50)
    }
  }, "perfbench-storage-sampler")
  sampler.setDaemon(true)

  def install(): Unit = {
    spark.sparkContext.addSparkListener(sparkListener)
    spark.listenerManager.register(qeListener)
    sampler.start()
  }

  def uninstall(): Unit = {
    // let the asynchronous listener bus deliver what the window produced
    Thread.sleep(500)
    sampling = false
    spark.listenerManager.unregister(qeListener)
    spark.sparkContext.removeSparkListener(sparkListener)
  }

  /** Wall time of an op or tick not covered by any Spark job it started
    * itself; None when it started none (an HTTP call, whose jobs run on the
    * server's handler threads). */
  private def driverOnlyMs(op: OpRecord): Option[Double] =
    Option(spans.get(op.id)).map { l =>
      var covered = 0L
      var curS = -1L
      var curE = -1L
      l.asScala.toSeq.sortBy(_._1).foreach { case (s, e) =>
        if (s > curE) { covered += curE - curS; curS = s; curE = e }
        else curE = math.max(curE, e)
      }
      covered += curE - curS
      math.max(0.0, op.ms - covered)
    }

  def metrics(w: Window): Map[String, Any] = {
    val tracedOps = w.ops.filter(_.traced)
    val units = (tracedOps.size + w.ticks.count(_.traced)).max(1).toDouble
    // traced units alternate, so about this share of the window was traced
    val tracedShare = units / (w.ops.size + w.ticks.size).max(1)
    val tracedWallMs = w.seconds * 1000.0 * tracedShare
    val mb = 1024.0 * 1024.0
    val driverOnly = (tracedOps ++ w.ticks.filter(_.traced)).flatMap(driverOnlyMs)
    Map(
      "spark.jobs_per_op" -> jobs.get / units,
      "spark.stages_per_op" -> stages.get / units,
      "spark.tasks_per_op" -> tasks.get / units,
      "spark.task_wait_ms" -> (if (tasks.get == 0) 0.0 else waitMs.get.toDouble / tasks.get),
      "spark.task_s" -> taskRunMs.get / 1000.0 / units,
      "spark.task_cpu_s" -> taskCpuNs.get / 1e9 / units,
      "spark.utilization" -> (if (tracedWallMs == 0) 0.0 else taskRunMs.get / (tracedWallMs * cores)),
      "spark.driver_only_ms" -> Stats.median(driverOnly),
      "spark.shuffle_read_mb" -> shuffleRead.get / mb / units,
      "spark.shuffle_write_mb" -> shuffleWrite.get / mb / units,
      "spark.input_mb" -> input.get / mb / units,
      "spark.spill_mb" -> spill.get / mb / units,
      "catalyst.analysis_ms" -> analysisMs.sum / units,
      "catalyst.optimization_ms" -> optimizationMs.sum / units,
      "catalyst.planning_ms" -> planningMs.sum / units,
      "catalyst.executions_per_op" -> executions.get / units,
      "core.storage_peak_mb" -> storagePeakBytes / mb,
      "trace.op_p50_ms_traced" -> Stats.median(tracedOps.map(_.ms)),
      "trace.op_p50_ms_untraced" -> Stats.median(w.ops.filterNot(_.traced).map(_.ms)),
      "trace.overhead_ms" ->
        (Stats.median(tracedOps.map(_.ms)) - Stats.median(w.ops.filterNot(_.traced).map(_.ms))))
  }
}

object Stats {
  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)
  def quantile(xs: Seq[Double], q: Double): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted
      val pos = q * (s.size - 1)
      val lo = math.floor(pos).toInt
      val hi = math.ceil(pos).toInt
      s(lo) + (s(hi) - s(lo)) * (pos - lo)
    }
}
