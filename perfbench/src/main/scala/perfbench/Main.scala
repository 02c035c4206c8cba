package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

import graft.serve.Json

/** One benchmark run in a fresh JVM: start a session, set the workload up,
  * warm it up, run its closed loop for `seconds`, then write `result.json` plus the
  * untimed verification dumps under `--out`. `run.py` turns that file into the
  * benchmark's result line.
  *
  * Everything the run writes lives under `--work` (warehouse, catalog,
  * Derby home, scratch), which `run.py` points at a fresh directory.
  */
object Main {

  final case class Args(workload: String, seed: Long, seconds: Double,
                        trace: Boolean, data: String, work: String,
                        out: String, cores: Int)

  private def parse(argv: Array[String]): Args = {
    val kv = argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    def need(k: String) = kv.getOrElse(k, sys.error(s"missing --$k"))
    Args(need("workload"), need("seed").toLong, need("seconds").toDouble,
      need("trace") == "1", need("data"), need("work"), need("out"),
      need("cores").toInt)
  }

  def main(argv: Array[String]): Unit = {
    val args = parse(argv)
    val jvmStartMs = ManagementFactory.getRuntimeMXBean.getStartTime
    val spark = graft.core.GraftSession.local(args.cores)
    spark.sparkContext.setLogLevel("ERROR")
    val sessionS = (System.currentTimeMillis() - jvmStartMs) / 1000.0

    val ctx = new Context(spark, args)
    val workload: Workload = args.workload match {
      case "etl_batch"     => new EtlBatch(ctx)
      case "control_plane" => new ControlPlane(ctx)
      case other => sys.error(s"unknown workload '$other'")
    }
    val setup0 = System.nanoTime()
    workload.setup()
    val setupS = (System.nanoTime() - setup0) / 1e9
    val warm0 = System.nanoTime()
    workload.warmup()
    val warmupS = (System.nanoTime() - warm0) / 1e9
    val trace = if (args.trace) Some(new Trace(spark, args.cores)) else None
    trace.foreach(_.install())

    val gcBefore = gcMillis()
    val cpuBefore = processCpuNanos()
    val statBefore = hostCpuTicks()
    val firstOpMs = System.currentTimeMillis()
    val window = ctx.runWindow(workload, trace)
    val cpuMs = (processCpuNanos() - cpuBefore) / 1e6
    val gcMs = gcMillis() - gcBefore
    val statAfter = hostCpuTicks()
    val busy = statAfter.zip(statBefore).map { case (a, b) => a - b }
    trace.foreach(_.uninstall())

    val verify = workload.verify()
    val result = Json.obj(
      "workload" -> args.workload,
      "seed" -> args.seed,
      "jvm_start_ms" -> jvmStartMs,
      "first_op_ms" -> firstOpMs,
      "session_s" -> sessionS,
      "setup_s" -> setupS,
      "warmup_s" -> warmupS,
      "window_s" -> window.seconds,
      "cpu_ms" -> cpuMs,
      "gc_ms" -> gcMs,
      "rss_peak_mb" -> rssPeakMb(),
      // share of the machine's CPU time the hypervisor gave to others
      "steal_frac" -> (if (busy.sum == 0) 0.0 else busy.lift(7).getOrElse(0L).toDouble / busy.sum),
      "heap_peak_mb" -> heapPeakMb(),
      "ops" -> window.ops.map(_.toJson),
      "ticks" -> window.ticks.map(_.toJson),
      "verify" -> verify,
      "layers" -> (workload.layerMetrics ++ trace.map(_.metrics(window)).getOrElse(Map.empty)),
      "facts" -> Json.obj(
        "nproc" -> Runtime.getRuntime.availableProcessors(),
        "spark_cores" -> args.cores,
        "spark_version" -> spark.version,
        "java_version" -> System.getProperty("java.version"),
        "java_vm" -> System.getProperty("java.vm.name"),
        "max_heap_mb" -> Runtime.getRuntime.maxMemory() / (1024 * 1024)))
    Files.writeString(Paths.get(args.out, "result.json"), Json.render(result))
    workload.close()
    graft.core.Mat.releaseAllScopes(blocking = true)
    spark.stop()
  }

  def processCpuNanos(): Long =
    ManagementFactory.getOperatingSystemMXBean match {
      case os: com.sun.management.OperatingSystemMXBean => os.getProcessCpuTime
      case _ => 0L
    }

  def gcMillis(): Long =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).sum

  /** The `cpu` line of /proc/stat: user, nice, system, idle, iowait, irq,
    * softirq, steal, ... in clock ticks. */
  def hostCpuTicks(): Seq[Long] =
    scala.io.Source.fromFile("/proc/stat").getLines().next()
      .split("\\s+").drop(1).map(_.toLong).toSeq

  /** VmHWM: the resident-set high-water mark of this JVM. */
  def rssPeakMb(): Double =
    scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:"))
      .map(_.split("\\s+")(1).toDouble / 1024.0).getOrElse(0.0)

  def heapPeakMb(): Double =
    ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(_.getType == java.lang.management.MemoryType.HEAP)
      .map(_.getPeakUsage.getUsed).sum / (1024.0 * 1024.0)
}
