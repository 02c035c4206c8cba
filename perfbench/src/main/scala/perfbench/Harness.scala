package perfbench

import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

import org.apache.spark.sql.{DataFrame, Row, SparkSession}

import graft.serve.Json

/** A workload: set-up, a closed load loop, and an untimed verification
  * that returns what `run.py` needs to check every op. */
trait Workload {
  /** Build everything the timed ops read. */
  def setup(): Unit
  /** Once, after set-up: run every kind of op untimed, so the window
    * measures warm ops and each kind's reference output exists. */
  def warmup(): Unit
  /** Drive load until `ctx.pastDeadline`. */
  def run(ctx: Context): Unit
  /** Untimed, after the window: write the verification dumps, return the
    * expectations `run.py` checks them against. */
  def verify(): Json.JObj
  /** Layer counters the workload itself keeps (trace or not). */
  def layerMetrics: Map[String, Any] = Map.empty
  def close(): Unit = ()
}

/** One timed unit of work. `ok` is false when it threw or its output did
  * not match the reference digest of its kind. */
final case class OpRecord(kind: String, id: String, startNs: Long, endNs: Long,
                          ok: Boolean, traced: Boolean, error: String) {
  def ms: Double = (endNs - startNs) / 1e6
  def toJson: Json.JObj = Json.obj("kind" -> kind, "ms" -> ms, "ok" -> ok,
    "traced" -> traced, "error" -> error)
}

final case class Window(seconds: Double, ops: Seq[OpRecord], ticks: Seq[OpRecord])

final class Context(val spark: SparkSession, val args: Main.Args) {
  val ops = new ConcurrentLinkedQueue[OpRecord]()
  val ticks = new ConcurrentLinkedQueue[OpRecord]()
  @volatile private var deadlineNs = Long.MaxValue
  def pastDeadline: Boolean = System.nanoTime() >= deadlineNs
  /** The seeded generator every load thread derives its order from. */
  def rng(stream: Int): scala.util.Random = new scala.util.Random(args.seed * 1000003L + stream)

  /** Alternates per op on the primary load thread when tracing, so the
    * traced run can report traced minus untraced latency. */
  @volatile var tracedNow: Boolean = false
  var trace: Option[Trace] = None

  private val seq = new java.util.concurrent.atomic.AtomicLong()

  def runWindow(w: Workload, t: Option[Trace]): Window = {
    trace = t
    t.foreach(_.ctx = this)
    val t0 = System.nanoTime()
    deadlineNs = t0 + (args.seconds * 1e9).toLong
    w.run(this)
    val seconds = (System.nanoTime() - t0) / 1e9
    Window(seconds, ops.asScala.toSeq, ticks.asScala.toSeq)
  }

  /** Time `body` as one op of `kind` into `sink`; `check` validates what it
    * returned. The op's Spark jobs carry `perfbench.opid`/`perfbench.traced`
    * local properties, so the trace listener can attribute them. */
  def timed[A](kind: String, sink: ConcurrentLinkedQueue[OpRecord] = ops,
               primary: Boolean = true)(body: => A)(check: A => Option[String]): Unit = {
    val sc = spark.sparkContext
    if (primary && trace.isDefined) tracedNow = !tracedNow
    val traced = trace.isDefined && tracedNow
    val id = s"$kind#${seq.incrementAndGet()}"
    sc.setLocalProperty("perfbench.opid", id)
    sc.setLocalProperty("perfbench.traced", if (traced) "1" else "0")
    val t0 = System.nanoTime()
    val err = try check(body) catch {
      case NonFatal(e) => Some(s"${e.getClass.getSimpleName}: ${e.getMessage}".take(300))
    }
    val t1 = System.nanoTime()
    sink.add(OpRecord(kind, id, t0, t1, err.isEmpty, traced, err.getOrElse("")))
  }
}

/** Order-independent digest of a result, tolerant of the last-bit float
  * differences a different partial-aggregate merge order produces: each
  * double is rounded to 10 significant digits before hashing. */
object Digest {
  private def canon(v: Any): Any = v match {
    case null => null
    case d: Double => roundSig(d)
    case f: Float => roundSig(f.toDouble)
    case bd: java.math.BigDecimal => bd.stripTrailingZeros().toPlainString
    case bd: BigDecimal => bd.bigDecimal.stripTrailingZeros().toPlainString
    case r: Row => r.toSeq.map(canon)
    case m: scala.collection.Map[_, _] =>
      m.toSeq.map { case (k, x) => (canon(k).toString, canon(x)) }.sortBy(_._1)
    case s: scala.collection.Seq[_] => s.map(canon).toList
    case a: Array[Byte] => a.toList
    case other => other.toString
  }

  private val sig10 = new java.math.MathContext(10)

  private def roundSig(d: Double): String =
    if (d == 0.0) "0"
    else if (d.isNaN || d.isInfinite) d.toString
    else new java.math.BigDecimal(d).round(sig10).stripTrailingZeros().toPlainString

  final case class Of(rows: Long, hash: Long)

  def of(rows: Array[Row]): Of = {
    var sum = 0L
    var xor = 0L
    rows.foreach { r =>
      val h = scala.util.hashing.MurmurHash3.seqHash(r.toSeq.map(canon)).toLong
      val h64 = h * 0x9E3779B97F4A7C15L + (h << 32)
      sum += h64
      xor ^= java.lang.Long.rotateLeft(h64, 17)
    }
    Of(rows.length.toLong, sum ^ (xor * 31L))
  }
}

/** Ops whose output is a DataFrame: every run of a kind must produce the
  * digest of that kind's first (warm-up) run, and the first run's rows are
  * dumped (untimed, after the window) for the DuckDB oracle. */
final class DigestChecks(spark: SparkSession) {
  private val first = new java.util.concurrent.ConcurrentHashMap[String, (Digest.Of, Array[Row], org.apache.spark.sql.types.StructType)]()

  def run(kind: String, df: => DataFrame): Option[String] = {
    val d = df
    val rows = d.collect()
    val dig = Digest.of(rows)
    val prev = first.putIfAbsent(kind, (dig, rows, d.schema))
    if (prev == null || prev._1 == dig) None
    else Some(s"digest mismatch: ${dig.rows} rows vs ${prev._1.rows} in the first run")
  }

  def kinds: Seq[String] = first.keySet().asScala.toSeq.sorted

  /** Write each kind's first result as parquet under `dir/<kind>`. */
  def dump(dir: String): Unit = first.asScala.foreach { case (kind, (_, rows, schema)) =>
    spark.createDataFrame(java.util.Arrays.asList(rows: _*), schema)
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/$kind")
  }
}
