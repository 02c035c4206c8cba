package perfbench

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.SparkEntry
import graft.core.{Mat, Tables}
import graft.serve.Json
import graft.sources.{Ingest, Xlsx}
import graft.sqlx.Sql

/** The reference's batch path: the relational SparkEntry shapes, a
  * truncate-and-load, one Excel-to-table load and one multi-statement
  * script, one load thread, each pass in its own seeded order. An untimed
  * warm-up pass runs first, so the window measures warm ops. The window
  * ends with the pass that is running when `--seconds` is up: every run
  * measures whole passes, the same mix of ops. Every op collects its full
  * result so its digest can be checked. */
final class EtlBatch(ctx: Context) extends Workload {
  private val spark = ctx.spark
  private val dir = ctx.args.data
  private val checks = new DigestChecks(spark)

  val entryKinds: Seq[String] = Seq(
    "q01_pricing_summary", "q03_customers_region", "q04_revenue_segment",
    "q05_orders_customer", "q06_anti_join", "q07_semi_join",
    "q08_latest_per_user", "q09_topk", "q13_revenue_nation",
    "q15_topn_per_group", "q17_conditional_agg", "q18_latest_join_back",
    "q31_rollup", "q32_set_ops", "q38_asof_join", "q40_pivot",
    "q110_local_supplier", "q113_salted_fact_join", "q125_shipping_delays",
    "q140_nation_balances", "q141_trade_flows", "q143_small_order_revenue",
    "q144_large_volume_orders", "q147_adaptive_skew_join",
    "q148_market_share", "q149_top_supplier", "q150_order_priority",
    "q28_truncate_load")

  val XlsxOp = "xlsx_truncate_load"
  val ScriptOp = "sql_run_script"
  private val XlsxRows = 500
  private val XlsxTable = "bench_xlsx_customers"
  private val ScriptTable = "bench_priority_rollup"
  private val script =
    s"""TRUNCATE TABLE $ScriptTable;
       |INSERT INTO $ScriptTable SELECT o_orderpriority, count(*) AS n,
       |  round(sum(o_totalprice), 2) AS revenue FROM orders GROUP BY o_orderpriority;
       |SELECT o_orderpriority, n, revenue FROM $ScriptTable""".stripMargin

  /** DuckDB oracles of the two ops that are not SparkEntry queries. */
  private val extraOracle = Map(
    XlsxOp -> s"""SELECT c_custkey, c_name, CAST(c_nationkey AS BIGINT) AS c_nationkey,
                 |  c_acctbal, c_mktsegment FROM customer WHERE c_custkey < $XlsxRows""".stripMargin,
    ScriptOp -> """SELECT o_orderpriority, CAST(count(*) AS BIGINT) AS n,
                  |  round(sum(o_totalprice), 2) AS revenue FROM orders GROUP BY o_orderpriority""".stripMargin)

  private var xlsxPath = ""
  private val fns = SparkEntry.queries
  // layer counters of the ops this workload drives itself
  private val xlsxReadNs, truncateLoadNs, rowsLoaded, scriptNs, statements, matReleaseNs =
    new java.util.concurrent.atomic.AtomicLong()
  @volatile private var matLiveMax = 0

  def setup(): Unit = {
    // the spreadsheet a user would upload: the first customers, with header
    xlsxPath = s"${ctx.args.work}/setup/customers.xlsx"
    new java.io.File(xlsxPath).getParentFile.mkdirs()
    Xlsx.write(Tables.customer(spark, dir).filter(s"c_custkey < $XlsxRows")
      .orderBy("c_custkey"), xlsxPath)
    Tables.orders(spark, dir).createOrReplaceTempView("orders")
    spark.sql(s"DROP TABLE IF EXISTS $ScriptTable")
    spark.sql(s"CREATE TABLE $ScriptTable (o_orderpriority STRING, n BIGINT, " +
      "revenue DOUBLE) USING parquet")
  }

  private def op(kind: String): DataFrame = kind match {
    case XlsxOp =>
      val t0 = System.nanoTime()
      val df = Xlsx.read(spark, xlsxPath)
      val t1 = System.nanoTime()
      rowsLoaded.addAndGet(Ingest.truncateLoad(df, XlsxTable))
      xlsxReadNs.addAndGet(t1 - t0)
      truncateLoadNs.addAndGet(System.nanoTime() - t1)
      spark.table(XlsxTable)
    case ScriptOp =>
      val t0 = System.nanoTime()
      val results = Sql.runScript(spark, script)
      scriptNs.addAndGet(System.nanoTime() - t0)
      statements.addAndGet(results.size)
      results.last.result.get
    case q => fns(q)(spark, dir)
  }

  val kinds: Seq[String] = entryKinds ++ Seq(XlsxOp, ScriptOp)

  private val warmFailures = scala.collection.mutable.ArrayBuffer.empty[String]

  /** One op: its output checked, then the materializations it pinned freed. */
  private def runOp(kind: String): Option[String] = {
    val res = checks.run(kind, op(kind))
    matLiveMax = math.max(matLiveMax, Mat.liveCountAllScopes)
    val t0 = System.nanoTime()
    Mat.releaseAll(blocking = true)
    matReleaseNs.addAndGet(System.nanoTime() - t0)
    res
  }

  def warmup(): Unit = {
    for (kind <- ctx.rng(0).shuffle(kinds)) {
      try runOp(kind).foreach(e => warmFailures += s"$kind: $e")
      catch { case scala.util.control.NonFatal(e) => warmFailures += s"$kind: ${e.getMessage}" }
    }
    Seq(xlsxReadNs, truncateLoadNs, rowsLoaded, scriptNs, statements, matReleaseNs).foreach(_.set(0))
    matLiveMax = 0
  }

  def run(ctx: Context): Unit = {
    val rng = ctx.rng(1)
    while (!ctx.pastDeadline)
      for (kind <- rng.shuffle(kinds))
        ctx.timed(kind)(runOp(kind))(identity)
  }

  def verify(): Json.JObj = {
    val out = s"${ctx.args.out}/verify"
    checks.dump(out)
    val oracle = checks.kinds.map(k => k -> SparkEntry.oracleSql.getOrElse(k, extraOracle(k)))
    Json.obj("dump_dir" -> out, "oracle_sql" -> oracle.toMap, "failed_checks" -> warmFailures.toSeq)
  }

  override def layerMetrics: Map[String, Any] = {
    val n = ctx.ops.size.max(1).toDouble
    def kindCount(k: String) = ctx.ops.toArray.count(_.asInstanceOf[OpRecord].kind == k).max(1)
    Map(
      "sqlx.run_script_ms" -> scriptNs.get / 1e6 / kindCount(ScriptOp),
      "sqlx.statements" -> statements.get.toDouble / kindCount(ScriptOp),
      "sources.xlsx_read_ms" -> xlsxReadNs.get / 1e6 / kindCount(XlsxOp),
      "sources.truncate_load_ms" -> truncateLoadNs.get / 1e6 / kindCount(XlsxOp),
      "sources.rows_loaded" -> rowsLoaded.get.toDouble / kindCount(XlsxOp),
      "core.mat_release_ms" -> matReleaseNs.get / 1e6 / n,
      "core.mat_live_blocks_max" -> matLiveMax)
  }
}
