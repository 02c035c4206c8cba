package perfbench

import java.net.URI
import java.net.http.{HttpClient, HttpRequest, HttpResponse}
import java.sql.Timestamp
import java.time.LocalDateTime
import java.util.concurrent.{ConcurrentLinkedQueue, CyclicBarrier}
import java.util.concurrent.atomic.{AtomicBoolean, AtomicLong}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.DataFrame

import graft.alerts.{AlertService, Notifier}
import graft.catalog.CatalogStore
import graft.catalog.Model._
import graft.core.Tables
import graft.serve.{HttpApi, Json}
import graft.sched.{Orchestrator, Scheduler}
import graft.sources.Jdbc

/** The services `graft.Main.start` composes, over a freshly seeded
  * catalog: the Orchestrator ticks on a virtual clock that advances one
  * minute per tick, so every task and alert is due on every tick, and three
  * HTTP clients read tasks and task logs and insert records into an
  * embedded Derby database. Ops are the HTTP calls; ticks are timed apart.
  *
  * The load runs in cycles: one tick, then one round in which the three
  * clients send every route once each, concurrently. The next tick starts
  * when the round ends, so ticks run back to back but for the round
  * between them, and the window ends with a round, so it holds whole
  * cycles. Ticks and requests take turns because, run concurrently, a read
  * of `tasks` that overlaps a tick's rewrite of that table can see it
  * empty (`CatalogStore.read` tolerates files that vanish mid-read), so
  * /api/tasks answers with no tasks; the benchmark would count those as
  * failed ops on every run. Tick cost still lowers the request rate, so a
  * read-side gain that costs writes shows in `ops_per_s`. */
final class ControlPlane(ctx: Context) extends Workload {
  private val spark = ctx.spark
  private val Clients = 3
  private val InsertRows = 5
  private val Token = "perfbench-token"
  private val Routes = Seq("tasks", "task_logs", "insert")
  private val WarmSeconds = 20.0

  /** (task id, name, script, cron, interval s, dependencies) */
  private val taskSpecs = Seq(
    (1L, "load_dwd_orders",
      "TRUNCATE TABLE cp_dwd_orders; INSERT INTO cp_dwd_orders SELECT * FROM orders",
      Some("*/1 * * * *"), 60L, None),
    (2L, "priority_rollup",
      "SELECT o_orderpriority, count(*) AS n FROM cp_dwd_orders GROUP BY o_orderpriority",
      None, 60L, Some("1")),
    (3L, "segment_revenue",
      """SELECT c_mktsegment, round(sum(o_totalprice), 2) AS revenue
        |FROM orders JOIN customer ON o_custkey = c_custkey GROUP BY c_mktsegment""".stripMargin,
      Some("*/1 * * * *"), 60L, None))
  /** (alert id, script id, condition, threshold, query) */
  private val alertSpecs = Seq(
    (1L, 11L, "rows_gt", 100L,
      "SELECT o_orderkey, o_totalprice FROM orders WHERE o_orderpriority = '1-URGENT' AND o_orderstatus = 'O'"))

  /** The query statements' DuckDB row counts, checked against `rows=` in
    * each task's run log; DML statements log `affected=`. */
  private val oracleCounts: Map[String, String] = Map(
    "2" -> "SELECT count(DISTINCT o_orderpriority) FROM orders",
    "3" -> "SELECT count(DISTINCT c_mktsegment) FROM orders JOIN customer ON o_custkey = c_custkey",
    "alert1" -> alertSpecs(0)._5.replace("o_orderkey, o_totalprice", "count(*)"))

  private val t0 = LocalDateTime.of(2026, 1, 1, 0, 0)
  private val virtualTick = new AtomicLong(0)
  private val clock: () => LocalDateTime = () => t0.plusMinutes(virtualTick.get)

  private var root = ""
  private var derbyPath = ""
  private var store: CatalogStore = _
  private var orchestrator: Orchestrator = _
  private var api: HttpApi = _
  private var port = 0
  @volatile private var ticksDone = 0

  // layer counters
  private val executorNs, executorCalls, catalogNs, catalogCalls = new AtomicLong()
  private val tasksExecuted, tasksFailed, alertChecks, alertsTriggered = new AtomicLong()
  private val nonOk = new AtomicLong()
  private val insertsOk = new AtomicLong()
  private val tickResults = new ConcurrentLinkedQueue[String]()

  private def ts(t: LocalDateTime) = Timestamp.valueOf(t)

  private def timedSupplier(f: => DataFrame): () => DataFrame = () => {
    val t = System.nanoTime()
    try f finally { catalogNs.addAndGet(System.nanoTime() - t); catalogCalls.incrementAndGet() }
  }

  def setup(): Unit = {
    root = s"${ctx.args.work}/catalog"
    derbyPath = s"${ctx.args.work}/derby/inbox"
    val dir = ctx.args.data
    Seq("orders", "customer").foreach(t => Tables.load(spark, dir, t).createOrReplaceTempView(t))
    spark.sql("DROP TABLE IF EXISTS cp_dwd_orders")
    spark.sql("CREATE TABLE cp_dwd_orders USING parquet AS SELECT * FROM orders WHERE false")

    val conn = java.sql.DriverManager.getConnection(s"jdbc:derby:$derbyPath;create=true")
    try conn.createStatement().execute(
      "CREATE TABLE inbox (id BIGINT, name VARCHAR(64), amount DOUBLE)")
    finally conn.close()

    import spark.implicits._
    store = new CatalogStore(spark, root)
    val created = ts(t0.minusDays(1))
    store.overwrite(taskSpecs.map { case (id, name, _, cron, every, deps) =>
      Task(id, name, "sql", None, Some(id), every, None, None, isActive = true,
        deps, 0, 60, cron, created)
    }.toDS(), "tasks")
    store.overwrite((taskSpecs.map { case (id, name, sql, _, _, _) =>
      SqlScript(id, name, None, sql, created)
    } ++ alertSpecs.map { case (id, sid, _, _, sql) =>
      SqlScript(sid, s"alert_$id", None, sql, created)
    }).toDS(), "sql_scripts")
    store.overwrite(alertSpecs.map { case (id, sid, cond, threshold, _) =>
      SqlAlert(id, s"alert_$id", sid, None, "ops@example.com", cond, threshold,
        isEnabled = true, None, Some("*/1 * * * *"), None)
    }.toDS(), "sql_alerts")
    store.overwrite(Seq(User(1L, "bench", "salt:hash", created)).toDS(), "users")
    store.overwrite(Seq(UserToken(1L, 1L, Token, ts(t0.plusYears(50)), created)).toDS(),
      "user_tokens")
    store.overwrite(Seq(DbConfig(1L, "inbox", "derby", "", 0, "", "", None, created)).toDS(),
      "db_configs")

    val executor: Task => Either[String, String] = task => {
      val t = System.nanoTime()
      try Scheduler.defaultExecutor(spark, store)(task)
      finally { executorNs.addAndGet(System.nanoTime() - t); executorCalls.incrementAndGet() }
    }
    val notifier: Notifier = (_: Seq[String], _: String, _: String, _: Seq[String]) => Right(())
    val alerts = new AlertService(spark, store, notifier, s"$root/exports", clock)
    val scheduler = new Scheduler(spark, store, executor, clock)
    orchestrator = new Orchestrator(spark, store, scheduler, alerts, clock)
    api = new HttpApi(spark, HttpApi.Deps(
      tasks = timedSupplier(store.read[Task]("tasks").toDF()),
      taskLogs = timedSupplier(store.read[TaskLog]("task_logs").toDF()),
      sqlScripts = timedSupplier(store.read[SqlScript]("sql_scripts").toDF()),
      notificationLogs = timedSupplier(store.read[NotificationLog]("notification_logs").toDF()),
      emailConfigs = timedSupplier(store.read[EmailConfig]("email_configs").toDF()),
      users = timedSupplier(store.read[User]("users").toDF()),
      userTokens = timedSupplier(store.read[UserToken]("user_tokens").toDF()),
      dbConfigs = timedSupplier(store.read[DbConfig]("db_configs").toDF()),
      insert = (cfg, table, records) =>
        Jdbc.insertRecords(spark, Jdbc.target(cfg), table, records)))
    port = api.start(0)
    // run history: the tasks others depend on succeeded a minute before
    store.append(taskSpecs.filter(t => taskSpecs.exists(_._6.contains(t._1.toString)))
      .map { t => TaskLog(t._1, t._1, "success", s"SQL script ${t._1} ok", ts(t0.minusMinutes(1))) }
      .toDS(), "task_logs")
    virtualTick.set(0)
  }

  private type TickOut = (Seq[Scheduler#TickResult], Seq[Orchestrator#AlertTickResult])
  private val warmFailures = scala.collection.mutable.ArrayBuffer.empty[String]

  /** Every task ran and succeeded, every alert was checked. */
  private def checkTick(k: Int)(out: TickOut): Option[String] = {
    val (tasks, alerts) = out
    tickResults.add(Json.render(Json.obj(
      "tick" -> k,
      "tasks" -> tasks.map(r => Json.obj("id" -> r.taskId, "action" -> r.action,
        "status" -> r.status.getOrElse(""))),
      "alerts" -> alerts.map(a => Json.obj("id" -> a.alertId, "action" -> a.action)))))
    ticksDone = k
    tasksExecuted.addAndGet(tasks.count(_.action == "executed"))
    tasksFailed.addAndGet(tasks.count(_.status.contains("failed")))
    alertChecks.addAndGet(alerts.count(_.action != "not_due"))
    alertsTriggered.addAndGet(alerts.count(_.action == "triggered"))
    val notRun = tasks.filterNot(r => r.action == "executed" && r.status.contains("success"))
    val alertBad = alerts.filterNot(a => a.action == "triggered" || a.action == "no_trigger")
    if (tasks.size != taskSpecs.size || notRun.nonEmpty || alertBad.nonEmpty ||
        alerts.size != alertSpecs.size)
      Some(s"tick $k: tasks ${tasks.map(r => s"${r.taskId}:${r.action}").mkString(",")} " +
        s"alerts ${alerts.map(a => s"${a.alertId}:${a.action}").mkString(",")}")
    else None
  }

  private def tick(k: Int): TickOut = {
    virtualTick.set(k)
    orchestrator.tick()
  }

  /** A request of one route: what it sends, and the check of its answer. */
  private def route(http: HttpClient, kind: String, task: Int, id: Long)
      : (() => (Int, Any), ((Int, Any)) => Option[String]) = kind match {
    case "tasks" => (() => get(http, "/api/tasks"), { case (status, body) =>
      val n = body.asInstanceOf[Map[String, Any]]("tasks").asInstanceOf[Vector[Any]].size
      expect(status, n == taskSpecs.size, s"tasks: $n")
    })
    case "task_logs" =>
      val before = ticksDone
      (() => get(http, s"/api/task-logs/$task?per_page=10"), { case (status, body) =>
        val m = body.asInstanceOf[Map[String, Any]]
        val logs = m("logs").asInstanceOf[Vector[Any]].size
        val total = m("pagination").asInstanceOf[Map[String, Any]]("total").asInstanceOf[Long]
        expect(status, logs == math.min(10L, total) && total >= before,
          s"task_logs: $logs of $total, $before ticks done")
      })
    case "insert" =>
      val records = (0 until InsertRows).map(j => Json.obj(
        "id" -> (id * 10L + j), "name" -> s"client$task", "amount" -> (j * 1.5)))
      val body = Json.render(Json.obj("table_name" -> "inbox", "database_name" -> derbyPath,
        "db_config_id" -> 1L, "records" -> records))
      (() => post(http, "/api/database/insert", body), { case (status, resp) =>
        val n = resp.asInstanceOf[Map[String, Any]].get("result")
          .map(_.asInstanceOf[Map[String, Any]]("affected_rows")).getOrElse(-1L)
        val res = expect(status, n == InsertRows.toLong, s"insert: $n")
        if (res.isEmpty) insertsOk.incrementAndGet()
        res
      })
  }

  /** The window's load, untimed, for `WarmSeconds`: ticks and requests
    * get faster for that long as the JIT compiles them. */
  def warmup(): Unit = {
    val ops, ticks = new ConcurrentLinkedQueue[OpRecord]()
    val until = System.nanoTime() + (WarmSeconds * 1e9).toLong
    drive(() => System.nanoTime() >= until, ops, ticks, stream = 200)
    (ops.asScala ++ ticks.asScala).filterNot(_.ok).foreach(o => warmFailures += s"${o.kind}: ${o.error}")
    Seq(executorNs, executorCalls, catalogNs, catalogCalls, nonOk, tasksExecuted, tasksFailed,
      alertChecks, alertsTriggered).foreach(_.set(0))
  }

  def run(ctx: Context): Unit = drive(() => ctx.pastDeadline, ctx.ops, ctx.ticks, stream = 100)

  /** Cycles of one tick, then one round in which every client sends each
    * route once, until `over()` after a round. */
  private def drive(over: () => Boolean, ops: ConcurrentLinkedQueue[OpRecord],
                    ticks: ConcurrentLinkedQueue[OpRecord], stream: Int): Unit = {
    val turn = new CyclicBarrier(Clients + 1)
    val done = new AtomicBoolean(false)
    val clients = (0 until Clients).map(i =>
      new Thread(() => client(i, stream, turn, done, ops), s"perfbench-client-$i"))
    clients.foreach(_.start())
    do {
      val k = virtualTick.get.toInt + 1
      ctx.timed("tick", sink = ticks)(tick(k))(checkTick(k))
      turn.await()  // the round starts
      turn.await()  // every client has finished it
    } while (!over())
    done.set(true)
    turn.await()
    clients.foreach(_.join())
  }

  private def client(i: Int, stream: Int, turn: CyclicBarrier, done: AtomicBoolean,
                     sink: ConcurrentLinkedQueue[OpRecord]): Unit = {
    val http = HttpClient.newHttpClient()
    val rng = ctx.rng(stream + i)
    var seq = 0L
    while ({ turn.await(); !done.get }) {
      // a round sends every route once, in a seeded order, so the mix of
      // routes is the same in every run
      for (kind <- rng.shuffle(Routes)) {
        seq += 1
        val (send, check) = route(http, kind, 1 + rng.nextInt(taskSpecs.size),
          (stream + i) * 1000000L + seq)
        ctx.timed(kind, sink = sink, primary = false)(send())(check)
      }
      turn.await()
    }
  }

  private def expect(status: Int, ok: Boolean, what: => String): Option[String] =
    if (status != 200) { nonOk.incrementAndGet(); Some(s"HTTP $status: $what") }
    else if (!ok) Some(what) else None

  private def get(http: HttpClient, path: String): (Int, Any) =
    send(http, HttpRequest.newBuilder(URI.create(s"http://127.0.0.1:$port$path")).GET())

  private def post(http: HttpClient, path: String, body: String): (Int, Any) =
    send(http, HttpRequest.newBuilder(URI.create(s"http://127.0.0.1:$port$path"))
      .POST(HttpRequest.BodyPublishers.ofString(body)))

  private def send(http: HttpClient, b: HttpRequest.Builder): (Int, Any) = {
    val r = http.send(b.header("Authorization", s"Bearer $Token").build(),
      HttpResponse.BodyHandlers.ofString())
    (r.statusCode(), Json.parse(r.body()))
  }

  /** Every task run log of the warm-up and the window, and the rows in
    * Derby. `ticks` is the number of ticks started, whether or not they
    * returned, so a tick that threw still has its logs looked for. */
  def verify(): Json.JObj = {
    val logs = store.read[TaskLog]("task_logs").collect().toSeq
      .filter(_.executionTime.after(ts(t0)))
    val conn = java.sql.DriverManager.getConnection(s"jdbc:derby:$derbyPath")
    val derbyRows = try {
      val rs = conn.createStatement().executeQuery("SELECT count(*) FROM inbox")
      rs.next(); rs.getLong(1)
    } finally conn.close()
    val failed = scala.collection.mutable.ArrayBuffer.empty[String]
    if (derbyRows != insertsOk.get * InsertRows)
      failed += s"derby holds $derbyRows rows, expected ${insertsOk.get * InsertRows}"
    Json.obj(
      "task_logs" -> logs.sortBy(l => (l.executionTime.getTime, l.taskId)).map(l => Json.obj(
        "task" -> l.taskId, "tick" -> java.time.Duration.between(t0,
          l.executionTime.toLocalDateTime).toMinutes,
        "status" -> l.status, "message" -> l.message)),
      "ticks" -> virtualTick.get,
      "tasks" -> taskSpecs.map(_._1),
      "oracle_counts" -> oracleCounts,
      "alert_conditions" -> alertSpecs.map(a => a._1.toString -> Seq(a._3, a._4)).toMap,
      "tick_results" -> tickResults.toArray.toSeq.map(_.toString),
      "failed_checks" -> (warmFailures ++ failed).toSeq)
  }

  override def layerMetrics: Map[String, Any] = {
    val ticks = ctx.ticks.size.max(1).toDouble
    val tickMs = ctx.ticks.toArray.map(_.asInstanceOf[OpRecord].ms).sum
    val files = Option(new java.io.File(s"$root/task_logs").listFiles())
      .map(_.count(_.getName.endsWith(".parquet"))).getOrElse(0)
    def routeP50(kind: String) = Stats.median(ctx.ops.toArray.toSeq
      .map(_.asInstanceOf[OpRecord]).filter(_.kind == kind).map(_.ms))
    Map(
      "sched.executor_ms" -> executorNs.get / 1e6 / executorCalls.get.max(1),
      "sched.tick_self_ms" -> (tickMs - executorNs.get / 1e6) / ticks,
      "sched.tasks_executed" -> tasksExecuted.get / ticks,
      "sched.tasks_failed" -> tasksFailed.get / ticks,
      "alerts.checks" -> alertChecks.get / ticks,
      "alerts.triggered" -> alertsTriggered.get / ticks,
      "catalog.open_ms" -> catalogNs.get / 1e6 / catalogCalls.get.max(1),
      "catalog.task_log_files" -> files,
      "serve.route_p50_ms.tasks" -> routeP50("tasks"),
      "serve.route_p50_ms.task_logs" -> routeP50("task_logs"),
      "serve.route_p50_ms.insert" -> routeP50("insert"),
      "serve.non200" -> nonOk.get)
  }

  override def close(): Unit = if (api != null) api.stop()
}
