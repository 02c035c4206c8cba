package graft.serve

import java.net.InetSocketAddress
import java.nio.charset.StandardCharsets.UTF_8
import java.sql.Timestamp
import java.time.LocalDateTime

import com.sun.net.httpserver.{HttpExchange, HttpServer}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.{col, max, struct}

import graft.catalog.CatalogStore
import graft.catalog.Model._
import graft.sched.Cron

/** The reference's MUTATING REST surface — task / db-config / sql-script /
  * token CRUD plus run-now — over [[CatalogStore]] (web_scheduler.py routes;
  * exact request fields, response messages, and status codes preserved).
  * Complements [[HttpApi]] (the read/query surface). All handlers operate on
  * catalog METADATA (driver-small by definition); task execution itself is
  * dispatched through the pluggable executor, exactly like the scheduler's
  * tick path, so the data plane stays distributed.
  */
final class AdminApi(
    spark: SparkSession,
    store: CatalogStore,
    executor: Task => Either[String, String],
    alertService: Option[graft.alerts.AlertService] = None,
    currentUserId: () => Long = () => 1L,
    clock: () => LocalDateTime = () => LocalDateTime.now(),
    uploadsDir: String = "uploads",
    testMailer: (EmailConfig, String) => Either[String, Unit] =
      AdminApi.smtpTestMailer,
    taskNotifier: Option[graft.alerts.TaskNotifier] = None,
    sessionDir: Option[String] = None,
    /** The reference ships its debug surface UNAUTHENTICATED by design
      * (web_scheduler.py:2752-2754, :4491 — test-env token seeding with a
      * committed default credential). Parity keeps that default; hardened
      * deployments pass false and the routes are simply not registered. */
    debugEndpoints: Boolean = true,
    /** Share the SCHEDULER's in-flight set (Main wires Scheduler.inFlight
      * here) so a manual run-now cannot race the scheduled run of the same
      * task into a double execution; the default private instance still
      * dedups concurrent manual runs. */
    taskInFlight: graft.sched.InFlightGuard = new graft.sched.InFlightGuard,
    /** Likewise the orchestrator's alert guard (duplicate emails). */
    alertInFlight: graft.sched.InFlightGuard = new graft.sched.InFlightGuard) {

  private var server: HttpServer = _

  /** Live browser sessions: sid → userId. The reference persists these as
    * one file per session under flask_session/ (filesystem session store),
    * so logins survive a server restart; with `sessionDir` set this does
    * the same (one file per sid, loaded at start, deleted on logout).
    * Without it the map is in-memory-only — the unit-test deployment. */
  private val sessions = scala.collection.concurrent.TrieMap.empty[String, Long]

  /** Last-use time per sid (epoch millis on the injectable `clock`). The
    * 31-day TTL is enforced at LOAD and ON EVERY LOOKUP — load-only
    * culling would keep a leaked sid live for the whole uptime of a
    * long-running server — and active use REFRESHES the clock (file
    * mtime touched too), matching Flask's refresh-on-request permanent
    * sessions: an active user is never culled by a restart while an
    * abandoned sid ages out even without one. */
  private val sessionSeen = scala.collection.concurrent.TrieMap.empty[String, Long]

  private def nowMillis(): Long =
    clock().atZone(java.time.ZoneId.systemDefault()).toInstant.toEpochMilli

  /** sid → live userId: expired sessions are dropped (map + file) at
    * lookup; live ones are touched. */
  private def resolveSession(sid: String): Option[Long] =
    sessions.get(sid).flatMap { userId =>
      val now = nowMillis()
      val seen = sessionSeen.getOrElse(sid, now)
      if (now - seen > sessionTtlMillis) {
        sessions.remove(sid); sessionSeen.remove(sid); dropSession(sid)
        None
      } else {
        sessionSeen.put(sid, now)
        sessionDir.foreach(_ =>
          if (safeSid(sid)) sessionFile(sid).setLastModified(now))
        Some(userId)
      }
    }

  /** Server-minted sids are url-safe base64, but logout feeds this the
    * RAW client cookie — without the charset gate an unauthenticated
    * 'Cookie: session=../<path>' would delete files outside the session
    * dir. Anything failing the gate is simply not a session. */
  private def safeSid(sid: String): Boolean =
    sid.nonEmpty && sid.length <= 128 &&
      sid.forall(c => c.isLetterOrDigit || c == '-' || c == '_')

  private def sessionFile(sid: String): java.io.File =
    new java.io.File(sessionDir.get, sid)

  /** Sessions older than 31 days (Flask's PERMANENT_SESSION_LIFETIME
    * default — the reference's filesystem store culls on the same clock)
    * are dropped at load so a leaked sid is not valid forever. */
  private val sessionTtlMillis = 31L * 24 * 3600 * 1000

  private def loadSessions(): Unit = sessionDir.foreach { d =>
    val dir = new java.io.File(d); dir.mkdirs()
    val cutoff = nowMillis() - sessionTtlMillis
    Option(dir.listFiles()).getOrElse(Array.empty).foreach { f =>
      if (!safeSid(f.getName) || f.lastModified() < cutoff) f.delete()
      else
        try {
          sessions.put(f.getName,
            new String(java.nio.file.Files.readAllBytes(f.toPath), UTF_8).trim.toLong)
          sessionSeen.put(f.getName, f.lastModified())
        } catch { case _: Exception => f.delete() } // corrupt session → drop
    }
  }

  private def persistSession(sid: String, userId: Long): Unit =
    sessionDir.foreach { _ =>
      if (safeSid(sid)) {
        sessionFile(sid).getParentFile.mkdirs()
        java.nio.file.Files.write(sessionFile(sid).toPath,
          userId.toString.getBytes(UTF_8))
      }
    }

  private def dropSession(sid: String): Unit =
    sessionDir.foreach(_ => if (safeSid(sid)) sessionFile(sid).delete())
  private val sessionUser = new ThreadLocal[Option[Long]] {
    override def initialValue(): Option[Long] = None
  }
  /** Acting user: the session's owner, else the injected fallback (direct
    * unit-test construction). */
  private def uid(): Long = sessionUser.get().getOrElse(currentUserId())

  def start(port: Int = 0): Int = {
    seedDefaultAdmin()
    loadSessions()
    server = HttpServer.create(new InetSocketAddress("127.0.0.1", port), 0)
    server.createContext("/api/login", exchange(routeLogin))
    server.createContext("/api/logout", exchange(routeLogout))
    server.createContext("/api/tasks", exchange(routeTasks))
    server.createContext("/api/db-configs", exchange(routeDbConfigs))
    server.createContext("/api/sql-scripts", exchange(routeSqlScripts))
    server.createContext("/api/sql-alerts", exchange(routeSqlAlerts))
    if (debugEndpoints) {
      // longest-prefix matching sends the -debug path here, not sql-alerts
      server.createContext("/api/sql-alerts-debug", exchange(routeSqlAlertsDebug))
      server.createContext("/api/debug/add-token", exchange(routeDebugAddToken))
    }
    server.createContext("/api/email-configs", exchange(routeEmailConfigs))
    server.createContext("/api/task-alerts", exchange(routeTaskAlerts))
    server.createContext("/api/users", exchange(routeUsers))
    server.createContext("/api/users/tokens", exchange(routeTokens))
    server.createContext("/api/users/generate-token", exchange(routeGenerateToken))
    server.createContext("/api/upload", exchange(routeUpload))
    server.createContext("/api/python-scripts", exchange(routePythonScripts))
    server.createContext("/api/task-logs", exchange(routeTaskLogsRead))
    // static dashboard — the reference's template layer (web_scheduler.py:
    // 1585-1603 render_template routes) as ONE fetch-driven page; JDK
    // HttpServer picks the longest context prefix, so /api/* always wins
    server.createContext("/", serveUi _)
    // 4 handler threads — the reference's gunicorn worker count
    // (gunicorn.conf.py:8). Safe under concurrency because catalog
    // mutations serialize on `writeLock` below.
    pool = java.util.concurrent.Executors.newFixedThreadPool(4)
    server.setExecutor(pool)
    server.start()
    server.getAddress.getPort
  }

  private var pool: java.util.concurrent.ExecutorService = _

  /** Stop accepting, then DRAIN the handler pool: HttpServer.stop does not
    * shut down a user-supplied executor, and live handler threads racing
    * `SparkSession.stop()` at JVM exit flood stderr with
    * RejectedExecutionException noise. Returns false if a handler was
    * still running after the grace period (callers deciding whether a
    * global materialization drain is safe must check). */
  def stop(): Boolean = server == null || {
    server.stop(0)
    pool.shutdown()
    pool.awaitTermination(10, java.util.concurrent.TimeUnit.SECONDS)
  }

  // ---- plumbing ---------------------------------------------------------

  /** Serializes catalog MUTATIONS: every id allocation is read-max-then-
    * upsert, so two concurrent POSTs would mint the same id and the second
    * upsert would silently overwrite the first row. The reference gets this
    * for free from SQLite's write lock + AUTOINCREMENT; here the mutating
    * request path holds this lock. Run-now is the exception — it executes
    * a (possibly slow) task and must NOT starve other mutations, so it runs
    * unlocked and takes the lock only around its own log-append/update. */
  private val writeLock = new Object

  private def exchange(f: (HttpExchange, String, Seq[String]) => (Int, Any))
                      (ex: HttpExchange): Unit = {
    val (status, body) =
      try {
        val segs = ex.getRequestURI.getPath.split('/').toSeq.filter(_.nonEmpty)
        // serving threads share the FAIR pool so a long scheduler job
        // can't head-of-line-block an API query
        graft.core.GraftSession.usePool(spark, graft.core.GraftSession.ServePool)
        sessionUser.set(cookieSid(ex).flatMap(resolveSession))
        val isAuthRoute =
          segs == Seq("api", "login") || segs == Seq("api", "logout") ||
          // deliberately unauthenticated debug surface (web_scheduler.py:
          // 2752-2754 "不需要认证", :4491-4495 test-env token seeding)
          segs == Seq("api", "sql-alerts-debug") ||
          segs == Seq("api", "debug", "add-token")
        if (!isAuthRoute && sessionUser.get().isEmpty)
          // login_required (web_scheduler.py:1741-1748): every mutating/
          // admin route needs a session; only login/logout are open. The
          // API-token surface (/api/database/insert) lives on HttpApi.
          (401, Json.obj("error" -> "未授权访问"))
        else {
          // slow EXECUTION routes run unlocked (their own guards/locks
          // cover their writes): run-now, the manual alert check (a slow
          // SQL + SMTP round-trip), and the SMTP connectivity test — held
          // under writeLock these starved login and every CRUD for their
          // full duration
          val slowExecution = AdminApi.isSlowExecutionRoute(
            ex.getRequestMethod, segs)
          val mutating = ex.getRequestMethod != "GET" && !slowExecution
          if (mutating) writeLock.synchronized { f(ex, ex.getRequestMethod, segs) }
          else f(ex, ex.getRequestMethod, segs)
        }
      } catch { case e: Throwable => (500, Json.obj("error" -> e.getMessage))
      // request end is this handler thread's materialization boundary:
      // anything a run-now's executor tracked (Jdbc.runScript snapshots)
      // was counted while computing the response — drain THIS thread's
      // scope so serve-only deployments (no daemon loop in the JVM) don't
      // accumulate blocks across requests. Per-owner scoping means a
      // concurrent daemon tick can't touch these frames mid-request.
      } finally graft.core.Mat.releaseAll()
    val bytes = Json.render(body).getBytes(UTF_8)
    ex.getResponseHeaders.set("Content-Type", "application/json")
    ex.sendResponseHeaders(status, bytes.length)
    val os = ex.getResponseBody
    os.write(bytes); os.close()
  }

  private def jsonBody(ex: HttpExchange): Map[String, Any] =
    Json.parse(new String(ex.getRequestBody.readAllBytes(), UTF_8)) match {
      case m: Map[_, _] => m.asInstanceOf[Map[String, Any]]
      case _ => Map.empty
    }

  private def ts(t: LocalDateTime): Timestamp = Timestamp.valueOf(t)
  private def nextId(ids: Seq[Long]): Long = if (ids.isEmpty) 1L else ids.max + 1

  // ---- session auth -----------------------------------------------------

  private def cookieSid(ex: HttpExchange): Option[String] =
    Option(ex.getRequestHeaders.getFirst("Cookie")).flatMap(
      _.split(';').map(_.trim).collectFirst {
        case c if c.startsWith("session=") => c.stripPrefix("session=")
      }).filter(_.nonEmpty)

  /** First boot with an empty users table seeds admin/admin123, exactly
    * like the reference's init_db (web_scheduler.py:682-698). */
  private def seedDefaultAdmin(): Unit = writeLock.synchronized {
    val users = store.read[User]("users").collect()
    if (users.isEmpty)
      store.upsert[User]("users", Seq(User(1L, "admin",
        Serve.Auth.hashPassword("admin123", Serve.Auth.newSalt()),
        ts(clock()))), _.id)
  }

  /** POST /api/login (web_scheduler.py:1626-1673, JSON arm): verify
    * credentials, mint a session id, set the cookie. Golden messages. */
  private def routeLogin(ex: HttpExchange, method: String,
                         segs: Seq[String]): (Int, Any) = {
    if (method != "POST") return (405, Json.obj("error" -> "method not allowed"))
    val d = jsonBody(ex)
    val user = str(d, "username").flatMap(u =>
      store.read[User]("users").collect().find(_.username == u))
    user.filter(u => Serve.Auth.verifyPassword(
        str(d, "password").getOrElse(""), u.passwordHash)) match {
      case Some(u) =>
        val sid = Serve.Auth.newToken()
        sessions.put(sid, u.id)
        sessionSeen.put(sid, nowMillis())
        persistSession(sid, u.id)
        ex.getResponseHeaders.add("Set-Cookie",
          s"session=$sid; Path=/; HttpOnly")
        (200, Json.obj("message" -> "登录成功", "redirect" -> "/"))
      case None => (401, Json.obj("error" -> "用户名或密码错误"))
    }
  }

  /** /api/logout (web_scheduler.py:1680-1685): clear the session. */
  private def routeLogout(ex: HttpExchange, method: String,
                          segs: Seq[String]): (Int, Any) = {
    cookieSid(ex).foreach { sid =>
      sessions.remove(sid); sessionSeen.remove(sid); dropSession(sid)
    }
    ex.getResponseHeaders.add("Set-Cookie",
      "session=; Path=/; HttpOnly; Max-Age=0")
    (200, Json.obj("message" -> "已退出登录"))
  }

  private def str(m: Map[String, Any], k: String): Option[String] =
    m.get(k).collect { case s: String if s.nonEmpty => s }
  private def num(m: Map[String, Any], k: String): Option[Long] =
    m.get(k).collect { case n: Long => n; case d: Double => d.toLong }

  // ---- /api/tasks -------------------------------------------------------

  private def serveUi(ex: HttpExchange): Unit = {
    val path = ex.getRequestURI.getPath
    val (status, body) =
      if (ex.getRequestMethod == "GET" && (path == "/" || path == "/index.html"))
        (200, Ui.indexHtml)
      else (404, "not found")
    val bytes = body.getBytes(UTF_8)
    ex.getResponseHeaders.set("Content-Type",
      if (status == 200) "text/html; charset=utf-8" else "text/plain; charset=utf-8")
    ex.sendResponseHeaders(status, bytes.length)
    val os = ex.getResponseBody
    os.write(bytes); os.close()
  }

  /** GET /api/task-logs/{id} — session-authed read for the dashboard's log
    * panel (the reference's web UI reads logs from the same session-authed
    * app; the token-authed paginated variant lives on HttpApi). task_logs
    * grows unboundedly under a 1 s-tick daemon, so the id filter and the
    * recent-50 window run IN SPARK (filter pushdown + TakeOrdered) — only
    * the page reaches the driver. */
  private def routeTaskLogsRead(ex: HttpExchange, method: String,
                                segs: Seq[String]): (Int, Any) = (method, segs) match {
    case ("GET", Seq("api", "task-logs", IdSeg(id))) =>
      if (store.read[Task]("tasks").filter(col("id") === id).isEmpty)
        (404, Json.obj("message" -> "任务不存在"))
      else {
        val logs = store.read[TaskLog]("task_logs")
          .filter(col("taskId") === id)
          .orderBy(col("executionTime").desc)
          .limit(50).collect()
          .map(l => Json.obj("status" -> l.status, "message" -> l.message,
            "execution_time" -> l.executionTime))
        (200, Json.obj("logs" -> logs.toSeq))
      }
    case _ => (404, Json.obj("error" -> "not found"))
  }

  private def routeTasks(ex: HttpExchange, method: String,
                         segs: Seq[String]): (Int, Any) = (method, segs) match {
    case ("GET", Seq("api", "tasks")) => listTasks()
    case ("POST", Seq("api", "tasks")) => createTask(jsonBody(ex))
    case ("GET", Seq("api", "tasks", IdSeg(id))) => getTask(id)
    case ("PUT", Seq("api", "tasks", IdSeg(id))) => updateTask(id, jsonBody(ex))
    case ("DELETE", Seq("api", "tasks", IdSeg(id))) => deleteTask(id)
    case ("POST", Seq("api", "tasks", IdSeg(id), "toggle")) => toggleTask(id)
    case ("POST", Seq("api", "tasks", IdSeg(id), "run")) => runNow(id)
    case ("GET", Seq("api", "tasks", IdSeg(id), "latest-log")) => latestLog(id)
    case _ => (404, Json.obj("error" -> "not found"))
  }

  /** GET /api/tasks/{id}/latest-log (web_scheduler.py:5084-5135). */
  private def latestLog(id: Long): (Int, Any) =
    tasks().find(_.id == id) match {
      case None => (404, Json.obj("message" -> "任务不存在"))
      case Some(t) =>
        latestTaskLog(id) match {
          case None if t.taskType == "sql" && t.sqlScriptId.isDefined =>
            (200, Json.obj("message" -> s"暂无执行日志（SQL脚本ID: ${t.sqlScriptId.get}）"))
          case None => (200, Json.obj("message" -> "暂无执行日志"))
          case Some(l) =>
            val msg = if (t.taskType == "sql" && t.sqlScriptId.isDefined)
              s"[SQL脚本ID: ${t.sqlScriptId.get}] ${l.message}" else l.message
            (200, Json.obj("task_name" -> t.name, "status" -> l.status,
              "message" -> msg, "execution_time" -> l.executionTime))
        }
    }

  private object IdSeg {
    def unapply(s: String): Option[Long] = s.toLongOption
  }

  private def tasks(): Seq[Task] = store.read[Task]("tasks").collect().toSeq

  /** Most recent log row for a task — filter + TakeOrdered(1) in Spark:
    * the log tables are the unbounded catalog tables under a days-long
    * 1 s-tick daemon; past CatalogStore's SnapshotMaxRows they are scanned,
    * not held on the driver, and only single rows may reach it. */
  private def latestTaskLog(id: Long): Option[TaskLog] =
    store.read[TaskLog]("task_logs").filter(col("taskId") === id)
      .orderBy(col("executionTime").desc).limit(1).collect().headOption

  /** Most recent alert audit row (optionally only rows carrying a details
    * transcript) — same Spark-side shape as [[latestTaskLog]]. */
  private def latestAlertLog(id: Long,
                             withDetails: Boolean = false): Option[SqlAlertLog] = {
    val logs = store.read[SqlAlertLog]("sql_alert_logs")
      .filter(col("alertId") === id)
    val wanted = if (withDetails)
      logs.filter(col("details").isNotNull && col("details") =!= "") else logs
    wanted.orderBy(col("executionTime").desc).limit(1).collect().headOption
  }

  /** GET /api/tasks — session-authed list for the dashboard (the reference
    * renders the same rows into templates/index.html; the token-authed
    * filtered variant lives on HttpApi). Newest first, like the reference.
    * Latest status aggregates IN SPARK (one map-combined max-struct per
    * task) — task_logs is the one catalog table that is NOT driver-small
    * in a long-lived deployment (past CatalogStore's SnapshotMaxRows it is
    * scanned, not held on the driver). */
  private def listTasks(): (Int, Any) = {
    val latest = store.read[TaskLog]("task_logs")
      .groupBy("taskId")
      .agg(max(struct(col("executionTime"), col("status"))).as("m"))
      .select(col("taskId"), col("m.status"))
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    val list = tasks().sortBy(-_.id).map { t =>
      Json.obj(
        "id" -> t.id, "name" -> t.name, "task_type" -> t.taskType,
        "script_path" -> t.scriptPath.orNull,
        "sql_script_id" -> t.sqlScriptId.orNull,
        "schedule_interval" -> t.scheduleInterval,
        "cron_expression" -> t.cronExpression.orNull,
        "last_run" -> t.lastRun.orNull, "next_run" -> t.nextRun.orNull,
        "is_active" -> t.isActive,
        "latest_status" -> latest.get(t.id).orNull)
    }
    (200, Json.obj("tasks" -> list))
  }

  /** POST /api/tasks (web_scheduler.py:4794-4864): name+task_type required;
    * dependencies list → CSV; cron validated (400 on bad expression) and
    * used for next_run, else now+interval. */
  private def createTask(d: Map[String, Any]): (Int, Any) = {
    if (str(d, "name").isEmpty || str(d, "task_type").isEmpty)
      return (400, Json.obj("error" -> "缺少必要字段"))
    val now = clock()
    val cronExpr = str(d, "cron_expression")
    val interval = if (cronExpr.isDefined) 0L
                   else num(d, "schedule_interval").getOrElse(0L)
    val nextRun = cronExpr match {
      case Some(c) =>
        try Cron.next(c, now)
        catch { case e: Exception =>
          return (400, Json.obj("error" -> s"无效的Cron表达式: ${e.getMessage}")) }
      case None => now.plusSeconds(interval)
    }
    val deps = d.get("dependencies").collect {
      case v: Vector[_] if v.nonEmpty => v.mkString(",")
    }
    val existing = tasks()
    val id = nextId(existing.map(_.id))
    store.upsert[Task]("tasks", Seq(Task(
      id = id, name = str(d, "name").get, taskType = str(d, "task_type").get,
      scriptPath = str(d, "script_path"),
      sqlScriptId = num(d, "sql_script_id"),
      scheduleInterval = interval,
      lastRun = None, nextRun = Some(ts(nextRun)), isActive = true,
      dependencies = deps,
      maxRetries = num(d, "max_retries").getOrElse(0L).toInt,
      retryDelay = num(d, "retry_delay").getOrElse(60L).toInt,
      cronExpression = cronExpr, createdAt = ts(now))), _.id)
    (200, Json.obj("id" -> id, "message" -> "任务创建成功"))
  }

  /** GET /api/tasks/{id} (web_scheduler.py:4735-4792). */
  private def getTask(id: Long): (Int, Any) =
    tasks().find(_.id == id) match {
      case None => (404, Json.obj("error" -> "任务不存在"))
      case Some(t) =>
        val scriptName = t.sqlScriptId.flatMap(sid =>
          store.read[SqlScript]("sql_scripts").collect().find(_.id == sid))
          .filter(_ => t.taskType == "sql").map(_.name)
        val deps = t.dependencies.getOrElse("").split(',')
          .filter(_.nonEmpty).flatMap(_.trim.toLongOption).toSeq
        (200, Json.obj(
          "id" -> t.id, "name" -> t.name, "task_type" -> t.taskType,
          "script_path" -> t.scriptPath.orNull,
          "sql_script_id" -> t.sqlScriptId.orNull,
          "sql_script_name" -> scriptName.orNull,
          "schedule_interval" -> t.scheduleInterval,
          "last_run" -> t.lastRun.orNull, "next_run" -> t.nextRun.orNull,
          "is_active" -> t.isActive, "dependencies" -> deps,
          "max_retries" -> t.maxRetries, "retry_delay" -> t.retryDelay,
          "cron_expression" -> t.cronExpression.orNull))
    }

  /** PUT /api/tasks/{id} (web_scheduler.py:4866-4945): partial update;
    * a VALID cron recomputes next_run, an invalid one leaves it alone. */
  private def updateTask(id: Long, d: Map[String, Any]): (Int, Any) =
    tasks().find(_.id == id) match {
      case None => (404, Json.obj("error" -> "任务不存在"))
      case Some(t) =>
        val cronExpr = str(d, "cron_expression").orElse(t.cronExpression)
        val nextRun = cronExpr.flatMap { c =>
          try Some(ts(Cron.next(c, clock()))) catch { case _: Exception => None }
        }.orElse(t.nextRun)
        val deps = d.get("dependencies").collect {
          case v: Vector[_] if v.nonEmpty => v.mkString(",")
        }.orElse(t.dependencies)
        store.upsert[Task]("tasks", Seq(t.copy(
          name = str(d, "name").getOrElse(t.name),
          taskType = str(d, "task_type").getOrElse(t.taskType),
          scriptPath = str(d, "script_path").orElse(t.scriptPath),
          sqlScriptId = num(d, "sql_script_id").orElse(t.sqlScriptId),
          scheduleInterval = num(d, "schedule_interval").getOrElse(t.scheduleInterval),
          dependencies = deps,
          maxRetries = num(d, "max_retries").getOrElse(t.maxRetries.toLong).toInt,
          retryDelay = num(d, "retry_delay").getOrElse(t.retryDelay.toLong).toInt,
          cronExpression = cronExpr, nextRun = nextRun)), _.id)
        (200, Json.obj("message" -> "任务更新成功"))
    }

  /** POST /api/tasks/{id}/toggle (web_scheduler.py:4947-4964) — F12. */
  private def toggleTask(id: Long): (Int, Any) = {
    tasks().find(_.id == id).foreach(t =>
      store.upsert[Task]("tasks", Seq(t.copy(isActive = !t.isActive)), _.id))
    (200, Json.obj("message" -> "任务状态已更新"))
  }

  /** DELETE /api/tasks/{id} (web_scheduler.py:4966-4992). */
  private def deleteTask(id: Long): (Int, Any) =
    if (tasks().forall(_.id != id)) (404, Json.obj("error" -> "任务不存在"))
    else {
      store.delete[Task]("tasks", _.id == id)
      (200, Json.obj("message" -> "任务已删除"))
    }

  /** POST /api/tasks/{id}/run (web_scheduler.py:4994-5082): execute through
    * the pluggable executor, append the run log, stamp last_run. */
  private def runNow(id: Long): (Int, Any) =
    tasks().find(_.id == id) match {
      case None => (404, Json.obj("error" -> "任务不存在"))
      case Some(t) if t.taskType == "python" && t.scriptPath.isEmpty =>
        (400, Json.obj("error" -> "任务类型不支持或配置不完整"))
      case Some(t) if t.taskType == "sql" && t.sqlScriptId.isEmpty =>
        (400, Json.obj("error" -> "任务类型不支持或配置不完整"))
      case Some(t) =>
        // share the scheduler's in-flight set: a manual run racing the
        // scheduled run of this task would double-execute it (double
        // truncate-load); same guard, same dedup
        if (!taskInFlight.tryAcquire(t.id))
          (409, Json.obj("error" -> "任务正在执行中"))
        else try {
          val now = clock()
          val (status, message) = executor(t) match {
            case Right(_) => ("success", "任务执行成功")
            case Left(err) => ("failed", s"任务执行失败: $err")
          }
          writeLock.synchronized {
            // id allocation needs only max(id) — an aggregate, never a
            // full collect of the unbounded log table
            val maxLogId = store.read[TaskLog]("task_logs").agg(max("id"))
              .head().get(0) match { case null => 0L; case v => v.asInstanceOf[Long] }
            import spark.implicits._
            store.append(Seq(TaskLog(maxLogId + 1, t.id, status,
              message, ts(now))).toDS(), "task_logs")
            // the reference notifies on manual SQL runs too (web_scheduler.py:5050-5055)
            if (t.taskType == "sql") taskNotifier.foreach(_.notify(t.id, status, message))
            // stamp lastRun on the CURRENT row (updateRows re-reads under
            // the table lock): upserting the pre-run snapshot `t` silently
            // reverted any admin edit that landed during execution
            store.updateRows[Task]("tasks", _.id == t.id,
              _.copy(lastRun = Some(ts(now))))
          }
          (200, Json.obj("message" -> message))
        } finally taskInFlight.release(t.id)
    }

  // ---- /api/db-configs --------------------------------------------------

  private def routeDbConfigs(ex: HttpExchange, method: String,
                             segs: Seq[String]): (Int, Any) = (method, segs) match {
    case ("GET", Seq("api", "db-configs")) =>
      val list = store.read[DbConfig]("db_configs").collect().sortBy(-_.id).map(c =>
        Json.obj("id" -> c.id, "name" -> c.name, "db_type" -> c.dbType,
          "host" -> c.host, "port" -> c.port, "username" -> c.username,
          "password" -> c.password, "created_at" -> c.createdAt))
      (200, list.toSeq)
    case ("POST", Seq("api", "db-configs")) =>
      val d = jsonBody(ex)
      val existing = store.read[DbConfig]("db_configs").collect().toSeq
      val id = nextId(existing.map(_.id))
      store.upsert[DbConfig]("db_configs", Seq(DbConfig(
        id, str(d, "name").getOrElse(""), str(d, "db_type").getOrElse(""),
        str(d, "host").getOrElse(""), num(d, "port").getOrElse(0L).toInt,
        str(d, "username").getOrElse(""), str(d, "password").getOrElse(""),
        str(d, "database"), ts(clock()))), _.id)
      (200, Json.obj("message" -> "数据库配置创建成功", "id" -> id))
    case ("PUT", Seq("api", "db-configs", IdSeg(id))) =>
      val d = jsonBody(ex)
      store.read[DbConfig]("db_configs").collect().find(_.id == id).foreach(c =>
        store.upsert[DbConfig]("db_configs", Seq(c.copy(
          name = str(d, "name").getOrElse(c.name),
          dbType = str(d, "db_type").getOrElse(c.dbType),
          host = str(d, "host").getOrElse(c.host),
          port = num(d, "port").getOrElse(c.port.toLong).toInt,
          username = str(d, "username").getOrElse(c.username),
          password = str(d, "password").getOrElse(c.password))), _.id))
      (200, Json.obj("message" -> "数据库配置更新成功"))
    case ("DELETE", Seq("api", "db-configs", IdSeg(id))) =>
      // FK guard: scripts still referencing this config block deletion
      // (web_scheduler.py:3920-3938)
      val inUse = store.read[SqlScript]("sql_scripts").collect()
        .count(_.dbConfigId.contains(id))
      if (inUse > 0)
        (400, Json.obj("error" -> s"有${inUse}个SQL脚本正在使用此数据库配置，无法删除"))
      else {
        store.delete[DbConfig]("db_configs", _.id == id)
        (200, Json.obj("message" -> "数据库配置删除成功"))
      }
    case _ => (404, Json.obj("error" -> "not found"))
  }

  // ---- /api/sql-scripts -------------------------------------------------

  private def routeSqlScripts(ex: HttpExchange, method: String,
                              segs: Seq[String]): (Int, Any) = {
    def cfgName(s: SqlScript): Any = s.dbConfigId.flatMap(cid =>
      store.read[DbConfig]("db_configs").collect().find(_.id == cid))
      .map(_.name).orNull
    def render(s: SqlScript) = Json.obj(
      "id" -> s.id, "name" -> s.name, "db_config_id" -> s.dbConfigId.orNull,
      "sql_content" -> s.sqlContent, "created_at" -> s.createdAt,
      "db_config_name" -> cfgName(s))
    (method, segs) match {
      case ("GET", Seq("api", "sql-scripts")) =>
        val list = store.read[SqlScript]("sql_scripts").collect()
          .sortBy(-_.id).map(render)
        (200, Json.obj("sql_scripts" -> list.toSeq))
      case ("GET", Seq("api", "sql-scripts", IdSeg(id))) =>
        store.read[SqlScript]("sql_scripts").collect().find(_.id == id) match {
          case None => (404, Json.obj("error" -> "SQL脚本不存在"))
          case Some(s) => (200, render(s))
        }
      case ("POST", Seq("api", "sql-scripts")) =>
        val d = jsonBody(ex)
        val existing = store.read[SqlScript]("sql_scripts").collect().toSeq
        val id = nextId(existing.map(_.id))
        store.upsert[SqlScript]("sql_scripts", Seq(SqlScript(
          id, str(d, "name").getOrElse(""), num(d, "db_config_id"),
          str(d, "sql_content").getOrElse(""), ts(clock()))), _.id)
        (200, Json.obj("message" -> "SQL脚本创建成功", "id" -> id))
      case ("PUT", Seq("api", "sql-scripts", IdSeg(id))) =>
        val d = jsonBody(ex)
        store.read[SqlScript]("sql_scripts").collect().find(_.id == id).foreach(s =>
          store.upsert[SqlScript]("sql_scripts", Seq(s.copy(
            name = str(d, "name").getOrElse(s.name),
            dbConfigId = num(d, "db_config_id").orElse(s.dbConfigId),
            sqlContent = str(d, "sql_content").getOrElse(s.sqlContent))), _.id))
        (200, Json.obj("message" -> "SQL脚本更新成功"))
      case ("DELETE", Seq("api", "sql-scripts", IdSeg(id))) =>
        store.delete[SqlScript]("sql_scripts", _.id == id)
        (200, Json.obj("message" -> "SQL脚本删除成功"))
      case _ => (404, Json.obj("error" -> "not found"))
    }
  }

  // ---- /api/sql-alerts --------------------------------------------------

  /** SQL-alert CRUD + manual check (web_scheduler.py:2714-3098 and the
    * `_check_sql_alert_internal` lifecycle 3116-3613 via
    * [[graft.alerts.AlertService]]). */
  private def routeSqlAlerts(ex: HttpExchange, method: String,
                             segs: Seq[String]): (Int, Any) = (method, segs) match {
    case ("GET", Seq("api", "sql-alerts")) =>
      val scripts = store.read[SqlScript]("sql_scripts").collect()
      val cfgs = store.read[EmailConfig]("email_configs").collect()
      val list = store.read[SqlAlert]("sql_alerts").collect().sortBy(-_.id).map { a =>
        Json.obj(
          "id" -> a.id, "name" -> a.name, "sql_script_id" -> a.sqlScriptId,
          "email_config_id" -> a.emailConfigId.orNull,
          "recipients" -> a.recipients, "condition_type" -> a.conditionType,
          "threshold" -> a.threshold, "is_enabled" -> a.isEnabled,
          "last_check" -> a.lastCheck.orNull,
          "cron_expression" -> a.cronExpression.orNull,
          "next_check" -> a.nextCheck.orNull,
          // frontend-alias fields the reference adds (web_scheduler.py:2735-2742)
          "emails" -> a.recipients, "enabled" -> a.isEnabled,
          "script_name" -> scripts.find(_.id == a.sqlScriptId).map(_.name).orNull,
          "email_config_name" -> a.emailConfigId
            .flatMap(id => cfgs.find(_.id == id)).map(_.configName).orNull,
          "condition" -> a.conditionType)
      }
      (200, Json.obj("alerts" -> list.toSeq))

    case ("POST", Seq("api", "sql-alerts")) =>
      val d = jsonBody(ex)
      val name = str(d, "name")
      val scriptId = num(d, "sql_script_id").orElse(num(d, "script_id"))
      val recipients = str(d, "recipients").orElse(str(d, "emails"))
      if (name.isEmpty || scriptId.isEmpty || recipients.isEmpty)
        return (400, Json.obj("error" -> "缺少必要参数"))
      val script = store.read[SqlScript]("sql_scripts").collect()
        .find(s => scriptId.contains(s.id))
      script match {
        case None => (400, Json.obj("error" -> "SQL脚本不存在"))
        case Some(s) if s.dbConfigId.isEmpty =>
          (400, Json.obj("error" ->
            "SQL脚本没有关联的数据库配置，请先编辑SQL脚本并选择数据库配置"))
        case Some(_) =>
          // email config fallback: explicit → default → first → error
          val cfgs = store.read[EmailConfig]("email_configs").collect()
          val emailCfg = num(d, "email_config_id")
            .orElse(cfgs.find(_.isDefault).map(_.id))
            .orElse(cfgs.sortBy(_.id).headOption.map(_.id))
          if (emailCfg.isEmpty)
            return (400, Json.obj("error" -> "请先配置邮件服务器"))
          val cronExpr = str(d, "cron_expression")
          val nextCheck = cronExpr match {
            case Some(c) =>
              try Some(ts(Cron.next(c, clock())))
              catch { case _: Exception =>
                return (400, Json.obj("error" -> s"无效的cron表达式: $c")) }
            case None => None
          }
          val existing = store.read[SqlAlert]("sql_alerts").collect().toSeq
          val id = nextId(existing.map(_.id))
          store.upsert[SqlAlert]("sql_alerts", Seq(SqlAlert(
            id, name.get, scriptId.get, emailCfg, recipients.get,
            str(d, "condition_type").orElse(str(d, "condition"))
              .getOrElse("not_empty"),
            num(d, "threshold").getOrElse(1L),
            d.get("is_enabled").orElse(d.get("enabled"))
              .collect { case b: Boolean => b }.getOrElse(true),
            None, cronExpr, nextCheck)), _.id)
          (201, Json.obj("id" -> id, "message" -> "SQL预警创建成功"))
      }

    case ("PUT", Seq("api", "sql-alerts", IdSeg(id))) =>
      // partial update (web_scheduler.py:2918-3071): a provided cron is
      // validated and recomputes next_check; an EMPTY cron clears it
      val d = jsonBody(ex)
      store.read[SqlAlert]("sql_alerts").collect().find(_.id == id) match {
        case None => (404, Json.obj("error" -> "SQL预警不存在"))
        case Some(a) =>
          val cronProvided = d.contains("cron_expression")
          val cronExpr = str(d, "cron_expression")
          val nextCheck: Option[Timestamp] =
            if (!cronProvided) a.nextCheck
            else cronExpr match {
              case Some(c) =>
                try Some(ts(Cron.next(c, clock())))
                catch { case _: Exception =>
                  return (400, Json.obj("error" -> s"无效的cron表达式: $c")) }
              case None => None // empty cron clears next_check (:3023)
            }
          val updated = a.copy(
            name = str(d, "name").getOrElse(a.name),
            sqlScriptId = num(d, "sql_script_id").orElse(num(d, "script_id"))
              .getOrElse(a.sqlScriptId),
            emailConfigId = num(d, "email_config_id")
              .map(Option(_)).getOrElse(a.emailConfigId),
            recipients = str(d, "recipients").orElse(str(d, "emails"))
              .getOrElse(a.recipients),
            conditionType = str(d, "condition_type").orElse(str(d, "condition"))
              .getOrElse(a.conditionType),
            threshold = num(d, "threshold").getOrElse(a.threshold),
            isEnabled = d.get("is_enabled").orElse(d.get("enabled"))
              .collect { case b: Boolean => b }.getOrElse(a.isEnabled),
            cronExpression = if (cronProvided) cronExpr else a.cronExpression,
            nextCheck = nextCheck)
          store.upsert[SqlAlert]("sql_alerts", Seq(updated), _.id)
          (200, Json.obj("success" -> true, "message" -> "SQL预警更新成功",
            "alert" -> Json.obj("id" -> updated.id, "name" -> updated.name,
              "sql_script_id" -> updated.sqlScriptId,
              "email_config_id" -> updated.emailConfigId.orNull,
              "recipients" -> updated.recipients,
              "condition_type" -> updated.conditionType,
              "threshold" -> updated.threshold,
              "is_enabled" -> updated.isEnabled,
              "cron_expression" -> updated.cronExpression.orNull,
              "next_check" -> updated.nextCheck.orNull)))
      }

    case ("GET", Seq("api", "sql-alerts", IdSeg(id), "latest-log")) =>
      store.read[SqlAlert]("sql_alerts").collect().find(_.id == id) match {
        case None => (404, Json.obj("message" -> "SQL预警不存在"))
        case Some(a) =>
          latestAlertLog(id) match {
            case None => (200, Json.obj("message" -> "暂无执行日志"))
            case Some(l) => (200, Json.obj("alert_name" -> a.name,
              "status" -> l.status, "message" -> l.message,
              "execution_time" -> l.executionTime))
          }
      }

    case ("GET", Seq("api", "sql-alerts", IdSeg(id), "latest-log-details")) =>
      store.read[SqlAlert]("sql_alerts").collect().find(_.id == id) match {
        case None => (404, Json.obj("message" -> "SQL预警不存在"))
        case Some(a) =>
          latestAlertLog(id, withDetails = true) match {
            case None => (200, Json.obj("message" -> "暂无执行日志"))
            case Some(l) => (200, Json.obj("alert_name" -> a.name,
              "status" -> l.status, "message" -> l.message,
              "execution_time" -> l.executionTime,
              "details" -> l.details.orNull))
          }
      }

    case ("DELETE", Seq("api", "sql-alerts", IdSeg(id))) =>
      if (store.read[SqlAlert]("sql_alerts").collect().forall(_.id != id))
        (404, Json.obj("error" -> "预警不存在"))
      else {
        store.delete[SqlAlert]("sql_alerts", _.id == id)
        (200, Json.obj("success" -> true, "message" -> "SQL预警删除成功"))
      }

    case ("POST", Seq("api", "sql-alerts", IdSeg(id), "check")) =>
      val svc = alertService.getOrElse(
        return (500, Json.obj("error" -> "alert service not configured")))
      store.read[SqlAlert]("sql_alerts").collect().find(_.id == id) match {
        case None => (404, Json.obj("error" -> "预警不存在"))
        case Some(a) if !a.isEnabled => (400, Json.obj("error" -> "预警已禁用"))
        case Some(a) if !alertInFlight.tryAcquire(id) =>
          // shares the orchestrator's guard: a manual check racing the
          // scheduled check of one alert would send duplicate emails
          (409, Json.obj("error" -> "预警正在检查中"))
        case Some(a) =>
          try svc.check(id) match {
            case Left(err) => (500, Json.obj("error" -> s"检查SQL预警失败: $err"))
            case Right(res) =>
              // email outcome is recorded in the audit log by the service
              val emailSent = latestAlertLog(id).exists(_.status == "triggered")
              if (res.triggered)
                (200, Json.obj("success" -> true,
                  "message" -> "SQL预警触发，已发送邮件通知",
                  "result_count" -> res.rowCount, "triggered" -> true,
                  "condition_text" -> graft.alerts.Condition
                    .describe(a.conditionType, a.threshold),
                  "email_sent" -> emailSent))
              else
                (200, Json.obj("success" -> true,
                  "message" -> "SQL检查完成，未触发预警",
                  "result_count" -> res.rowCount, "triggered" -> false,
                  "condition_text" -> graft.alerts.Condition
                    .describe(a.conditionType, a.threshold)))
          } finally alertInFlight.release(id)
      }

    case _ => (404, Json.obj("error" -> "not found"))
  }

  // ---- token management -------------------------------------------------

  /** GET /api/users/tokens + DELETE /api/users/tokens/{id}
    * (web_scheduler.py:4184-4259; delete is scoped to the current user). */
  private def routeTokens(ex: HttpExchange, method: String,
                          segs: Seq[String]): (Int, Any) = (method, segs) match {
    case ("GET", Seq("api", "users", "tokens")) =>
      val u = uid()
      val list = store.read[UserToken]("user_tokens").collect()
        .filter(_.userId == u).sortBy(-_.id).map(t =>
          Json.obj("id" -> t.id, "name" -> t.name.orNull,
            "token" -> t.token, "expires_at" -> t.expiresAt,
            "created_at" -> t.createdAt))
      (200, Json.obj("tokens" -> list.toSeq))
    case ("DELETE", Seq("api", "users", "tokens", IdSeg(id))) =>
      val u = uid()
      store.delete[UserToken]("user_tokens", t => t.id == id && t.userId == u)
      (200, Json.obj("message" -> "Token删除成功"))
    case _ => (404, Json.obj("error" -> "not found"))
  }

  // ---- /api/email-configs -----------------------------------------------

  /** Email-config CRUD + default handling + live test send
    * (web_scheduler.py:1862-2377). Setting a default clears every other
    * default; the default config cannot be deleted. */
  private def routeEmailConfigs(ex: HttpExchange, method: String,
                                segs: Seq[String]): (Int, Any) = {
    def all(): Seq[EmailConfig] =
      store.read[EmailConfig]("email_configs").collect().toSeq
    (method, segs) match {
      case ("GET", Seq("api", "email-configs")) =>
        (200, all().sortBy(-_.id).map(c => Json.obj(
          "id" -> c.id, "config_name" -> c.configName,
          "mail_server" -> c.mailServer, "mail_port" -> c.mailPort,
          "mail_use_tls" -> c.mailUseTls, "mail_username" -> c.mailUsername,
          "mail_default_sender" -> c.mailDefaultSender,
          "mail_notification_enabled" -> c.notificationEnabled,
          "is_default" -> c.isDefault, "created_at" -> c.createdAt)))
      case ("POST", Seq("api", "email-configs")) =>
        val d = jsonBody(ex)
        val asDefault = d.get("is_default").collect { case b: Boolean => b }.getOrElse(false)
        val existing = all()
        if (asDefault) // clear other defaults first (:2130)
          store.upsert[EmailConfig]("email_configs",
            existing.filter(_.isDefault).map(_.copy(isDefault = false)), _.id)
        val id = nextId(existing.map(_.id))
        store.upsert[EmailConfig]("email_configs", Seq(EmailConfig(
          id, str(d, "config_name").getOrElse(""),
          str(d, "mail_server").getOrElse(""),
          num(d, "mail_port").getOrElse(25L).toInt,
          d.get("mail_use_tls").collect { case b: Boolean => b }.getOrElse(false),
          str(d, "mail_username").getOrElse(""),
          str(d, "mail_password").getOrElse(""),
          str(d, "mail_default_sender").getOrElse(""),
          d.get("mail_notification_enabled").collect { case b: Boolean => b }
            .getOrElse(true),
          asDefault, ts(clock()))), _.id)
        (200, Json.obj("message" -> "邮件配置创建成功"))
      case ("PUT", Seq("api", "email-configs", IdSeg(id))) =>
        val d = jsonBody(ex)
        val existing = all()
        existing.find(_.id == id).foreach { c =>
          val asDefault = d.get("is_default").collect { case b: Boolean => b }
          if (asDefault.contains(true))
            store.upsert[EmailConfig]("email_configs",
              existing.filter(e => e.isDefault && e.id != id)
                .map(_.copy(isDefault = false)), _.id)
          store.upsert[EmailConfig]("email_configs", Seq(c.copy(
            configName = str(d, "config_name").getOrElse(c.configName),
            mailServer = str(d, "mail_server").getOrElse(c.mailServer),
            mailPort = num(d, "mail_port").getOrElse(c.mailPort.toLong).toInt,
            mailUseTls = d.get("mail_use_tls").collect { case b: Boolean => b }
              .getOrElse(c.mailUseTls),
            mailUsername = str(d, "mail_username").getOrElse(c.mailUsername),
            mailPassword = str(d, "mail_password").getOrElse(c.mailPassword),
            mailDefaultSender = str(d, "mail_default_sender")
              .getOrElse(c.mailDefaultSender),
            notificationEnabled = d.get("mail_notification_enabled")
              .collect { case b: Boolean => b }.getOrElse(c.notificationEnabled),
            isDefault = asDefault.getOrElse(c.isDefault))), _.id)
        }
        (200, Json.obj("message" -> "邮件配置更新成功"))
      case ("DELETE", Seq("api", "email-configs", IdSeg(id))) =>
        all().find(_.id == id) match {
          case None => (404, Json.obj("error" -> "找不到指定的邮件配置"))
          case Some(c) if c.isDefault =>
            (400, Json.obj("error" -> "不能删除默认邮件配置，请先设置其他配置为默认"))
          case Some(_) =>
            store.delete[EmailConfig]("email_configs", _.id == id)
            (200, Json.obj("message" -> "邮件配置删除成功"))
        }
      case ("POST", Seq("api", "email-configs", IdSeg(id), "set-default")) =>
        val existing = all()
        existing.find(_.id == id) match {
          case None => (404, Json.obj("error" -> "找不到指定的邮件配置"))
          case Some(c) =>
            store.upsert[EmailConfig]("email_configs",
              existing.filter(e => e.isDefault && e.id != id)
                .map(_.copy(isDefault = false)) :+ c.copy(isDefault = true), _.id)
            (200, Json.obj("message" -> "默认邮件配置设置成功"))
        }
      case ("POST", Seq("api", "email-configs", IdSeg(id), "test")) =>
        val recipient = str(jsonBody(ex), "recipient")
        if (recipient.isEmpty)
          return (400, Json.obj("error" -> "请提供收件人邮箱"))
        all().find(_.id == id) match {
          case None => (404, Json.obj("error" -> "找不到指定的邮件配置"))
          case Some(c) if c.mailServer.isEmpty || c.mailUsername.isEmpty ||
                          c.mailPassword.isEmpty =>
            (400, Json.obj("error" -> "邮件配置不完整"))
          case Some(c) =>
            testMailer(c, recipient.get) match {
              case Right(_) => (200, Json.obj("message" -> "测试邮件发送成功"))
              case Left(e) => (500, Json.obj("error" -> s"测试邮件发送失败: $e"))
            }
        }
      case _ => (404, Json.obj("error" -> "not found"))
    }
  }

  // ---- /api/task-alerts -------------------------------------------------

  /** Task-status alert CRUD (web_scheduler.py:2472-2712): email config
    * falls back to default → first; alert_type constrained. */
  private def routeTaskAlerts(ex: HttpExchange, method: String,
                              segs: Seq[String]): (Int, Any) = {
    def all(): Seq[TaskAlert] = store.read[TaskAlert]("task_alerts").collect().toSeq
    def render(a: TaskAlert) = Json.obj(
      "id" -> a.id, "name" -> a.name.orNull, "task_id" -> a.taskId.orNull,
      "alert_type" -> a.alertType, "email_config_id" -> a.emailConfigId,
      "recipients" -> a.recipients, "is_enabled" -> a.isEnabled,
      "created_at" -> a.createdAt,
      // frontend aliases, mirroring the sql-alert list shape
      "emails" -> a.recipients, "enabled" -> a.isEnabled,
      "condition" -> a.alertType)
    (method, segs) match {
      case ("GET", Seq("api", "task-alerts")) =>
        (200, Json.obj("alerts" -> all().sortBy(-_.id).map(render)))
      case ("GET", Seq("api", "task-alerts", IdSeg(id))) =>
        all().find(_.id == id) match {
          case None => (404, Json.obj("error" -> "预警不存在"))
          case Some(a) => (200, render(a))
        }
      case ("POST", Seq("api", "task-alerts")) =>
        val d = jsonBody(ex)
        val alertType = str(d, "alert_type").orElse(str(d, "condition"))
        val recipients = str(d, "recipients").orElse(str(d, "emails"))
        val cfgs = store.read[EmailConfig]("email_configs").collect()
        val emailCfg = num(d, "email_config_id")
          .orElse(cfgs.find(_.isDefault).map(_.id))
          .orElse(cfgs.sortBy(_.id).headOption.map(_.id))
        if (emailCfg.isEmpty)
          return (400, Json.obj("error" -> "请先配置邮件服务器"))
        if (alertType.isEmpty || recipients.isEmpty)
          return (400, Json.obj("error" -> "缺少必要参数"))
        if (!Seq("success", "failure", "timeout").contains(alertType.get))
          return (400, Json.obj("error" -> "预警类型必须是 success、failure 或 timeout"))
        val existing = all()
        val id = nextId(existing.map(_.id))
        store.upsert[TaskAlert]("task_alerts", Seq(TaskAlert(
          id, str(d, "name"), num(d, "task_id"), alertType.get, emailCfg.get,
          recipients.get,
          d.get("is_enabled").orElse(d.get("enabled"))
            .collect { case b: Boolean => b }.getOrElse(true),
          ts(clock()))), _.id)
        (201, Json.obj("id" -> id, "message" -> "任务预警创建成功"))
      case ("PUT", Seq("api", "task-alerts", IdSeg(id))) =>
        val d = jsonBody(ex)
        all().find(_.id == id) match {
          case None => (404, Json.obj("error" -> "预警不存在"))
          case Some(a) =>
            store.upsert[TaskAlert]("task_alerts", Seq(a.copy(
              name = str(d, "name").map(Option(_)).getOrElse(a.name),
              taskId = num(d, "task_id").map(Option(_)).getOrElse(a.taskId),
              alertType = str(d, "alert_type").orElse(str(d, "condition"))
                .getOrElse(a.alertType),
              emailConfigId = num(d, "email_config_id").getOrElse(a.emailConfigId),
              recipients = str(d, "recipients").orElse(str(d, "emails"))
                .getOrElse(a.recipients),
              isEnabled = d.get("is_enabled").orElse(d.get("enabled"))
                .collect { case b: Boolean => b }.getOrElse(a.isEnabled))), _.id)
            (200, Json.obj("message" -> "任务预警更新成功"))
        }
      case ("DELETE", Seq("api", "task-alerts", IdSeg(id))) =>
        if (all().forall(_.id != id)) (404, Json.obj("error" -> "预警不存在"))
        else {
          store.delete[TaskAlert]("task_alerts", _.id == id)
          (200, Json.obj("message" -> "任务预警删除成功"))
        }
      case _ => (404, Json.obj("error" -> "not found"))
    }
  }

  // ---- /api/users -------------------------------------------------------

  /** User management (web_scheduler.py:4063-4182): create with salted hash
    * (Serve.Auth — the public equivalent of werkzeug's), change-password
    * with current-password check, delete with self-guard + token cascade. */
  private def routeUsers(ex: HttpExchange, method: String,
                         segs: Seq[String]): (Int, Any) = {
    def all(): Seq[User] = store.read[User]("users").collect().toSeq
    (method, segs) match {
      case ("GET", Seq("api", "users")) =>
        (200, Json.obj("users" -> all().sortBy(_.id).map(u => Json.obj(
          "id" -> u.id, "username" -> u.username, "created_at" -> u.createdAt))))
      case ("POST", Seq("api", "users")) =>
        val d = jsonBody(ex)
        (str(d, "username"), str(d, "password")) match {
          case (Some(username), Some(password)) =>
            if (all().exists(_.username == username))
              (400, Json.obj("error" -> "用户名已存在"))
            else {
              val id = nextId(all().map(_.id))
              store.upsert[User]("users", Seq(User(id, username,
                Serve.Auth.hashPassword(password, Serve.Auth.newSalt()),
                ts(clock()))), _.id)
              (200, Json.obj("message" -> "用户创建成功", "id" -> id))
            }
          case _ => (400, Json.obj("error" -> "用户名和密码不能为空"))
        }
      case ("POST", Seq("api", "users", "change-password")) =>
        val d = jsonBody(ex)
        (str(d, "current_password"), str(d, "new_password")) match {
          case (Some(cur), Some(nw)) =>
            all().find(_.id == uid()) match {
              case None => (404, Json.obj("error" -> "用户不存在"))
              case Some(u) if !Serve.Auth.verifyPassword(cur, u.passwordHash) =>
                (400, Json.obj("error" -> "当前密码错误"))
              case Some(u) =>
                store.upsert[User]("users", Seq(u.copy(passwordHash =
                  Serve.Auth.hashPassword(nw, Serve.Auth.newSalt()))), _.id)
                (200, Json.obj("message" -> "密码修改成功"))
            }
          case _ => (400, Json.obj("error" -> "当前密码和新密码不能为空"))
        }
      case ("DELETE", Seq("api", "users", IdSeg(id))) =>
        if (id == uid())
          (400, Json.obj("error" -> "不能删除当前登录用户"))
        else all().find(_.id == id) match {
          case None => (404, Json.obj("error" -> "用户不存在"))
          case Some(u) =>
            store.delete[UserToken]("user_tokens", _.userId == id) // cascade
            store.delete[User]("users", _.id == id)
            (200, Json.obj("message" -> s"用户 ${u.username} 删除成功"))
        }
      case _ => (404, Json.obj("error" -> "not found"))
    }
  }

  // ---- file upload (S10) ------------------------------------------------

  /** POST /api/upload (web_scheduler.py:4262-4283): multipart upload of a
    * .py script into the managed uploads dir — S10, the source S9's
    * script-path mapper normalizes into. Single-file multipart parsing via
    * the boundary from Content-Type (ISO-8859-1 keeps bytes 1:1). */
  private def routeUpload(ex: HttpExchange, method: String,
                          segs: Seq[String]): (Int, Any) = {
    if (method != "POST") return (405, Json.obj("error" -> "method not allowed"))
    val ctype = Option(ex.getRequestHeaders.getFirst("Content-Type")).getOrElse("")
    val boundary = ctype.split("boundary=").drop(1).headOption.map(_.trim)
      .getOrElse(return (400, Json.obj("error" -> "没有文件")))
    val body = new String(ex.getRequestBody.readAllBytes(),
      java.nio.charset.StandardCharsets.ISO_8859_1)
    val part = body.split(java.util.regex.Pattern.quote("--" + boundary))
      .find(_.contains("name=\"file\""))
      .getOrElse(return (400, Json.obj("error" -> "没有文件")))
    val filename = "filename=\"([^\"]*)\"".r.findFirstMatchIn(part)
      .map(_.group(1)).getOrElse("")
    if (filename.isEmpty) return (400, Json.obj("error" -> "没有选择文件"))
    if (!filename.endsWith(".py")) return (400, Json.obj("error" -> "只支持.py文件"))
    val sep = part.indexOf("\r\n\r\n")
    if (sep < 0) return (400, Json.obj("error" -> "没有文件"))
    val payload = part.substring(sep + 4).stripSuffix("--").stripSuffix("\r\n")
    val dir = new java.io.File(uploadsDir)
    dir.mkdirs()
    val target = new java.io.File(dir,
      graft.sources.Ingest.sanitizeFilename(filename))
    java.nio.file.Files.write(target.toPath,
      payload.getBytes(java.nio.charset.StandardCharsets.ISO_8859_1))
    (200, Json.obj("message" -> "文件上传成功", "filepath" -> target.getPath))
  }

  /** GET /api/python-scripts (web_scheduler.py:4286-4309): list .py files in
    * the managed uploads dir. */
  private def routePythonScripts(ex: HttpExchange, method: String,
                                 segs: Seq[String]): (Int, Any) = {
    val dir = new java.io.File(uploadsDir)
    dir.mkdirs()
    val scripts = Option(dir.listFiles()).getOrElse(Array.empty)
      .filter(_.getName.endsWith(".py")).sortBy(_.getName)
      .map(f => Json.obj("name" -> f.getName, "path" -> f.getPath))
    (200, scripts.toSeq)
  }

  /** GET /api/sql-alerts-debug (web_scheduler.py:2752-2786): the alert list
    * WITHOUT auth, for frontend debugging. Unlike the authed GET (LEFT-join
    * shape), the reference's debug query INNER-joins sql_scripts and
    * email_configs — alerts with a dangling script/config id are omitted. */
  private def routeSqlAlertsDebug(ex: HttpExchange, method: String,
                                  segs: Seq[String]): (Int, Any) = {
    if (method != "GET") return (405, Json.obj("error" -> "method not allowed"))
    val scripts = store.read[SqlScript]("sql_scripts").collect()
    val cfgs = store.read[EmailConfig]("email_configs").collect()
    val list = store.read[SqlAlert]("sql_alerts").collect().sortBy(-_.id)
      .flatMap { a =>
        for {
          s <- scripts.find(_.id == a.sqlScriptId)
          c <- a.emailConfigId.flatMap(id => cfgs.find(_.id == id))
        } yield Json.obj(
          "id" -> a.id, "name" -> a.name, "sql_script_id" -> a.sqlScriptId,
          "email_config_id" -> a.emailConfigId.orNull,
          "recipients" -> a.recipients, "condition_type" -> a.conditionType,
          "threshold" -> a.threshold, "is_enabled" -> a.isEnabled,
          "last_check" -> a.lastCheck.orNull,
          "cron_expression" -> a.cronExpression.orNull,
          "next_check" -> a.nextCheck.orNull,
          "sql_script_name" -> s.name, "email_config_name" -> c.configName,
          // frontend-alias fields (web_scheduler.py:2771-2780)
          "emails" -> a.recipients, "enabled" -> a.isEnabled,
          "script_name" -> s.name, "condition" -> a.conditionType)
      }
    (200, Json.obj("alerts" -> list.toSeq))
  }

  /** POST /api/debug/add-token (web_scheduler.py:4491-4526): test-env token
    * seeding without auth — defaults user_id=1 / fixed token / "Debug Token"
    * / 30-day expiry, INSERT OR REPLACE semantics on the token's UNIQUE
    * constraint (web_scheduler.py:523: a re-POST of the same token replaces
    * the existing row rather than erroring). */
  private def routeDebugAddToken(ex: HttpExchange, method: String,
                                 segs: Seq[String]): (Int, Any) = {
    if (method != "POST") return (405, Json.obj("error" -> "method not allowed"))
    val d = jsonBody(ex)
    val userId = num(d, "user_id").getOrElse(1L)
    // the reference ships a fixed default debug credential (:4499)
    val token = str(d, "token")
      .getOrElse("3TrEHpjtwcMGkCNVocj2w4ODNQquHyR_4-8kuXoAtNo")
    val name = str(d, "name").getOrElse("Debug Token")
    val days = num(d, "days").getOrElse(30L)
    val expires = ts(clock().plusDays(days))
    val existing = store.read[UserToken]("user_tokens").collect().toSeq
    val id = existing.find(_.token == token).map(_.id)
      .getOrElse(nextId(existing.map(_.id)))
    store.upsert[UserToken]("user_tokens", Seq(UserToken(
      id, userId, token, expires, ts(clock()), Some(name))), _.id)
    (200, Json.obj("message" -> "Token添加成功", "token" -> token,
      "expires_at" -> expires))
  }

  /** POST /api/users/generate-token (web_scheduler.py:4212-4245):
    * secrets.token_urlsafe(32) equivalent, `days` expiry (default 30). */
  private def routeGenerateToken(ex: HttpExchange, method: String,
                                 segs: Seq[String]): (Int, Any) = {
    if (method != "POST") return (405, Json.obj("error" -> "method not allowed"))
    val d = jsonBody(ex)
    str(d, "name") match {
      case None => (400, Json.obj("error" -> "Token名称不能为空"))
      case Some(name) =>
        val days = num(d, "days").getOrElse(30L)
        val token = Serve.Auth.newToken()
        val expires = clock().plusDays(days)
        val existing = store.read[UserToken]("user_tokens").collect().toSeq
        val id = nextId(existing.map(_.id))
        store.upsert[UserToken]("user_tokens", Seq(UserToken(
          id, uid(), token, ts(expires), ts(clock()), Some(name))), _.id)
        (200, Json.obj("message" -> "Token生成成功", "token" -> token,
          "expires_at" -> ts(expires), "id" -> id))
    }
  }
}

object AdminApi {
  /** The EXACT execution-route shapes exempt from the API write lock —
    * method + full segment pattern, exactly as the handlers match them.
    * A bare segment-name check (`segs.contains("test")`) would silently
    * exempt any future mutating route that reuses a generic segment name
    * (e.g. a `.../test` CRUD sub-resource) and regress the max(id)+1
    * log-allocation serialization the lock provides. */
  private[serve] def isSlowExecutionRoute(method: String,
                                          segs: Seq[String]): Boolean =
    (method, segs) match {
      case ("POST", Seq("api", "tasks", _, "run"))          => true
      case ("POST", Seq("api", "sql-alerts", _, "check"))   => true
      case ("POST", Seq("api", "email-configs", _, "test")) => true
      case _                                                => false
    }

  /** Default test-send path: a real SMTP dialogue via [[graft.alerts.SmtpNotifier]]
    * with the reference's fixed test subject/body (web_scheduler.py:2362-2368).
    * Tests inject a recording mailer instead. */
  def smtpTestMailer(cfg: EmailConfig, recipient: String): Either[String, Unit] =
    new graft.alerts.SmtpNotifier(cfg.mailServer, cfg.mailPort, cfg.mailUseTls,
        cfg.mailUsername, cfg.mailPassword, cfg.mailDefaultSender)
      .send(Seq(recipient), "测试邮件", "这是一封测试邮件，用于验证邮件配置是否正确。")
}
