package graft.serve

import java.net.InetSocketAddress
import java.nio.charset.StandardCharsets.UTF_8

import com.sun.net.httpserver.{HttpExchange, HttpServer}
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._

import graft.catalog.Model.DbConfig

/** HTTP wire layer over the [[Serve]] query semantics — the reference's REST
  * surface (web_scheduler.py routes) on the JDK's built-in `httpserver` (no
  * new dependencies). Endpoints implement the reference's observable golden
  * shapes exactly, including the pagination envelope
  * `{logs, pagination:{page,per_page,total,pages}}`
  * (web_scheduler.py:5415-5423), parameter validation (5307-5331), and the
  * token-auth insert contract (postman_api_guide.md:92-106,
  * web_scheduler.py:1697-1736 + 4312-4373 — error strings included).
  *
  * Scale note: every handler serves CATALOG metadata (tasks/logs/configs —
  * driver-small by construction, ≤100-row pages); data-plane movement stays
  * in [[graft.sources.Jdbc]]/[[graft.sources.Ingest]] which distribute. The
  * reference's remaining ~50 routes are CRUD variants of these four shapes
  * over the same tables.
  */
object HttpApi {

  /** Catalog table suppliers (camelCase model columns, as stored by
    * `graft.catalog.CatalogStore`) + the insert executor. */
  final case class Deps(
      tasks: () => DataFrame,
      taskLogs: () => DataFrame,
      sqlScripts: () => DataFrame,
      notificationLogs: () => DataFrame,
      emailConfigs: () => DataFrame,
      users: () => DataFrame,
      userTokens: () => DataFrame,
      dbConfigs: () => DataFrame,
      insert: (DbConfig, String, Seq[Map[String, Any]]) => Either[String, Long])

  private val tsFmt = java.time.format.DateTimeFormatter
    .ofPattern("yyyy-MM-dd HH:mm:ss").withZone(java.time.ZoneOffset.UTC)
  private def tsStr(v: Any): Any = v match {
    case ts: java.sql.Timestamp => tsFmt.format(ts.toInstant)
    case other => other
  }
}

final class HttpApi(spark: SparkSession, deps: HttpApi.Deps) {
  import HttpApi._

  private var server: HttpServer = _

  /** Start on `port` (0 = ephemeral); returns the bound port. */
  def start(port: Int = 0): Int = {
    server = HttpServer.create(new InetSocketAddress("127.0.0.1", port), 0)
    server.createContext("/api/tasks", exchange(handleTasks))
    server.createContext("/api/task-logs/", exchange(handleTaskLogs))
    server.createContext("/api/notification-logs", exchange(handleNotificationLogs))
    server.createContext("/api/database/insert", exchange(handleInsert))
    pool = java.util.concurrent.Executors.newFixedThreadPool(4)
    server.setExecutor(pool)
    server.start()
    server.getAddress.getPort
  }

  private var pool: java.util.concurrent.ExecutorService = _

  /** Stop accepting, then DRAIN the handler pool (HttpServer.stop does not
    * shut down a user-supplied executor; stragglers racing session shutdown
    * emit RejectedExecutionException floods). Returns false if a handler
    * outlived the grace period (see AdminApi.stop). */
  def stop(): Boolean = server == null || {
    server.stop(0)
    pool.shutdown()
    pool.awaitTermination(10, java.util.concurrent.TimeUnit.SECONDS)
  }

  // ---- plumbing ---------------------------------------------------------

  private def exchange(f: HttpExchange => (Int, Any))(ex: HttpExchange): Unit = {
    val (status, body) =
      try {
        // FAIR serve pool: API reads stay responsive beside long task jobs
        graft.core.GraftSession.usePool(spark, graft.core.GraftSession.ServePool)
        f(ex)
      }
      catch { case e: Throwable => (500, Json.obj("error" -> e.getMessage)) }
      // request-end boundary: drain THIS handler thread's tracked frames
      // (see AdminApi.exchange — same per-owner discipline)
      finally graft.core.Mat.releaseAll()
    val bytes = Json.render(body).getBytes(UTF_8)
    ex.getResponseHeaders.set("Content-Type", "application/json")
    ex.sendResponseHeaders(status, bytes.length)
    val os = ex.getResponseBody
    os.write(bytes); os.close()
  }

  private def params(ex: HttpExchange): Map[String, String] =
    Option(ex.getRequestURI.getRawQuery).getOrElse("").split('&').toSeq
      .filter(_.nonEmpty).map { kv =>
        kv.split("=", 2) match {
          case Array(k, v) => java.net.URLDecoder.decode(k, UTF_8) ->
            java.net.URLDecoder.decode(v, UTF_8)
          case Array(k) => java.net.URLDecoder.decode(k, UTF_8) -> ""
        }
      }.toMap

  // ---- GET /api/tasks ---------------------------------------------------

  /** Task list with latest-run status + filters (web_scheduler.py:4582-4733):
    * `task_name` (contains), `task_type` (eq), `is_active` (true/false),
    * `latest_status` (success/failed/none). Response `{"tasks":[...]}` with
    * the reference's field set, dependencies CSV parsed to an int list. */
  private def handleTasks(ex: HttpExchange): (Int, Any) = {
    tokenAuth(ex).foreach(return _)
    val p = params(ex)
    val statusFilter = p.get("latest_status").map(_.trim).filter(_.nonEmpty).map {
      case "none" => "never_executed" // reference's tl.task_id IS NULL arm
      case s => s
    }
    val base = Serve.tasksWithLatestStatus(
      deps.tasks(), deps.taskLogs(), statusFilter,
      p.get("task_name").map(_.trim).filter(_.nonEmpty))
    val byType = p.get("task_type").map(_.trim).filter(_.nonEmpty)
      .map(t => base.filter(col("taskType") === t)).getOrElse(base)
    val byActive = p.get("is_active").map(_.trim) match {
      case Some("true")  => byType.filter(col("isActive"))
      case Some("false") => byType.filter(!col("isActive"))
      case _             => byType
    }
    // sql_script_name only for sql-type tasks (reference :4672-4677)
    val scripts = deps.sqlScripts()
      .select(col("id").as("__sid"), col("name").as("__sname"))
    val joined = byActive
      .join(broadcast(scripts), byActive("sqlScriptId") === col("__sid"), "left")
      .withColumn("__scriptName",
        when(col("taskType") === "sql", col("__sname")))
      .orderBy(col("id").desc)
    val rows = joined.collect().toSeq // catalog metadata — driver-small
    val tasks = rows.map { r =>
      def opt(name: String): Any = Option(r.getAs[Any](name)).map(tsStr).orNull
      val deps0 = Option(r.getAs[String]("dependencies")).getOrElse("")
      val depIds =
        try deps0.split(',').filter(_.nonEmpty).map(_.trim.toLong).toSeq
        catch { case _: NumberFormatException => Seq.empty[Long] }
      Json.obj(
        "id" -> r.getAs[Long]("id"),
        "name" -> r.getAs[String]("name"),
        "task_type" -> r.getAs[String]("taskType"),
        "script_path" -> opt("scriptPath"),
        "sql_script_id" -> opt("sqlScriptId"),
        "sql_script_name" -> opt("__scriptName"),
        "schedule_interval" -> r.getAs[Long]("scheduleInterval"),
        "last_run" -> opt("lastRun"),
        "next_run" -> opt("nextRun"),
        "is_active" -> r.getAs[Boolean]("isActive"),
        "dependencies" -> depIds,
        "max_retries" -> r.getAs[Int]("maxRetries"),
        "retry_delay" -> r.getAs[Int]("retryDelay"),
        "cron_expression" -> opt("cronExpression"),
        "latest_status" -> opt("latest_status"))
    }
    (200, Json.obj("tasks" -> tasks))
  }

  // ---- GET /api/task-logs/{task_id} -------------------------------------

  /** Per-task execution log page (web_scheduler.py:5230-5291): 404 if the
    * task doesn't exist; per_page defaults 10, capped at 100; envelope
    * `{logs, pagination}` with status/message/execution_time rows. */
  private def handleTaskLogs(ex: HttpExchange): (Int, Any) = {
    tokenAuth(ex).foreach(return _)
    val path = ex.getRequestURI.getPath.stripPrefix("/api/task-logs/")
    val taskId = try path.toLong catch {
      case _: NumberFormatException => return (404, Json.obj("message" -> "任务不存在"))
    }
    val p = params(ex)
    val page = math.max(1, p.get("page").flatMap(_.toIntOption).getOrElse(1))
    val perPage = math.min(p.get("per_page").flatMap(_.toIntOption).getOrElse(10), 100)
    if (deps.tasks().filter(col("id") === taskId).isEmpty)
      return (404, Json.obj("message" -> "任务不存在"))
    val logs = deps.taskLogs().filter(col("taskId") === taskId)
    val pg = Serve.paginate(logs, Seq(col("executionTime").desc), page, perPage)
    val list = pg.rows.map { r =>
      Json.obj(
        "status" -> r.getAs[String]("status"),
        "message" -> r.getAs[String]("message"),
        "execution_time" -> tsStr(r.getAs[Any]("executionTime")))
    }
    (200, Json.obj(
      "logs" -> list,
      "pagination" -> Json.obj(
        "page" -> pg.page, "per_page" -> pg.perPage,
        "total" -> pg.total, "pages" -> pg.pages)))
  }

  // ---- GET /api/notification-logs ---------------------------------------

  /** Alert-notification log page (web_scheduler.py:5293-5423): validated
    * page/per_page (400 on bad values), filters task_id/task_name/
    * alert_type/status, LEFT JOIN email_configs for config_name, ordered
    * sent_time DESC, exact envelope shape. */
  private def handleNotificationLogs(ex: HttpExchange): (Int, Any) = {
    tokenAuth(ex).foreach(return _)
    val p = params(ex)
    val (page, perPage, taskId) =
      try {
        (p.get("page").filter(_.nonEmpty).map(_.toInt).getOrElse(1),
         p.get("per_page").filter(_.nonEmpty).map(_.toInt).getOrElse(20),
         p.get("task_id").filter(_.nonEmpty).map(_.toLong))
      } catch {
        case e: NumberFormatException =>
          return (400, Json.obj("error" -> s"Invalid parameter format: ${e.getMessage}"))
      }
    if (page < 1) return (400, Json.obj("error" -> "Invalid page parameter"))
    if (perPage < 1 || perPage > 100)
      return (400, Json.obj("error" -> "Invalid per_page parameter"))

    val cfgs = deps.emailConfigs()
      .select(col("id").as("__cid"), col("configName").as("__cname"))
    val nl = deps.notificationLogs()
    val joined = nl.join(broadcast(cfgs), nl("emailConfigId") === col("__cid"), "left")
    val filters = Seq(
      taskId.map(id => col("taskId") === id),
      p.get("task_name").filter(_.nonEmpty).map(s => col("taskName").contains(s)),
      p.get("alert_type").filter(_.nonEmpty).map(s => col("alertType") === s),
      p.get("status").filter(_.nonEmpty).map(s => col("status") === s)).flatten
    val filtered = Serve.conjunctiveFilter(joined, filters)
    val pg = Serve.paginate(filtered, Seq(col("sentTime").desc, col("id").desc),
      page, perPage)
    val list = pg.rows.map { r =>
      def opt(name: String): Any = Option(r.getAs[Any](name)).map(tsStr).orNull
      Json.obj(
        "id" -> r.getAs[Long]("id"),
        "task_id" -> opt("taskId"),
        "task_name" -> r.getAs[String]("taskName"),
        "alert_type" -> r.getAs[String]("alertType"),
        "config_name" -> opt("__cname"), // NULL when config deleted (J5)
        "recipients" -> r.getAs[String]("recipients"),
        "subject" -> r.getAs[String]("subject"),
        "status" -> r.getAs[String]("status"),
        "error_message" -> opt("errorMessage"),
        "sent_time" -> tsStr(r.getAs[Any]("sentTime")))
    }
    (200, Json.obj(
      "logs" -> list,
      "pagination" -> Json.obj(
        "page" -> pg.page, "per_page" -> pg.perPage,
        "total" -> pg.total, "pages" -> pg.pages)))
  }

  // ---- POST /api/database/insert ----------------------------------------

  /** Token-authenticated record insert (web_scheduler.py:4312-4373 +
    * api_token_required 1697-1736; golden request/response in
    * postman_api_guide.md:50-106). */
  /** Bearer-token auth against user_tokens JOIN users with expiry check
    * (api_token_required, web_scheduler.py:1697-1736). Returns the error
    * response to emit, or None when the token is valid. Shared by the
    * insert route AND the GET read routes: the reference authenticates
    * every one of these routes (its task/log reads are @login_required),
    * so an unauthenticated read surface here would be an auth bypass of
    * the session-guarded AdminApi serving the same tables. */
  private def tokenAuth(ex: HttpExchange): Option[(Int, Any)] = {
    val token = Option(ex.getRequestHeaders.getFirst("Authorization"))
      .filter(_.startsWith("Bearer ")).map(_.stripPrefix("Bearer ").trim)
      .filter(_.nonEmpty)
    token match {
      case None =>
        Some((401, Json.obj(
          "error" -> "缺少API Token，请在Authorization头中使用\"Bearer YOUR_TOKEN\"格式")))
      case Some(tok) =>
        val now = new java.sql.Timestamp(System.currentTimeMillis())
        // the token JOIN users as two driver-side lookups: a filter plus
        // collect/isEmpty over a catalog snapshot (a LocalRelation) runs
        // no Spark job, where a join would start one on every request.
        // SQL null semantics are unchanged: a null token/expiry fails the
        // filter, and a null userId matches no `id IN (...)`.
        val userIds = deps.userTokens()
          .filter(col("token") === tok && col("expiresAt") > lit(now))
          .select("userId").collect().map(_.get(0))
        if (userIds.isEmpty || deps.users().filter(col("id").isin(userIds: _*)).isEmpty)
          Some((401, Json.obj("error" -> "无效或过期的API Token")))
        else None
    }
  }

  private def handleInsert(ex: HttpExchange): (Int, Any) = {
    if (ex.getRequestMethod != "POST")
      return (405, Json.obj("error" -> "method not allowed"))
    tokenAuth(ex).foreach(return _)
    val body = new String(ex.getRequestBody.readAllBytes(), UTF_8)
    val data = try Json.parse(body) match {
      case m: Map[_, _] => m.asInstanceOf[Map[String, Any]]
      case _ => return (400, Json.obj("error" -> "request body must be a JSON object"))
    } catch {
      case e: IllegalArgumentException => return (400, Json.obj("error" -> e.getMessage))
    }
    val tableName = data.get("table_name").collect { case s: String if s.nonEmpty => s }
    val databaseName = data.get("database_name").collect { case s: String if s.nonEmpty => s }
    val records = data.get("records").collect {
      case v: Vector[_] if v.nonEmpty =>
        v.collect { case m: Map[_, _] => m.asInstanceOf[Map[String, Any]] }
    }
    val dbConfigId = data.get("db_config_id").collect { case n: Long => n }
    if (tableName.isEmpty || databaseName.isEmpty ||
        records.forall(_.isEmpty) || dbConfigId.isEmpty)
      return (400, Json.obj(
        "error" -> "缺少必要参数: table_name, database_name, records, db_config_id"))

    val cfgRow = deps.dbConfigs().filter(col("id") === dbConfigId.get)
      .collect().headOption
    cfgRow match {
      case None => (404, Json.obj("error" -> "数据库配置不存在"))
      case Some(r) =>
        val cfg = DbConfig(
          id = r.getAs[Long]("id"), name = r.getAs[String]("name"),
          dbType = r.getAs[String]("dbType"), host = r.getAs[String]("host"),
          port = r.getAs[Int]("port"), username = r.getAs[String]("username"),
          password = r.getAs[String]("password"),
          database = Some(databaseName.get), // API-supplied db name (:4352)
          createdAt = r.getAs[java.sql.Timestamp]("createdAt"))
        deps.insert(cfg, tableName.get, records.get) match {
          case Right(n) => (200, Json.obj(
            "message" -> s"成功插入 ${records.get.size} 条记录到表 ${tableName.get}",
            "result" -> Json.obj("affected_rows" -> n)))
          case Left(err) => (500, Json.obj("error" -> err))
        }
    }
  }
}
