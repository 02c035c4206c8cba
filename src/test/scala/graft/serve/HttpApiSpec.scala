package graft.serve

import java.net.URI
import java.net.http.{HttpClient, HttpRequest, HttpResponse}
import java.sql.Timestamp

import graft.SparkSuite
import graft.catalog.Model._

/** Golden request/response tests for the HTTP facade — shapes copied from
  * the reference's routes (web_scheduler.py:4582-4733, 5230-5291,
  * 5293-5423, 4312-4373) and postman_api_guide.md:50-106. */
class HttpApiSpec extends SparkSuite {

  private def ts(s: String) = Timestamp.valueOf(s)

  private val inserted =
    scala.collection.mutable.ListBuffer.empty[(String, Seq[Map[String, Any]])]

  // the catalog rows every API in this spec serves
  private val taskRows = Seq(
    Task(1L, "nightly etl", "sql", None, Some(7L), 3600L,
      Some(ts("2026-01-02 00:00:00")), Some(ts("2026-01-03 00:00:00")),
      isActive = true, Some("2,3"), 3, 60, None, ts("2026-01-01 00:00:00")),
    Task(2L, "probe script", "python", Some("scripts/probe.py"), None, 600L,
      None, None, isActive = false, None, 0, 60, Some("*/5 * * * *"),
      ts("2026-01-01 00:00:00")))
  private val logRows = Seq(
    TaskLog(1L, 1L, "failed", "boom", ts("2026-01-01 10:00:00")),
    TaskLog(2L, 1L, "success", "ok", ts("2026-01-02 10:00:00")),
    TaskLog(3L, 1L, "success", "ok again", ts("2026-01-03 10:00:00")))
  private val scriptRows = Seq(
    SqlScript(7L, "refresh orders", Some(1L), "SELECT 1", ts("2026-01-01 00:00:00")))
  private val nlogRows = Seq(
    NotificationLog(1L, Some(1L), "nightly etl", "failure", Some(4L),
      "a@x.com,b@x.com", "task failed", "body", "sent", None,
      ts("2026-01-02 09:00:00")),
    NotificationLog(2L, Some(1L), "nightly etl", "success", Some(99L),
      "a@x.com", "task ok", "body", "sent", None,
      ts("2026-01-03 09:00:00")))
  private val cfgRows = Seq(
    EmailConfig(4L, "ops smtp", "smtp.local", 25, mailUseTls = false, "u", "p",
      "noreply@x.com", notificationEnabled = true, isDefault = true,
      ts("2026-01-01 00:00:00")))
  private val userRows = Seq(User(10L, "alice", "salt:hash", ts("2026-01-01 00:00:00")))
  private val tokenRows = Seq(
    UserToken(1L, 10L, "good-token", ts("2099-01-01 00:00:00"), ts("2026-01-01 00:00:00")),
    UserToken(2L, 10L, "expired-token", ts("2020-01-01 00:00:00"), ts("2019-01-01 00:00:00")))
  private val dbcfgRows = Seq(
    DbConfig(1L, "warehouse", "mysql", "db.local", 3306, "u", "p",
      Some("ignored"), ts("2026-01-01 00:00:00")))

  private lazy val api: (HttpApi, Int) = {
    import spark.implicits._
    val tasks = taskRows.toDF()
    val logs = logRows.toDF()
    val scripts = scriptRows.toDF()
    val nlogs = nlogRows.toDF()
    val cfgs = cfgRows.toDF()
    val users = userRows.toDF()
    val tokens = tokenRows.toDF()
    val dbcfgs = dbcfgRows.toDF()

    val deps = HttpApi.Deps(
      tasks = () => tasks, taskLogs = () => logs, sqlScripts = () => scripts,
      notificationLogs = () => nlogs, emailConfigs = () => cfgs,
      users = () => users, userTokens = () => tokens, dbConfigs = () => dbcfgs,
      insert = (cfg, table, records) => {
        inserted += ((s"${cfg.dbType}:${cfg.database.get}.$table", records))
        Right(records.size.toLong)
      })
    val a = new HttpApi(spark, deps)
    val port = a.start()
    (a, port)
  }

  private val client = HttpClient.newHttpClient()

  // the read routes are token-authed like the insert route (the
  // reference's task/log reads are @login_required — an open read surface
  // would bypass the session-guarded admin API over the same tables)
  private def get(path: String, token: Option[String] = Some("good-token"),
                  port: => Int = api._2): (Int, Any) = {
    val b = HttpRequest.newBuilder(
      URI.create(s"http://127.0.0.1:$port$path")).GET()
    token.foreach(t => b.header("Authorization", s"Bearer $t"))
    val r = client.send(b.build(), HttpResponse.BodyHandlers.ofString())
    (r.statusCode(), Json.parse(r.body()))
  }

  private def post(path: String, body: String, headers: Seq[(String, String)]): (Int, Any) = {
    val b = HttpRequest.newBuilder(URI.create(s"http://127.0.0.1:${api._2}$path"))
      .POST(HttpRequest.BodyPublishers.ofString(body))
    headers.foreach { case (k, v) => b.header(k, v) }
    val r = client.send(b.build(), HttpResponse.BodyHandlers.ofString())
    (r.statusCode(), Json.parse(r.body()))
  }

  private def asMap(v: Any) = v.asInstanceOf[Map[String, Any]]
  private def asVec(v: Any) = v.asInstanceOf[Vector[Any]]

  test("GET read routes reject missing/expired tokens like the insert route") {
    assert(get("/api/tasks", token = None)._1 == 401)
    assert(get("/api/tasks", token = Some("wrong-token"))._1 == 401)
    assert(get("/api/task-logs/1", token = Some("expired-token"))._1 == 401)
    assert(get("/api/notification-logs", token = None)._1 == 401)
  }

  test("GET /api/tasks returns the reference's task shape with latest status") {
    val (code, body) = get("/api/tasks")
    assert(code == 200)
    val tasks = asVec(asMap(body)("tasks")).map(asMap)
    assert(tasks.map(_("id")) == Vector(2L, 1L)) // ORDER BY id DESC
    val t1 = tasks.find(_("id") == 1L).get
    assert(t1("task_type") == "sql")
    assert(t1("sql_script_name") == "refresh orders") // joined, sql-type only
    assert(t1("dependencies") == Vector(2L, 3L))      // CSV parsed to ints
    assert(t1("latest_status") == "success")          // latest by time wins
    assert(t1("is_active") == true)
    val t2 = tasks.find(_("id") == 2L).get
    assert(t2("sql_script_name") == null)             // python task → no name
    assert(t2("latest_status") == null)               // never executed
    assert(t2("cron_expression") == "*/5 * * * *")
  }

  test("GET /api/tasks honors latest_status/task_type/is_active filters") {
    val (c1, b1) = get("/api/tasks?latest_status=none")
    assert(c1 == 200)
    assert(asVec(asMap(b1)("tasks")).map(asMap).map(_("id")) == Vector(2L))
    val (c2, b2) = get("/api/tasks?latest_status=success&task_type=sql&is_active=true")
    assert(c2 == 200)
    assert(asVec(asMap(b2)("tasks")).map(asMap).map(_("id")) == Vector(1L))
    val (c3, b3) = get("/api/tasks?task_name=probe")
    assert(c3 == 200)
    assert(asVec(asMap(b3)("tasks")).map(asMap).map(_("id")) == Vector(2L))
  }

  test("GET /api/task-logs/{id} paginates with the exact envelope") {
    val (code, body) = get("/api/task-logs/1?page=1&per_page=2")
    assert(code == 200)
    val m = asMap(body)
    val logs = asVec(m("logs")).map(asMap)
    assert(logs.map(_("message")) == Vector("ok again", "ok")) // time DESC
    assert(logs.head("execution_time") == "2026-01-03 10:00:00")
    assert(asMap(m("pagination")) ==
      Map("page" -> 1L, "per_page" -> 2L, "total" -> 3L, "pages" -> 2L))
    val (c2, b2) = get("/api/task-logs/1?page=2&per_page=2")
    assert(c2 == 200 && asVec(asMap(b2)("logs")).size == 1)
  }

  test("GET /api/task-logs/{id} → 404 for a missing task") {
    val (code, body) = get("/api/task-logs/999")
    assert(code == 404)
    assert(asMap(body) == Map("message" -> "任务不存在"))
  }

  test("GET /api/notification-logs: envelope, config join, filters, validation") {
    val (code, body) = get("/api/notification-logs")
    assert(code == 200)
    val m = asMap(body)
    val logs = asVec(m("logs")).map(asMap)
    assert(logs.map(_("id")) == Vector(2L, 1L)) // sent_time DESC
    assert(logs(1)("config_name") == "ops smtp") // LEFT JOIN email_configs
    assert(logs(0)("config_name") == null)       // deleted config → NULL side
    assert(logs(1)("recipients") == "a@x.com,b@x.com")
    assert(asMap(m("pagination")) ==
      Map("page" -> 1L, "per_page" -> 20L, "total" -> 2L, "pages" -> 1L))
    // filters
    val (cf, bf) = get("/api/notification-logs?alert_type=failure")
    assert(cf == 200 && asVec(asMap(bf)("logs")).map(asMap).map(_("id")) == Vector(1L))
    // validation (web_scheduler.py:5325-5331)
    assert(get("/api/notification-logs?page=0")._1 == 400)
    assert(asMap(get("/api/notification-logs?per_page=101")._2) ==
      Map("error" -> "Invalid per_page parameter"))
    assert(asMap(get("/api/notification-logs?page=x")._2).apply("error")
      .toString.startsWith("Invalid parameter format"))
  }

  test("POST /api/database/insert: token auth contract") {
    val body = """{"table_name":"t","database_name":"d","db_config_id":1,
                  "records":[{"a":1}]}"""
    val (c1, b1) = post("/api/database/insert", body, Seq())
    assert(c1 == 401)
    assert(asMap(b1)("error").toString.contains("缺少API Token"))
    val (c2, b2) = post("/api/database/insert", body,
      Seq("Authorization" -> "Bearer wrong-token"))
    assert(c2 == 401 && asMap(b2) == Map("error" -> "无效或过期的API Token"))
    val (c3, b3) = post("/api/database/insert", body,
      Seq("Authorization" -> "Bearer expired-token"))
    assert(c3 == 401 && asMap(b3) == Map("error" -> "无效或过期的API Token"))
  }

  test("POST /api/database/insert: golden success and error shapes") {
    val auth = Seq("Authorization" -> "Bearer good-token",
      "Content-Type" -> "application/json")
    // missing params → 400 with the reference's message (web_scheduler.py:4330)
    val (cm, bm) = post("/api/database/insert",
      """{"table_name":"t","records":[{"a":1}]}""", auth)
    assert(cm == 400)
    assert(asMap(bm)("error") == "缺少必要参数: table_name, database_name, records, db_config_id")
    // unknown db config → 404 (web_scheduler.py:4345)
    val (cu, bu) = post("/api/database/insert",
      """{"table_name":"t","database_name":"d","db_config_id":42,"records":[{"a":1}]}""",
      auth)
    assert(cu == 404 && asMap(bu) == Map("error" -> "数据库配置不存在"))
    // success → postman_api_guide.md:94-99 golden shape
    val (cs, bs) = post("/api/database/insert",
      """{"table_name":"orders","database_name":"prod","db_config_id":1,
         "records":[{"sku":"x","qty":2},{"sku":"y","qty":5}]}""", auth)
    assert(cs == 200)
    val m = asMap(bs)
    assert(m("message") == "成功插入 2 条记录到表 orders")
    assert(asMap(m("result")) == Map("affected_rows" -> 2L))
    // the insert executor saw the API-supplied database name (:4352)
    assert(inserted.last._1 == "mysql:prod.orders")
    assert(inserted.last._2 == Seq(
      Map("sku" -> "x", "qty" -> 2L), Map("sku" -> "y", "qty" -> 5L)))
  }

  test("within the catalog's snapshot bound the read routes and the token check start no Spark job") {
    import spark.implicits._
    val store = new graft.catalog.CatalogStore(spark, tmpDir("httpapi-catalog"))
    store.overwrite(taskRows.toDS(), "tasks")
    store.overwrite(logRows.toDS(), "task_logs")
    store.overwrite(scriptRows.toDS(), "sql_scripts")
    store.overwrite(nlogRows.toDS(), "notification_logs")
    store.overwrite(cfgRows.toDS(), "email_configs")
    store.overwrite(userRows.toDS(), "users")
    store.overwrite(tokenRows.toDS(), "user_tokens")
    store.overwrite(dbcfgRows.toDS(), "db_configs")
    val catalogApi = new HttpApi(spark, HttpApi.Deps(
      tasks = () => store.read[Task]("tasks").toDF(),
      taskLogs = () => store.read[TaskLog]("task_logs").toDF(),
      sqlScripts = () => store.read[SqlScript]("sql_scripts").toDF(),
      notificationLogs = () => store.read[NotificationLog]("notification_logs").toDF(),
      emailConfigs = () => store.read[EmailConfig]("email_configs").toDF(),
      users = () => store.read[User]("users").toDF(),
      userTokens = () => store.read[UserToken]("user_tokens").toDF(),
      dbConfigs = () => store.read[DbConfig]("db_configs").toDF(),
      insert = (_, _, records) => Right(records.size.toLong)))
    val port = catalogApi.start()
    try {
      val routes = Seq("/api/tasks", "/api/task-logs/1?per_page=2", "/api/notification-logs")
      // the first request reads each table's files into its snapshot
      routes.foreach(r => assert(get(r, port = port)._1 == 200))
      routes.foreach { r =>
        var answer: (Int, Any) = null
        val jobs = jobsDuring { answer = get(r, port = port) }
        assert(answer == get(r), s"$r answers as over the same rows as DataFrames")
        assert(jobs == 0, s"$r started $jobs Spark jobs")
      }
      val rejected = jobsDuring(assert(get("/api/tasks", Some("expired-token"), port)._1 == 401))
      assert(rejected == 0, s"the token check started $rejected Spark jobs")
    } finally catalogApi.stop()
  }

  test("a repeated request compiles no new code, however much later it comes") {
    for (token <- Seq("good-token", "expired-token")) {
      val status = get("/api/task-logs/1", Some(token))._1 // compiles the route's code
      // the counter is JVM-wide: a repeat that compiles nothing in any of
      // three tries rules out a compile per request, which every try shows
      val compiled = (1 to 3).map { _ =>
        Thread.sleep(5) // a later clock reading than the request before
        compiledDuring(assert(get("/api/task-logs/1", Some(token))._1 == status))
      }
      assert(compiled.contains(0L), s"$token: each repeat compiled code: $compiled")
    }
  }

  test("JSON codec round-trips nested structures") {
    val txt = """{"a":[1,2.5,"x\nY",true,null],"b":{"c":-7}}"""
    val v = asMap(Json.parse(txt))
    assert(v("a") == Vector(1L, 2.5, "x\nY", true, null))
    assert(v("b") == Map("c" -> -7L))
    assert(Json.parse(Json.render(Json.obj(
      "s" -> "q\"uote", "n" -> 3L, "arr" -> Seq(1L, 2L)))) ==
      Map("s" -> "q\"uote", "n" -> 3L, "arr" -> Vector(1L, 2L)))
    intercept[IllegalArgumentException](Json.parse("""{"a":}"""))
    intercept[IllegalArgumentException](Json.parse("""[1,2"""))
  }

  test("JSON renders non-finite doubles as null (valid JSON, never bare NaN)") {
    assert(Json.render(Double.NaN) == "null")
    assert(Json.render(Double.PositiveInfinity) == "null")
    assert(Json.render(Double.NegativeInfinity) == "null")
    assert(Json.render(Float.NaN) == "null")
    // a payload containing one stays parseable end-to-end
    val rendered = Json.render(Json.obj("v" -> Double.NaN, "k" -> 1.5))
    assert(Json.parse(rendered) == Map("v" -> null, "k" -> 1.5))
  }
}
