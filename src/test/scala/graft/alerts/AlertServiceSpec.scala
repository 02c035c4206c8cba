package graft.alerts

import java.sql.Timestamp
import java.time.LocalDateTime

import graft.SparkSuite
import graft.catalog.CatalogStore
import graft.catalog.Model._

class AlertServiceSpec extends SparkSuite {

  private val t0 = LocalDateTime.of(2026, 2, 1, 9, 0)

  private def fixture(conditionType: String, threshold: Long,
                      sql: String = "SELECT * FROM orders_alert_view",
                      cron: Option[String] = None) = {
    graft.core.Tables.orders(spark, sfDir)
      .createOrReplaceTempView("orders_alert_view")
    val store = new CatalogStore(spark, tmpDir("alerts"))
    import spark.implicits._
    store.overwrite(spark.createDataset(Seq(SqlScript(
      1L, "alert script", None, sql, Timestamp.valueOf(t0)))), "sql_scripts")
    store.overwrite(spark.createDataset(Seq(SqlAlert(
      5L, "orders-watch", 1L, None, "ops@x.com, oncall@x.com",
      conditionType, threshold, isEnabled = true, None, cron, None))), "sql_alerts")
    val notifier = new InMemoryNotifier
    val svc = new AlertService(spark, store, notifier, tmpDir("alert_export"),
      clock = () => t0)
    (store, notifier, svc)
  }

  test("triggered alert: notify with transcript + artifact, audit 'triggered' (§3.3)") {
    val (store, notifier, svc) = fixture("rows_gt", 10)
    val res = svc.check(5L)
    assert(res.isRight && res.exists(_.triggered))
    // notification with split recipients and the details transcript
    val sent = notifier.sent.head
    assert(sent.recipients == Seq("ops@x.com", "oncall@x.com"))
    assert(sent.subject.contains("orders-watch"))
    assert(sent.body.contains("Row count:") && sent.attachments.nonEmpty)
    // audit row with details transcript
    val log = store.read[SqlAlertLog]("sql_alert_logs").collect().head
    assert(log.status == "triggered" && log.alertName == "orders-watch")
    assert(log.details.exists(_.contains("Preview")))
    // last_check advanced
    val a = store.read[SqlAlert]("sql_alerts").collect().head
    assert(a.lastCheck.map(_.toLocalDateTime).contains(t0))
  }

  test("non-triggering alert: no notification, audit 'no_trigger'") {
    val (store, notifier, svc) = fixture("rows_lt", 1)
    val res = svc.check(5L)
    assert(res.isRight && !res.exists(_.triggered))
    assert(notifier.sent.isEmpty)
    assert(store.read[SqlAlertLog]("sql_alert_logs").collect().head.status == "no_trigger")
  }

  test("failing script: audit 'failed', error returned") {
    val (store, _, svc) = fixture("not_empty", 0, sql = "SELECT * FROM does_not_exist")
    val res = svc.check(5L)
    assert(res.isLeft)
    assert(store.read[SqlAlertLog]("sql_alert_logs").collect().head.status == "failed")
  }

  test("cadence: default 300 s since last_check; cron advances next_check (ST6)") {
    val (store, _, svc) = fixture("not_empty", 0)
    val a0 = store.read[SqlAlert]("sql_alerts").collect().head
    assert(svc.isDue(a0, t0)) // never checked → due
    svc.check(5L)
    val a1 = store.read[SqlAlert]("sql_alerts").collect().head
    assert(!svc.isDue(a1, t0.plusSeconds(200)))
    assert(svc.isDue(a1, t0.plusSeconds(300)))

    val (store2, _, svc2) = fixture("not_empty", 0, cron = Some("*/5 * * * *"))
    svc2.check(5L)
    val a2 = store2.read[SqlAlert]("sql_alerts").collect().head
    assert(a2.nextCheck.map(_.toLocalDateTime).contains(
      LocalDateTime.of(2026, 2, 1, 9, 5)))
    assert(!svc2.isDue(a2, t0.plusMinutes(3)) && svc2.isDue(a2, t0.plusMinutes(5)))
  }

  test("an admin edit landing during a check survives the check's last_check stamp") {
    val (store, _, _) = fixture("rows_gt", 10)
    // the edit arrives while the check runs, as AdminApi's PUT writes it
    val editing = new Notifier {
      def send(recipients: Seq[String], subject: String, body: String,
               attachments: Seq[String]): Either[String, Unit] = {
        val a = store.read[SqlAlert]("sql_alerts").collect().head
        store.upsert[SqlAlert]("sql_alerts",
          Seq(a.copy(isEnabled = false, threshold = 99)), _.id)
        Right(())
      }
    }
    val svc = new AlertService(spark, store, editing, tmpDir("alert_export"),
      clock = () => t0)
    assert(svc.check(5L).exists(_.triggered))
    val a = store.read[SqlAlert]("sql_alerts").collect().head
    assert(!a.isEnabled && a.threshold == 99, "the edit was reverted")
    assert(a.lastCheck.map(_.toLocalDateTime).contains(t0))
  }

  test("a repeated triggering check compiles no new code and exports the first 10,000 rows") {
    val (_, notifier, svc) = fixture("rows_gt", 10)
    assert(svc.check(5L).exists(_.triggered)) // compiles the check's code
    // the counter is JVM-wide: a repeat that compiles nothing in any of
    // three tries rules out a compile per check, which every try shows
    val compiled = (1 to 3).map(_ => compiledDuring(assert(svc.check(5L).exists(_.triggered))))
    assert(compiled.contains(0L), s"each repeated check compiled code: $compiled")

    // the artifact holds what an export of the query's first 10,000 rows writes
    def lines(path: String) =
      scala.util.Using.resource(scala.io.Source.fromFile(path))(_.getLines().toVector)
    val exported = lines(notifier.sent.last.attachments.head)
    val expected = lines(graft.sources.Ingest.exportResult(
      spark.table("orders_alert_view").limit(10000), tmpDir("alert_expected"), "expected.csv"))
    assert(exported.head == expected.head && exported.head.startsWith("o_orderkey,"))
    assert(exported.tail.sorted == expected.tail.sorted && exported.size > 1)
    assert(notifier.sent.last.attachments.head.contains("orders-watch_2026-02-01.csv"))
  }
}
