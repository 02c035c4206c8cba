package graft.alerts

import java.time.LocalDateTime

import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

import org.apache.spark.sql.SparkSession

import graft.catalog.CatalogStore
import graft.catalog.Model._
import graft.sched.Policies
import graft.sources.Ingest
import graft.sqlx.Sql

/** The SQL-alert check lifecycle end-to-end (reference §3.3,
  * web_scheduler.py:3116-3613): load alert + script, run the query, evaluate
  * the cardinality condition, export the result artifact and notify on
  * trigger, and append an audit row whose `details` transcript carries the
  * config echo, SQL, row count and first-10-row preview.
  *
  * Cadence follows the reference's scheduler integration (ST6): cron-driven
  * `next_check` when set, else a fixed default interval since `last_check`.
  */
final class AlertService(
    spark: SparkSession,
    store: CatalogStore,
    notifier: Notifier,
    exportDir: String,
    clock: () => LocalDateTime = () => LocalDateTime.now()) {

  val DefaultCadenceSeconds = 300L // web_scheduler.py:1490

  /** Is this alert due at `now` (ST6, web_scheduler.py:1446-1544)? */
  def isDue(alert: SqlAlert, now: LocalDateTime): Boolean =
    alert.cronExpression.filter(_.trim.nonEmpty) match {
      case Some(_) => alert.nextCheck.forall(nc => !now.isBefore(nc.toLocalDateTime))
      case None => alert.lastCheck.forall(lc =>
        java.time.Duration.between(lc.toLocalDateTime, now).getSeconds >=
          DefaultCadenceSeconds)
    }

  /** Run one alert check end-to-end; returns the check result (or the error
    * recorded in the audit log). */
  def check(alertId: Long): Either[String, AlertCheckResult] = {
    val now = clock()
    val alerts = store.read[SqlAlert]("sql_alerts").collect()
    val result = for {
      alert <- alerts.find(_.id == alertId)
        .toRight(s"alert $alertId not found")
      script <- store.read[SqlScript]("sql_scripts").collect()
        .find(_.id == alert.sqlScriptId)
        .toRight(s"sql script ${alert.sqlScriptId} not found")
      res <- runCheck(alert, script, now)
    } yield res

    // advance last_check / next_check regardless of outcome (3388, 3485),
    // on the CURRENT row: an admin edit (disable, new threshold or cron)
    // landing while the check ran must survive, so only the stamps move
    store.updateRows[SqlAlert]("sql_alerts", _.id == alertId, a => a.copy(
      lastCheck = Some(java.sql.Timestamp.valueOf(now)),
      nextCheck = a.cronExpression.filter(_.trim.nonEmpty)
        .map(c => java.sql.Timestamp.valueOf(
          Policies.nextRun(Some(c), DefaultCadenceSeconds, now)))))
    result
  }

  private def runCheck(alert: SqlAlert, script: SqlScript,
                       now: LocalDateTime): Either[String, AlertCheckResult] =
    try {
      val statements = Sql.runScript(spark, script.sqlContent)
      val df = statements.reverse.collectFirst {
        case r if r.isQuery => r.result.get
      }.getOrElse(return logFailure(alert, "script produced no result set", now))

      val res = AlertChecker.check(alert.name, script.sqlContent, df,
        alert.conditionType, alert.threshold, now)

      val status =
        if (!res.triggered) "no_trigger"
        else {
          // the first 10,000 rows come to the driver and are exported from
          // there: a `limit` in the export plan would name its counter from
          // a JVM-wide sequence and so compile new classes on every check
          val artifact =
            try Some(Ingest.exportResult(
              spark.createDataFrame(df.take(10000).toSeq.asJava, df.schema),
              exportDir, s"${alert.name}_${now.toLocalDate}.csv"))
            catch { case NonFatal(_) => None }
          val sent = notifier.send(
            Notifier.splitRecipients(alert.recipients),
            s"[ALERT] ${alert.name}",
            res.details,
            artifact.toSeq)
          if (sent.isRight) "triggered" else "triggered_email_failed"
        }

      appendAuditLog(alert, status, res.details, now)
      Right(res)
    } catch {
      case NonFatal(e) => logFailure(alert, s"check failed: ${e.getMessage}", now)
    }

  private def logFailure(alert: SqlAlert, msg: String,
                         now: LocalDateTime): Either[String, AlertCheckResult] = {
    appendAuditLog(alert, "failed", msg, now)
    Left(msg)
  }

  private def appendAuditLog(alert: SqlAlert, status: String, details: String,
                             now: LocalDateTime): Unit = {
    store.append(spark.createDataset(Seq(SqlAlertLog(
      System.nanoTime(), alert.id, alert.name, status,
      Condition.describe(alert.conditionType, alert.threshold),
      java.sql.Timestamp.valueOf(now), Some(details))))(CatalogStore.encoder[SqlAlertLog]),
      "sql_alert_logs")
  }
}
