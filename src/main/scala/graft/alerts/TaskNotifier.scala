package graft.alerts

import java.time.LocalDateTime
import java.time.format.DateTimeFormatter

import org.apache.spark.sql.SparkSession

import graft.catalog.CatalogStore
import graft.catalog.Model._

/** Task-run status notifications — the reference's `send_task_notification`
  * (web_scheduler.py:1147-1228): after a task run, every ENABLED task_alert
  * whose alert_type matches the run status fires (deliberately NOT filtered
  * by task id — the reference dropped that filter, :1166 "不再限制特定任务"),
  * sending through the alert's own email config and appending a
  * notification_logs row (`sent`, or `failed` + error_message). A missing
  * task is a silent no-op, as in the reference.
  *
  * Faithful quirk: the comparison is `alert_type = status` with NO mapping
  * (:1163 "直接使用状态值，不进行映射") while run statuses are
  * success/failed and alert types are success/failure/timeout — so in the
  * reference (and here) a 'failure'-typed alert never matches the 'failed'
  * status. Reproduced as observable behavior; TaskNotifierSpec pins it.
  */
final class TaskNotifier(
    spark: SparkSession,
    store: CatalogStore,
    notifierFor: EmailConfig => Notifier = TaskNotifier.smtp,
    clock: () => LocalDateTime = () => LocalDateTime.now()) {

  private val fmt = DateTimeFormatter.ofPattern("yyyy-MM-dd HH:mm:ss")
  @volatile private var seq = 0L

  /** Fan one run result out to matching alerts; returns the appended
    * notification log rows (empty when no alert matches). */
  def notify(taskId: Long, status: String, message: String): Seq[NotificationLog] = {
    val now = clock()
    val taskName = store.read[Task]("tasks").collect()
      .find(_.id == taskId).map(_.name)
      .getOrElse(return Seq.empty) // silent, :1156-1158
    val cfgs = store.read[EmailConfig]("email_configs").collect()
    val matching = store.read[TaskAlert]("task_alerts").collect()
      .filter(a => a.alertType == status && a.isEnabled)
      .flatMap(a => cfgs.find(_.id == a.emailConfigId).map(a -> _)).toSeq
    if (matching.isEmpty) return Seq.empty

    val statusText = if (status == "success") "成功" else "失败"
    val subject = s"任务执行${statusText}预警: $taskName"
    val body =
      s"任务执行$statusText，触发了预警通知。\n\n" +
      s"任务名称: $taskName\n任务ID: $taskId\n执行状态: $statusText\n" +
      s"执行时间: ${now.format(fmt)}\n\n详细信息:\n$message"

    val rows = matching.map { case (alert, cfg) =>
      val sent = notifierFor(cfg).send(
        Notifier.splitRecipients(alert.recipients), subject, body)
      seq += 1
      NotificationLog(
        id = System.nanoTime() + seq, taskId = Some(taskId),
        taskName = taskName, alertType = status,
        emailConfigId = Some(cfg.id), recipients = alert.recipients,
        subject = subject, body = body,
        status = if (sent.isRight) "sent" else "failed",
        errorMessage = sent.left.toOption,
        sentTime = java.sql.Timestamp.valueOf(now))
    }
    store.append(spark.createDataset(rows)(CatalogStore.encoder[NotificationLog]),
      "notification_logs")
    rows
  }
}

object TaskNotifier {
  /** Production path: a real SMTP dialogue per the alert's email config. */
  def smtp(cfg: EmailConfig): Notifier =
    new SmtpNotifier(cfg.mailServer, cfg.mailPort, cfg.mailUseTls,
      cfg.mailUsername, cfg.mailPassword, cfg.mailDefaultSender)
}
