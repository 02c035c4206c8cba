package graft.sched

import java.time.LocalDateTime

import scala.util.control.NonFatal

import org.apache.spark.sql.SparkSession

import graft.catalog.CatalogStore
import graft.catalog.Model._
import graft.sqlx.Sql

/** The reference's scheduler daemon (ST1-ST8, web_scheduler.py:1289-1582) as
  * a driver-side service: a 1-second tick loop that loads active tasks,
  * applies in-flight dedup / dependency gating / retry policy, advances
  * next_run BEFORE execution (retries do not advance it), dispatches
  * synchronously (Spark parallelizes within the job), and appends run logs.
  *
  * Execution is pluggable so tests inject fake executors; the default
  * dispatches task_type='sql' through [[graft.sqlx.Sql.runScript]],
  * task_type='python' through a subprocess with the reference's 300 s
  * timeout (S8, web_scheduler.py:736-829), task_type='admission'
  * through [[AdmissionTask]] — the engine's recurring dedup/admission
  * loop as a first-class schedulable job — task_type='compact'
  * through [[CompactionTask]], the streaming-sink small-file
  * maintenance job, and task_type='index' through [[IndexTask]], the
  * corpus index build (the root of the index→admission→compact DAG).
  */
final class Scheduler(
    spark: SparkSession,
    store: CatalogStore,
    executor: Task => Either[String, String],
    clock: () => LocalDateTime = () => LocalDateTime.now(),
    taskNotifier: Option[graft.alerts.TaskNotifier] = None) {

  /** In-flight task runs — PUBLIC so the API's run-now routes through the
    * SAME set as the scheduled loop (a manual run racing the scheduled run
    * of one task double-executed it; wire this instance into AdminApi). */
  val inFlight = new InFlightGuard
  @volatile private var logSeq = 0L

  final case class TickResult(taskId: Long, name: String, action: String,
                              status: Option[String] = None)

  /** One scheduler tick — evaluates every active task once. Synchronous
    * within the tick (ST8, "同步执行，不使用线程"). */
  def tick(): Seq[TickResult] = {
    // task jobs run in their own FAIR pool so API serving threads get a
    // fair share of executor slots while a long task job is in flight
    graft.core.GraftSession.usePool(spark, graft.core.GraftSession.TasksPool)
    val now = clock()
    val tasks = store.read[Task]("tasks").collect().filter(_.isActive).sortBy(_.id)
    // task_logs grows by one row per execution, forever, and the policies
    // only look at each task's most recent rows (latest status for
    // dependency gating; up to maxRetries+1 consecutive outcomes for the
    // retry window). So keep the top-K per task via a window: the collected
    // set is bounded by |tasks| × K no matter how old the deployment is.
    // Within CatalogStore's SnapshotMaxRows the table is a driver-held
    // snapshot and graft.catalog.LocalFold evaluates the window on the
    // driver, with no Spark job; past it the window is a Spark query over
    // the part files.
    val keep = math.max(10, if (tasks.isEmpty) 0 else tasks.map(_.maxRetries).max + 2)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("taskId")
      .orderBy(org.apache.spark.sql.functions.col("executionTime").desc,
               org.apache.spark.sql.functions.col("id").desc)
    val logs = {
      import org.apache.spark.sql.functions.{col, row_number}
      store.read[TaskLog]("task_logs")
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") <= keep).drop("rn")
        .as[TaskLog](CatalogStore.encoder[TaskLog]).collect()
    }
    val logsByTask = logs.groupBy(_.taskId).map { case (k, v) =>
      k -> v.sortBy(_.executionTime.getTime).reverse.toSeq
    }
    val latestStatus: Long => Option[String] = id => logsByTask.get(id).map(_.head.status)
    val knownIds = tasks.map(_.id).toSet

    tasks.toSeq.map { task =>
      if (!inFlight.tryAcquire(task.id)) {
        TickResult(task.id, task.name, "skipped_in_flight")
      } else try {
        runOne(task, now, logsByTask.getOrElse(task.id, Nil), knownIds, latestStatus)
      } catch {
        case NonFatal(e) => // ST7 failure isolation: log, keep looping
          appendLog(task.id, "failed", s"scheduler error: ${e.getMessage}", now)
          TickResult(task.id, task.name, "error", Some(e.getMessage))
      } finally inFlight.release(task.id)
    }
  }

  private def runOne(task: Task, now: LocalDateTime, recent: Seq[TaskLog],
                     known: Long => Boolean,
                     latest: Long => Option[String]): TickResult = {
    if (!Policies.canExecute(task.dependencies, known, latest))
      return TickResult(task.id, task.name, "blocked_dependency")

    val recentPairs = recent.map(l =>
      (l.status, l.executionTime.toLocalDateTime))
    val retry = Policies.shouldRetry(recentPairs, task.maxRetries,
      task.retryDelay.toLong, now)
    val due = Policies.isDue(
      task.nextRun.map(_.toLocalDateTime), now)

    if (!due && !retry) return TickResult(task.id, task.name, "not_due")

    // Advance last_run/next_run BEFORE execution, but never on retry
    // (web_scheduler.py:1376-1399): a retry must not push the schedule.
    // updateRows (read-modify-write under the table lock), NOT an upsert
    // of the tick's snapshot: an admin edit landing between the tick's
    // collect and this stamp must survive — only the run fields move.
    if (!retry) {
      val nr = Policies.nextRun(task.cronExpression, task.scheduleInterval, now)
      store.updateRows[Task]("tasks", _.id == task.id, _.copy(
        lastRun = Some(java.sql.Timestamp.valueOf(now)),
        nextRun = Some(java.sql.Timestamp.valueOf(nr))))
    }

    executor(task) match {
      case Right(msg) =>
        appendLog(task.id, "success", msg, now)
        // status fan-out to matching task_alerts (web_scheduler.py:1438-1441)
        taskNotifier.foreach(_.notify(task.id, "success", msg))
        TickResult(task.id, task.name, if (retry) "retried" else "executed", Some("success"))
      case Left(err) =>
        appendLog(task.id, "failed", err, now)
        taskNotifier.foreach(_.notify(task.id, "failed", err))
        TickResult(task.id, task.name, if (retry) "retried" else "executed", Some("failed"))
    }
  }

  private def appendLog(taskId: Long, status: String, message: String,
                        now: LocalDateTime): Unit = {
    logSeq += 1
    // nanoTime+seq is unique within ONE driver JVM — matching the catalog's
    // single-writer discipline (one scheduler, like the reference's single
    // thread + SQLite write lock). Multi-writer deployments would take ids
    // from a sequence table or use (driverId, seq) composite keys.
    val row = TaskLog(System.nanoTime() + logSeq, taskId, status, message,
      java.sql.Timestamp.valueOf(now))
    store.append(spark.createDataset(Seq(row))(CatalogStore.encoder[TaskLog]), "task_logs")
  }

  /** ST1 — the 1 s poll loop (web_scheduler.py:1556). Runs until `stop`
    * flips; exceptions are isolated per tick (ST7). Tick results (SQL
    * snapshot counts) are consumed synchronously inside the tick, so each
    * iteration releases the tick's tracked materializations — a days-long
    * daemon holds zero accumulated storage blocks. */
  @volatile var stopped = false
  def runLoop(tickMillis: Long = 1000L): Unit =
    while (!stopped) {
      try tick()
      catch { case NonFatal(e) => System.err.println(s"[scheduler] tick failed: ${e.getMessage}") }
      finally graft.core.Mat.releaseAll()
      Thread.sleep(tickMillis)
    }
}

object Scheduler {

  /** Default dispatcher: sql → Sql.runScript over the session catalog
    * (forcing materialization per statement, counting query rows); python →
    * subprocess with 300 s timeout (S8). */
  def defaultExecutor(spark: SparkSession, store: CatalogStore)(task: Task): Either[String, String] =
    task.taskType match {
      case "sql" =>
        task.sqlScriptId.toRight("sql task without sql_script_id").flatMap { sid =>
          store.read[SqlScript]("sql_scripts").collect().find(_.id == sid)
            .toRight(s"sql script $sid not found")
            .flatMap { script =>
              try {
                val results = Sql.runScript(spark, script.sqlContent)
                val summary = results.map { r =>
                  if (r.isQuery) s"rows=${r.result.map(_.count()).getOrElse(0L)}"
                  else s"affected=${r.affectedRows}"
                }.mkString("; ")
                Right(s"SQL script $sid ok: $summary")
              } catch { case NonFatal(e) => Left(s"SQL script $sid failed: ${e.getMessage}") }
            }
        }
      case "python" =>
        task.scriptPath.toRight("python task without script_path").flatMap(runPython)
      case "admission" =>
        // the engine's scheduled dedup/admission loop (see AdmissionTask):
        // scriptPath carries "<embedding|minhash>:<corpusDir>"
        task.scriptPath.toRight("admission task without spec in script_path")
          .flatMap(AdmissionTask.run(spark, _))
      case "compact" =>
        // streaming-sink small-file maintenance (see CompactionTask):
        // scriptPath carries "<sinkDir>:<targetMB>:<closed|all>"
        task.scriptPath.toRight("compact task without spec in script_path")
          .flatMap(CompactionTask.run(spark, _))
      case "index" =>
        // corpus index build — every stored write-time artifact via its
        // idempotent ensure* (see IndexTask): scriptPath carries "<corpusDir>"
        task.scriptPath.toRight("index task without spec in script_path")
          .flatMap(IndexTask.run(spark, _))
      case "vacuum" =>
        // tombstone maintenance — fold accumulated deletions into the
        // stored artifacts past a threshold (see VacuumTask): scriptPath
        // carries "<corpusDir>[:<threshold>]" or "grow:<ns>:<corpusDir>"
        task.scriptPath.toRight("vacuum task without spec in script_path")
          .flatMap(VacuumTask.run(spark, _))
      case other => Left(s"unknown task type '$other'")
    }

  /** S9 — script path normalization (web_scheduler.py:832-893): store
    * project-relative paths; a foreign absolute path maps into the managed
    * scripts dir by basename. */
  def normalizeScriptPath(stored: String, scriptsDir: String = "uploads"): String = {
    val unified = stored.replace('\\', '/')
    val p = java.nio.file.Paths.get(unified)
    // absolute = POSIX-absolute or Windows drive-letter path (the reference
    // ran on Windows; stored paths like C:\Users\... must map by basename)
    val absolute = p.isAbsolute || unified.matches("^[A-Za-z]:/.*")
    if (!absolute) p.toString
    else scriptsDir + "/" + p.getFileName.toString
  }

  /** S8 — subprocess execution: 300 s timeout, cwd = script dir, UTF-8
    * tolerant decode (reference web_scheduler.py:736-829). */
  def runPython(path: String): Either[String, String] = {
    import java.util.concurrent.TimeUnit
    val f = new java.io.File(path)
    if (!f.exists()) return Left(s"script not found: $path")
    // Output is redirected to temp FILES, not pipes: reading pipes only
    // after waitFor deadlocks once a chatty script fills the ~64 KiB pipe
    // buffer — the script blocks on write, waitFor burns the full 300 s,
    // and a healthy run is falsely logged as a timeout. Files have no
    // backpressure, so the child always runs to completion.
    val outF = java.nio.file.Files.createTempFile("graft-py-out", ".log").toFile
    val errF = java.nio.file.Files.createTempFile("graft-py-err", ".log").toFile
    try {
      val pb = new ProcessBuilder("python3", f.getName)
      pb.directory(f.getParentFile)
      pb.redirectOutput(outF)
      pb.redirectError(errF)
      val p = pb.start()
      val done = p.waitFor(300, TimeUnit.SECONDS)
      if (!done) {
        p.destroyForcibly()
        p.waitFor(10, TimeUnit.SECONDS) // let the kill land before temp cleanup
        return Left(s"script timeout (300s): $path")
      }
      def decode(file: java.io.File) = new String(
        java.nio.file.Files.readAllBytes(file.toPath),
        java.nio.charset.StandardCharsets.UTF_8)
      val out = decode(outF); val err = decode(errF)
      if (p.exitValue() == 0) Right(s"exit=0\n$out")
      else Left(s"exit=${p.exitValue()}\n$err\n$out")
    } finally { outF.delete(); errF.delete() }
  }
}
