package graft.catalog

import java.sql.Timestamp

import org.apache.spark.sql.{Column, DataFrame, Dataset, Encoder, Row}
import org.apache.spark.sql.catalyst.plans.logical.{Join, LocalRelation, Window => WindowNode}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.scalacheck.{Gen, Prop, Test}
import org.scalacheck.rng.Seed

import graft.SparkSuite
import graft.catalog.Model._
import graft.serve.Serve

/** Differential checks of [[LocalFold]]: each query runs twice over the same
  * random catalog, once over the rows as `LocalRelation`s, which folds, and
  * once over the same rows written to Parquet, which never folds. The two
  * must return the same rows in the order the query defines. Ties on a sort
  * key have no defined order (Spark's own order of ties varies with the
  * plan), so rows that tie are compared as a multiset, and where an offset
  * or limit cuts through a run of ties only that run's keys are compared. */
class LocalFoldSpec extends SparkSuite {

  private final case class Catalog(tasks: Seq[Task], logs: Seq[TaskLog],
                                   scripts: Seq[SqlScript], nlogs: Seq[NotificationLog],
                                   cfgs: Seq[EmailConfig], users: Seq[User],
                                   tokens: Seq[UserToken])

  /** One catalog's tables, by name. */
  private type Tables = String => DataFrame

  // few distinct times and ids, so sort keys tie and join keys repeat
  private val times = (0 to 4).map(h => Timestamp.valueOf(s"2026-01-01 0$h:00:00"))
  private def time(nulls: Boolean): Gen[Timestamp] =
    if (nulls) Gen.frequency(1 -> Gen.const(null: Timestamp), 5 -> Gen.oneOf(times))
    else Gen.oneOf(times)
  private def opt[A](g: Gen[A]): Gen[Option[A]] =
    Gen.frequency(1 -> Gen.const(None), 3 -> g.map(Some(_)))
  private val status = Gen.frequency(4 -> Gen.const("success"), 3 -> Gen.const("failed"),
    1 -> Gen.const(null: String))
  private val word = Gen.oneOf("etl", "probe", "load", "sync")

  /** Up to `n` rows with distinct ids (primary keys stay unique, as in the
    * catalog), in an order unrelated to the ids. */
  private def rows[A](n: Int, row: Long => Gen[A]): Gen[Seq[A]] = for {
    k <- Gen.choose(0, n)
    ids <- Gen.pick(k, 1L to 200L)
    shuffle <- Gen.listOfN(k, Gen.choose(0, 1 << 20))
    rs <- Gen.sequence[Seq[A], A](ids.toSeq.zip(shuffle).sortBy(_._2).map(p => row(p._1)))
  } yield rs

  private val catalogs: Gen[Catalog] = for {
    tasks <- rows(6, id => for {
      tpe <- Gen.oneOf("sql", "python")
      script <- opt(Gen.choose(1L, 4L))
      next <- opt(time(nulls = false))
      active <- Gen.oneOf(true, false)
      name <- word
      retries <- Gen.choose(0, 3)
    } yield Task(id % 8, s"$name $id", tpe, None, script, 60L, None, next, active, None,
      retries, 60, None, times.head))
    taskIds = tasks.map(_.id)
    logs <- rows(40, id => for {
      task <- if (taskIds.isEmpty) Gen.choose(90L, 91L)
              else Gen.frequency(6 -> Gen.oneOf(taskIds), 1 -> Gen.choose(90L, 91L))
      st <- status
      at <- time(nulls = true)
      msg <- word
    } yield TaskLog(id, task, st, msg, at))
    // script ids repeat: duplicate keys on the build side of the join
    scripts <- rows(5, id => word.map(n => SqlScript(id % 3 + 1, n, None, "SELECT 1", times.head)))
    cfgs <- rows(3, id => word.map(n => EmailConfig(id % 4, n, "smtp", 25, mailUseTls = false,
      "u", "p", "s", notificationEnabled = true, isDefault = false, times.head)))
    nlogs <- rows(20, id => for {
      task <- opt(Gen.choose(0L, 7L))
      cfg <- opt(Gen.choose(0L, 4L))
      kind <- Gen.oneOf("failure", "success")
      st <- Gen.oneOf("sent", "failed")
      at <- time(nulls = false)
      name <- word
    } yield NotificationLog(id, task, name, kind, cfg, "a@x", "s", "b", st, None, at))
    users <- rows(3, id => Gen.const(User(id % 4, s"u$id", "h", times.head)))
    tokens <- rows(4, id => for {
      user <- Gen.choose(0L, 3L)
      tok <- Gen.oneOf("t1", "t2", "t3")
      exp <- Gen.oneOf(Timestamp.valueOf("2020-01-01 00:00:00"),
                       Timestamp.valueOf("2099-01-01 00:00:00"), null)
    } yield UserToken(id, user, tok, exp, times.head))
  } yield Catalog(tasks.distinctBy(_.id), logs, scripts, nlogs, cfgs, users, tokens)

  /** The catalog as `LocalRelation`s, and as Parquet files read back. */
  private def frames(c: Catalog): (Tables, Tables) = {
    import spark.implicits._
    val root = tmpDir("localfold-spec")
    val store = new CatalogStore(spark, root)
    def both[T <: Product: Encoder](name: String, rs: Seq[T]): (String, (DataFrame, DataFrame)) = {
      val ds: Dataset[T] = spark.createDataset(rs)
      store.overwrite(ds, name)
      val files = spark.read.schema(ds.schema).parquet(s"$root/$name")
      name -> (ds.toDF(), files)
    }
    val m = Map(both("tasks", c.tasks), both("task_logs", c.logs), both("sql_scripts", c.scripts),
      both("notification_logs", c.nlogs), both("email_configs", c.cfgs),
      both("users", c.users), both("user_tokens", c.tokens))
    (m(_)._1, m(_)._2)
  }

  private def multiset(rs: Seq[Row]): Seq[String] = rs.map(_.toString).sorted

  /** Consecutive rows with equal keys. */
  private def runs(rs: Seq[Row], key: Row => Seq[Any]): Seq[Seq[Row]] =
    rs.foldLeft(Vector.empty[Vector[Row]]) { (acc, r) =>
      if (acc.nonEmpty && key(acc.last.head) == key(r)) acc.init :+ (acc.last :+ r)
      else acc :+ Vector(r)
    }

  /** How a query's two answers are compared. */
  private sealed trait Order
  /** No order defined: the same multiset of rows. */
  private case object Unordered extends Order
  /** Ordered by `keys`; `cut` when an offset or limit may split a run of ties. */
  private final case class By(keys: Seq[String], cut: Boolean = false) extends Order

  private def same(what: String, folded: Seq[Row], other: Seq[Row], order: Order): Unit =
    order match {
      case Unordered =>
        assert(multiset(folded) == multiset(other), what)
      case By(keys, cut) =>
        val key = (r: Row) => keys.map(r.getAs[Any])
        assert(folded.map(key) == other.map(key), s"$what: sort keys")
        val pairs = runs(folded, key).zip(runs(other, key))
        pairs.zipWithIndex.foreach { case ((a, b), i) =>
          if (!cut || (i > 0 && i < pairs.size - 1)) assert(multiset(a) == multiset(b), s"$what: run $i")
        }
    }

  private def folded(df: DataFrame): Boolean =
    df.queryExecution.optimizedPlan.isInstanceOf[LocalRelation]

  /** Runs `q` on both catalogs: the local plan must fold to one
    * `LocalRelation`, the Parquet plan must not, and the rows must agree. */
  private def check(what: String, local: Tables, files: Tables, order: Order)(
      q: Tables => DataFrame): Unit = {
    val (l, f) = (q(local), q(files))
    assert(folded(l), s"$what does not fold:\n${l.queryExecution.optimizedPlan}")
    assert(!folded(f), s"$what over Parquet folds")
    same(what, l.collect().toSeq, f.collect().toSeq, order)
  }

  private val newestFirst = Window.partitionBy("taskId")
    .orderBy(col("executionTime").desc, col("id").desc)

  /** The shapes the rule folds. */
  private def shapes(local: Tables, files: Tables): Unit = {
    def run(what: String, order: Order = Unordered)(q: Tables => DataFrame): Unit =
      check(what, local, files, order)(q)
    run("project + filter") { t =>
      t("task_logs").filter(col("status") === "success" || col("executionTime").isNull)
        .select(col("id"), upper(col("status")).as("s"), col("taskId") + 1)
    }
    run("sort with nulls and ties", By(Seq("status", "executionTime"))) { t =>
      t("task_logs").orderBy(col("status").asc_nulls_last, col("executionTime").desc_nulls_first)
    }
    run("sort + offset + limit, total order", By(Seq("executionTime", "id"))) { t =>
      t("task_logs").orderBy(col("executionTime").desc, col("id")).offset(3).limit(7)
    }
    run("sort + offset + limit through ties", By(Seq("executionTime"), cut = true)) { t =>
      t("task_logs").orderBy(col("executionTime").desc).offset(2).limit(5)
    }
    // task_logs → tasks has repeated left keys and unmatched left rows;
    // tasks → notification_logs has nulls in the keys of both sides, as
    // CASE keys, so Spark infers no isnotnull filter and they reach the join
    for (jt <- Seq("inner", "left", "left_semi", "left_anti"); residual <- Seq(false, true);
         nulls <- Seq(false, true))
      run(s"$jt join, null keys $nulls, residual condition $residual") { t =>
        val (l, r) = if (nulls) (t("tasks"), t("notification_logs")) else (t("task_logs"), t("tasks"))
        val keys =
          if (nulls) when(l("isActive"), l("sqlScriptId")) === when(r("status") === "sent", r("taskId"))
          else l("taskId") === r("id")
        val extra = if (nulls) l("maxRetries") =!= r("id") % 3 else l("id") % 3 =!= r("maxRetries")
        l.join(r, if (residual) keys && extra else keys, jt)
      }
    run("row_number window with rn <= 2") { t =>
      t("task_logs").withColumn("rn", row_number().over(newestFirst)).filter(col("rn") <= 2)
    }
    run("row_number window, unfiltered") { t =>
      t("task_logs").withColumn("rn", row_number().over(newestFirst))
    }
    run("grouped count/sum/min/max") { t =>
      t("task_logs").groupBy("taskId").agg(count(lit(1)), count(col("status")), sum(col("id")),
        min(col("executionTime")), max(col("executionTime")),
        max(struct(col("executionTime"), col("status"))).as("m"))
    }
    run("global aggregate") { t =>
      t("task_logs").agg(count(lit(1)), max(col("id")), sum(col("id")), min(col("status")))
    }
    run("count") { t => t("task_logs").filter(col("taskId") === 1L).groupBy().count() }
  }

  /** The catalog's own queries, as the API, the scheduler and the admin
    * routes run them. */
  private def sites(local: Tables, files: Tables): Unit = {
    def run(what: String, order: Order = Unordered)(q: Tables => DataFrame): Unit =
      check(what, local, files, order)(q)
    for (status <- Seq(None, Some("success"), Some("never_executed")))
      run(s"/api/tasks latest_status=$status", By(Seq("id"))) { t =>
        val base = Serve.tasksWithLatestStatus(t("tasks"), t("task_logs"), status)
        val scripts = t("sql_scripts").select(col("id").as("__sid"), col("name").as("__sname"))
        base.join(broadcast(scripts), base("sqlScriptId") === col("__sid"), "left")
          .withColumn("__scriptName", when(col("taskType") === "sql", col("__sname")))
          .orderBy(col("id").desc)
      }
    for (task <- Seq(1L, 3L); (page, perPage) <- Seq((1, 10), (2, 3))) {
      def logs(t: Tables) = t("task_logs").filter(col("taskId") === task)
      val order = Seq(col("executionTime").desc)
      run(s"task-logs count, task $task") { t => logs(t).groupBy().count() }
      run(s"task-logs page $page of $perPage, task $task", By(Seq("executionTime"), cut = true)) {
        t => logs(t).orderBy(order: _*).offset((page - 1) * perPage).limit(perPage)
      }
      val (pl, pf) = (Serve.paginate(logs(local), order, page, perPage),
                      Serve.paginate(logs(files), order, page, perPage))
      assert((pl.total, pl.pages) == ((pf.total, pf.pages)))
      same("Serve.paginate", pl.rows, pf.rows, By(Seq("executionTime"), cut = true))
    }
    run("notification-logs page", By(Seq("sentTime", "id"))) { t =>
      val cfgs = t("email_configs").select(col("id").as("__cid"), col("configName").as("__cname"))
      val nl = t("notification_logs")
      nl.join(broadcast(cfgs), nl("emailConfigId") === col("__cid"), "left")
        .filter(col("status") === "sent")
        .orderBy(col("sentTime").desc, col("id").desc).offset(0).limit(20)
    }
    run("scheduler top-K window") { t =>
      t("task_logs").withColumn("rn", row_number().over(newestFirst))
        .filter(col("rn") <= 3).drop("rn")
    }
    for (tok <- Seq("t1", "t2"))
      run(s"token check, $tok") { t =>
        val live = t("user_tokens").filter(col("token") === tok &&
          col("expiresAt") > lit(Timestamp.valueOf("2026-06-01 00:00:00")))
        val users = t("users")
        live.join(users, live("userId") === users("id")).select().limit(1)
      }
    run("admin latest log", By(Seq("executionTime"), cut = true)) { t =>
      t("task_logs").filter(col("taskId") === 1L).orderBy(col("executionTime").desc).limit(1)
    }
    run("admin latest status per task") { t =>
      t("task_logs").groupBy("taskId")
        .agg(max(struct(col("executionTime"), col("status"))).as("m"))
        .select(col("taskId"), col("m.status"))
    }
    run("admin max(id)") { t => t("task_logs").agg(max("id")) }
  }

  private def property(check: (Tables, Tables) => Unit): Unit = {
    val result = Test.check(
      Test.Parameters.default.withMinSuccessfulTests(12).withInitialSeed(Seed(20261018L)),
      Prop.forAllNoShrink(catalogs) { c =>
        val (local, files) = frames(c)
        check(local, files)
        true
      })
    assert(result.passed, org.scalacheck.util.Pretty.pretty(result))
  }

  test("each shape the rule folds returns the rows Spark returns over Parquet") {
    property(shapes)
  }

  test("each catalog site's query returns the rows Spark returns over Parquet") {
    property(sites)
  }

  test("past the row bound, or when a join's matches would pass it, Spark's plan stays") {
    import spark.implicits._
    LocalFold.setup(spark)
    val n = CatalogStore.SnapshotMaxRows + 1
    val big = spark.createDataset((1 to n).map(i =>
      TaskLog(i.toLong, i % 7L, "success", "m", times(i % times.size)))).toDF()
    val window = big.withColumn("rn", row_number().over(newestFirst)).filter(col("rn") <= 2)
    assert(window.queryExecution.optimizedPlan.exists(_.isInstanceOf[WindowNode]))
    assert(window.count() == 14)
    // 101 × 100 rows on one key: 10,100 matches from 201 input rows
    val l = spark.range(101).select(lit(1L).as("k"), col("id").as("a"))
    val r = spark.range(100).select(lit(1L).as("k"), col("id").as("b"))
    val (lr, rr) = (spark.createDataFrame(l.collectAsList(), l.schema),
                    spark.createDataFrame(r.collectAsList(), r.schema))
    val joined = lr.join(rr, "k")
    assert(joined.queryExecution.optimizedPlan.exists(_.isInstanceOf[Join]))
    assert(joined.count() == 101L * 100L)
    // the same join on 100 × 100 rows stays within the bound and folds
    assert(folded(lr.filter(col("a") < 100).join(rr, "k")))
  }

  test("setup registers the rule once per session") {
    LocalFold.setup(spark)
    LocalFold.setup(spark)
    assert(spark.experimental.extraOptimizations.count(_ eq LocalFold) == 1)
  }
}
