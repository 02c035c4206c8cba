package graft.sources

import java.sql.Timestamp

import graft.SparkSuite
import graft.catalog.Model.DbConfig

/** Exercises the REAL JDBC code paths (`format("jdbc")` read/write, and the
  * driver-side connection of inserts and scripts) against
  * embedded Derby — the offline stand-in for the reference's MySQL/
  * PostgreSQL/SQLite targets (excel_to_db/excel_to_db.py:41-100,
  * web_scheduler.py:896-1026). */
class JdbcSpec extends SparkSuite {

  // keep derby.log and db files out of the repo root
  private lazy val dbHome = {
    val d = tmpDir("derby-home")
    System.setProperty("derby.system.home", d)
    d
  }
  private lazy val t = Jdbc.derby(s"$dbHome/graftdb")

  test("target factory maps db_type to the reference's dialect URLs") {
    val now = new Timestamp(0L)
    def cfg(tpe: String, db: Option[String]) =
      DbConfig(1L, "c", tpe, "h", 5432, "u", "pw", db, now)
    assert(Jdbc.target(cfg("mysql", Some("d"))).url == "jdbc:mysql://h:5432/d")
    assert(Jdbc.target(cfg("postgresql", Some("d"))).url == "jdbc:postgresql://h:5432/d")
    assert(Jdbc.target(cfg("sqlite", Some("/tmp/f.db"))).url == "jdbc:sqlite:/tmp/f.db")
    assert(Jdbc.target(cfg("derby", Some("/tmp/d"))).url == "jdbc:derby:/tmp/d;create=true")
    assert(Jdbc.target(cfg("mysql", Some("d"))).props.getProperty("user") == "u")
    intercept[IllegalArgumentException] { Jdbc.target(cfg("oracle", None)) }
  }

  test("create -> load -> truncate-reload -> read-back round-trip") {
    import spark.implicits._
    val df = Seq((1, "alpha", 1.5), (2, "beta", 2.5), (3, "gamma", 3.5))
      .toDF("id", "name", "score")
    // first load auto-creates the remote table (to_sql if_exists semantics)
    assert(Jdbc.truncateLoad(df, t, "people") == 3)
    // reloading must truncate, not double (idempotent full refresh)
    assert(Jdbc.truncateLoad(df, t, "people") == 3)
    val back = Jdbc.read(spark, t, "people").orderBy("id").collect()
    assert(back.map(_.getInt(0)).toSeq == Seq(1, 2, 3))
    assert(back.map(_.getString(1)).toSeq == Seq("alpha", "beta", "gamma"))
    assert(back.map(_.getDouble(2)).toSeq == Seq(1.5, 2.5, 3.5))
  }

  test("partitioned JDBC scan returns the same rows across parallel slices") {
    import spark.implicits._
    val df = (1 to 100).map(i => (i, s"row$i")).toDF("id", "payload")
    Jdbc.truncateLoad(df, t, "wide")
    val sliced = Jdbc.read(spark, t, "wide",
      partitionColumn = Some("id"), numPartitions = 4,
      lowerBound = 1L, upperBound = 101L)
    assert(sliced.rdd.getNumPartitions == 4)
    assert(sliced.count() == 100)
    assert(sliced.agg(org.apache.spark.sql.functions.sum("id"))
      .collect().head.getLong(0) == 5050L)
  }

  test("insertRecords appends via JDBC with first-record column contract") {
    import spark.implicits._
    Jdbc.truncateLoad(Seq((1, "a")).toDF("id", "name"), t, "recs")
    val ok = Jdbc.insertRecords(spark, t, "recs",
      Seq(Map("id" -> 2, "name" -> "b"), Map("id" -> 3, "name" -> "c")))
    assert(ok == Right(2L))
    assert(Jdbc.read(spark, t, "recs").count() == 3)
    // a record missing a first-record column is an error (KeyError path)
    val bad = Jdbc.insertRecords(spark, t, "recs",
      Seq(Map("id" -> 4, "name" -> "d"), Map("id" -> 5)))
    assert(bad.isLeft && bad.left.exists(_.contains("name")))
    assert(Jdbc.read(spark, t, "recs").count() == 3) // nothing written
    assert(Jdbc.insertRecords(spark, t, "recs", Nil) == Left("no records provided"))
    // an unknown column is a clean client error, not a bare
    // NoSuchElementException surfaced as a 500
    val unk = Jdbc.insertRecords(spark, t, "recs",
      Seq(Map("id" -> 6, "nope" -> "x")))
    assert(unk.isLeft && unk.left.exists(_.contains("unknown column")), unk)
    // JSON-borne numerics coerce to the TARGET column type: the parser
    // yields Long/Double natively and the Derby table's id is INT — the
    // strict Row encoder used to throw this as a 500 at execution time
    val coerced = Jdbc.insertRecords(spark, t, "recs",
      Seq(Map("id" -> 7L, "name" -> "g")))
    assert(coerced == Right(1L), coerced)
    assert(Jdbc.read(spark, t, "recs").count() == 4)
    // narrowing is RANGE-CHECKED: 2^32 into an INT column must be a clean
    // client error, never intValue()'s silent wrap to 0 landing in the
    // external database under a success response
    val wide = Jdbc.insertRecords(spark, t, "recs",
      Seq(Map("id" -> 4294967296L, "name" -> "overflow")))
    assert(wide.isLeft && wide.left.exists(_.contains("out of range")), wide)
    // a fractional value into an integral column must not silently truncate
    val frac = Jdbc.insertRecords(spark, t, "recs",
      Seq(Map("id" -> 7.5, "name" -> "frac")))
    assert(frac.isLeft && frac.left.exists(_.contains("fractional")), frac)
    // NaN/Infinity into an integral column rejects instead of landing an
    // arbitrary sentinel
    val nan = Jdbc.insertRecords(spark, t, "recs",
      Seq(Map("id" -> Double.NaN, "name" -> "nan")))
    assert(nan.isLeft && nan.left.exists(_.contains("non-finite")), nan)
    // an integer-valued Double still coerces (JSON parsers hand back 8.0)
    val whole = Jdbc.insertRecords(spark, t, "recs",
      Seq(Map("id" -> 8.0, "name" -> "whole")))
    assert(whole == Right(1L), whole)
    assert(Jdbc.read(spark, t, "recs").count() == 5) // only the valid rows
  }

  test("insertRecords commits all records or none, and starts no Spark job") {
    Jdbc.runScript(spark, t, "CREATE TABLE inbox_tx (id BIGINT, name VARCHAR(8))")
    val recs = (1 to 5).map(i =>
      Map[String, Any]("id" -> i.toLong, "name" -> (if (i == 5) "x" * 9 else s"n$i")))
    // the last record is too long for its column: the database rejects it,
    // and the four before it must not stay behind
    intercept[Exception](Jdbc.insertRecords(spark, t, "inbox_tx", recs))
    assert(Jdbc.read(spark, t, "inbox_tx").count() == 0)
    var ok: Either[String, Long] = Left("not run")
    assert(jobsDuring { ok = Jdbc.insertRecords(spark, t, "inbox_tx", recs.init) } == 0)
    assert(ok == Right(4L))
    assert(Jdbc.read(spark, t, "inbox_tx").count() == 4)
    // a value the column type does not take is a clean client error
    val typed = Jdbc.insertRecords(spark, t, "inbox_tx",
      Seq(Map("id" -> "nine", "name" -> "n9")))
    assert(typed.isLeft && typed.left.exists(_.contains("not a valid")), typed)
    assert(Jdbc.read(spark, t, "inbox_tx").count() == 4)
  }

  test("runScript executes DML server-side and SELECTs through Spark") {
    import spark.implicits._
    Jdbc.truncateLoad(Seq((1, 10), (2, 20), (3, 30)).toDF("id", "amt"), t, "ledger")
    val rs = Jdbc.runScript(spark, t,
      """UPDATE ledger SET amt = amt + 1 WHERE id < 3;
        |SELECT id, amt FROM ledger ORDER BY id;
        |DELETE FROM ledger WHERE id = 1;""".stripMargin)
    assert(rs.length == 3)
    assert(!rs(0).isQuery && rs(0).affectedRows == 2L)
    assert(rs(1).isQuery)
    assert(rs(1).result.get.orderBy("id").collect().map(_.getInt(1)).toSeq ==
      Seq(11, 21, 30))
    assert(!rs(2).isQuery && rs(2).affectedRows == 1L)
    assert(Jdbc.read(spark, t, "ledger").count() == 2)
  }

  test("excel_to_db end-to-end: file source through JDBC truncate-load") {
    // the reference's flagship ETL: read a tabular file, full-refresh it
    // into the external database (excel_to_db/excel_to_db.py main flow)
    val dir = tmpDir("etl")
    val csv = new java.io.File(dir, "input.csv")
    java.nio.file.Files.writeString(csv.toPath,
      "region,sales\neast,100\nwest,250\nnorth,75\n")
    val src = Ingest.readTable(spark, csv.toString, format = "csv")
    assert(Jdbc.truncateLoad(src, t, "etl_target") == 3)
    val back = Jdbc.readQuery(spark, t,
      "SELECT region, sales FROM etl_target WHERE sales > 90")
    assert(back.count() == 2)
  }
}
