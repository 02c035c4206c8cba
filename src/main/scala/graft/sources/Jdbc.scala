package graft.sources

import java.sql.{Connection, DriverManager, PreparedStatement, Types}
import java.util.Properties

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.execution.datasources.jdbc.JdbcUtils
import org.apache.spark.sql.jdbc.{JdbcDialect, JdbcDialects}
import org.apache.spark.sql.types._

import graft.catalog.Model.DbConfig
import graft.sqlx.Sql

/** Real JDBC source/sink layer — the reference's external-database execution
  * fabric (web_scheduler.py:896-1026 per-dialect connect/execute;
  * excel_to_db/excel_to_db.py:41-70 engine factory, :95 `to_sql`). Scans
  * and table loads go through Spark's `format("jdbc")` reader/writer and
  * distribute across executors; the API's record inserts and a script's
  * DML are metadata-sized and run on one driver-side connection.
  *
  * Dialect coverage mirrors the reference's `db_type` column (mysql /
  * postgresql / sqlite) plus `derby`, the embedded database available in
  * this container (`/opt/spark/jars/derby*.jar`) — used by the tests to
  * exercise the real code path without network access. Spark ships a
  * `DerbyDialect`, so type mapping and identifier quoting are handled the
  * same way they would be for the reference's production dialects.
  */
object Jdbc {

  // swap the built-in Derby dialect for the case-insensitive one
  // (graftshim.GraftDerbyDialect), once, before any JDBC read/write —
  // every public entry point builds a Target, so both hit this
  private def dialectReady: Unit = org.apache.spark.sql.jdbc.DerbyShim.install

  /** A resolved JDBC target: url + connection properties. */
  final case class Target(url: String, props: Properties) {
    def withProp(k: String, v: String): Target = {
      val p = new Properties(); p.putAll(props); p.setProperty(k, v); Target(url, p)
    }
  }

  /** S2 — connection factory from a catalog [[DbConfig]] row: the
    * reference's per-dialect engine construction
    * (excel_to_db/excel_to_db.py:41-70). */
  def target(cfg: DbConfig): Target = {
    dialectReady
    val url = cfg.dbType match {
      case "mysql" =>
        s"jdbc:mysql://${cfg.host}:${cfg.port}/${cfg.database.getOrElse("")}"
      case "postgresql" =>
        s"jdbc:postgresql://${cfg.host}:${cfg.port}/${cfg.database.getOrElse("")}"
      case "sqlite" =>
        s"jdbc:sqlite:${cfg.database.getOrElse("")}"
      case "derby" => // embedded: `database` is the on-disk path
        s"jdbc:derby:${cfg.database.getOrElse("")};create=true"
      case other => throw new IllegalArgumentException(s"unsupported db_type: $other")
    }
    val p = new Properties()
    if (cfg.username.nonEmpty) p.setProperty("user", cfg.username)
    if (cfg.password.nonEmpty) p.setProperty("password", cfg.password)
    if (cfg.dbType == "derby")
      p.setProperty("driver", "org.apache.derby.jdbc.EmbeddedDriver")
    Target(url, p)
  }

  /** Embedded-Derby convenience target for tests and local runs. */
  def derby(dbPath: String): Target = {
    dialectReady
    val p = new Properties()
    p.setProperty("driver", "org.apache.derby.jdbc.EmbeddedDriver")
    Target(s"jdbc:derby:$dbPath;create=true", p)
  }

  /** Distributed JDBC table scan. `partitionColumn`+`numPartitions` splits
    * the scan into parallel range reads — at scale every executor pulls its
    * own slice instead of one task streaming the whole table. */
  def read(spark: SparkSession, t: Target, table: String,
           partitionColumn: Option[String] = None,
           numPartitions: Int = 1,
           lowerBound: Long = 0L, upperBound: Long = Long.MaxValue): DataFrame = {
    val base = spark.read.format("jdbc")
      .option("url", t.url).option("dbtable", table)
    val withPart = partitionColumn match {
      case Some(c) if numPartitions > 1 => base
        .option("partitionColumn", c)
        .option("numPartitions", numPartitions)
        .option("lowerBound", lowerBound)
        .option("upperBound", upperBound)
      case _ => base
    }
    t.props.stringPropertyNames().toArray(Array.empty[String])
      .foldLeft(withPart)((r, k) => r.option(k, t.props.getProperty(k))).load()
  }

  /** Push an arbitrary SELECT down to the remote database (the reference
    * runs user SQL server-side, web_scheduler.py:931-967). */
  def readQuery(spark: SparkSession, t: Target, query: String): DataFrame = {
    val base = spark.read.format("jdbc")
      .option("url", t.url).option("query", query)
    t.props.stringPropertyNames().toArray(Array.empty[String])
      .foldLeft(base)((r, k) => r.option(k, t.props.getProperty(k))).load()
  }

  /** S3 — truncate-and-load to an external table (reference
    * excel_to_db/excel_to_db.py:72-100: create if missing, else truncate,
    * then bulk insert). `truncate=true` keeps the remote table's DDL
    * (indexes, grants) instead of drop/recreate; the insert itself runs one
    * batch per Spark partition, in parallel. */
  def truncateLoad(df: DataFrame, t: Target, table: String): Long = {
    val writer = df.write.format("jdbc")
      .option("url", t.url).option("dbtable", table)
      .option("truncate", "true")
      .mode(SaveMode.Overwrite)
    t.props.stringPropertyNames().toArray(Array.empty[String])
      .foldLeft(writer)((w, k) => w.option(k, t.props.getProperty(k))).save()
    read(df.sparkSession, t, table).count()
  }

  /** S4 — record-batch append (first-record column contract,
    * web_scheduler.py:4410; missing-key error 4485-4487), as one
    * transaction on one driver-side connection, like the reference's
    * `executemany` and single commit (:4376-4487). A request carries a
    * handful of records, so a Spark write job would cost more than the
    * insert, and its partitions would each commit on their own: a record
    * the database rejects would leave the other partitions' rows behind.
    * Here the column types come from the table itself
    * (`dialect.getSchemaQuery`), the records go in as one
    * `PreparedStatement` batch, and any error rolls the batch back. */
  def insertRecords(spark: SparkSession, t: Target, table: String,
                    records: Seq[Map[String, Any]]): Either[String, Long] = {
    if (records.isEmpty) return Left("no records provided")
    val cols = records.head.keys.toSeq.sorted
    val missing = records.zipWithIndex.collectFirst {
      case (r, i) if !cols.forall(r.contains) =>
        s"record $i missing column(s): ${cols.filterNot(r.contains).mkString(",")}"
    }
    missing.toLeft(()).flatMap { _ =>
      val dialect = JdbcDialects.get(t.url)
      val conn = DriverManager.getConnection(t.url, t.props)
      try insertBatch(spark, conn, dialect, table, cols, records)
      finally conn.close()
    }
  }

  private def insertBatch(spark: SparkSession, conn: Connection, dialect: JdbcDialect,
                          table: String, cols: Seq[String],
                          records: Seq[Map[String, Any]]): Either[String, Long] = {
    val schema = {
      val st = conn.prepareStatement(dialect.getSchemaQuery(table))
      try {
        val rs = st.executeQuery()
        try JdbcUtils.getSchema(conn, rs, dialect) finally rs.close()
      } finally st.close()
    }
    // remote engines report folded (e.g. uppercase) names — match
    // case-insensitively but write with the caller's spelling
    val byLower = schema.fields.map(f => f.name.toLowerCase -> f).toMap
    // a record column the table doesn't have is a clean client error,
    // not a bare NoSuchElementException-turned-500
    val unknown = cols.filterNot(c => byLower.contains(c.toLowerCase))
    if (unknown.nonEmpty)
      return Left(s"unknown column(s) for table '$table': " +
        unknown.mkString(","))
    val ordered = StructType(cols.map(c => byLower(c.toLowerCase).copy(name = c)))
    // numeric widening/narrowing per the TARGET column type: JSON-borne
    // values arrive as the parser's native types (Long/Double/String), and
    // a Long into an INT column must coerce, not fail as a 500. Narrowing
    // is RANGE-CHECKED: a value that doesn't fit the target column (or a
    // fractional value into an integral column) is a clean client error,
    // never a silent wrap/truncate landing corrupt data in the external
    // database with a success response.
    final case class Reject(msg: String) extends RuntimeException(msg)
    def exactIntegral(n: Number, col: String, lo: Long, hi: Long,
                      kind: String): Long = {
      val d = n.doubleValue()
      n match {
        case _: java.lang.Double | _: java.lang.Float
            if d.isNaN || d.isInfinite =>
          throw Reject(s"non-finite value $n for $kind column '$col'")
        case _ => ()
      }
      val bd = new java.math.BigDecimal(n.toString)
      if (bd.stripTrailingZeros.scale > 0)
        throw Reject(s"fractional value $n for $kind column '$col'")
      val bi = bd.toBigInteger
      if (bi.compareTo(java.math.BigInteger.valueOf(lo)) < 0 ||
          bi.compareTo(java.math.BigInteger.valueOf(hi)) > 0)
        throw Reject(s"value $n out of range for $kind column '$col' " +
          s"[$lo, $hi]")
      bi.longValue()
    }
    def coerce(v: Any, col: String, dt: DataType): Any = (v, dt) match {
      case (null, _) => null
      case (n: Number, IntegerType) =>
        exactIntegral(n, col, Int.MinValue, Int.MaxValue, "INT").toInt
      case (n: Number, LongType) =>
        exactIntegral(n, col, Long.MinValue, Long.MaxValue, "BIGINT")
      case (n: Number, DoubleType) => n.doubleValue() // widening
      case (n: Number, FloatType) =>
        val d = n.doubleValue()
        if (!d.isNaN && !d.isInfinite && math.abs(d) > Float.MaxValue)
          throw Reject(s"value $n out of range for FLOAT column '$col'")
        d.toFloat
      case (n: Number, ShortType) =>
        exactIntegral(n, col, Short.MinValue, Short.MaxValue,
          "SMALLINT").toShort
      case (n: Number, ByteType) =>
        exactIntegral(n, col, Byte.MinValue, Byte.MaxValue,
          "TINYINT").toByte
      case (n: Number, _: DecimalType) =>
        new java.math.BigDecimal(n.toString)
      case (other, StringType) => other.toString
      case (other, _) => other // bind checks the remaining combinations
    }
    // the setter per column type, as Spark's JDBC writer binds a row; any
    // other value is the type error the writer's row encoder raised
    def bind(st: PreparedStatement, i: Int, v: Any, col: String, dt: DataType): Unit =
      (v, dt) match {
        case (null, _) => st.setNull(i, dialect.getJDBCType(dt)
          .orElse(JdbcUtils.getCommonJDBCType(dt)).map(_.jdbcNullType).getOrElse(Types.NULL))
        case (x: Int, IntegerType) => st.setInt(i, x)
        case (x: Long, LongType) => st.setLong(i, x)
        case (x: Double, DoubleType) => st.setDouble(i, x)
        case (x: Float, FloatType) => st.setFloat(i, x)
        case (x: Short, ShortType) => st.setInt(i, x)
        case (x: Byte, ByteType) => st.setInt(i, x)
        case (x: Boolean, BooleanType) => st.setBoolean(i, x)
        case (x: String, StringType) => st.setString(i, x)
        case (x: java.math.BigDecimal, _: DecimalType) => st.setBigDecimal(i, x)
        case (x: java.sql.Timestamp, TimestampType) => st.setTimestamp(i, x)
        case (x: java.sql.Date, DateType) => st.setDate(i, x)
        case (x: Array[Byte], BinaryType) => st.setBytes(i, x)
        case (x, _) => throw Reject(s"value $x is not a valid ${dt.sql} for column '$col'")
      }
    val insert = JdbcUtils.getInsertStatement(table, ordered, Some(schema),
      spark.sessionState.conf.caseSensitiveAnalysis, dialect)
    conn.setAutoCommit(false)
    try {
      val st = conn.prepareStatement(insert)
      try {
        records.foreach { r =>
          cols.zipWithIndex.foreach { case (c, i) =>
            val dt = ordered(i).dataType
            bind(st, i + 1, coerce(r(c), c, dt), c, dt)
          }
          st.addBatch()
        }
        st.executeBatch()
      } finally st.close()
      conn.commit()
      Right(records.size.toLong)
    } catch {
      case Reject(m) => conn.rollback(); Left(m)
      case e: Throwable => conn.rollback(); throw e
    }
  }

  /** S6 against a REAL external database: the reference's multi-statement
    * executor (web_scheduler.py:896-1026) — split, classify, then run
    * SELECTs through the distributed JDBC reader and DML over a direct
    * connection, returning per-statement affected-row counts. DML runs on
    * the driver (it's a metadata-sized control operation, like the
    * reference's `cursor.execute`); bulk data movement belongs to
    * [[truncateLoad]], which distributes. */
  def runScript(spark: SparkSession, t: Target,
                script: String): Seq[Sql.StatementResult] = {
    Sql.splitStatements(script).map { stmt =>
      if (Sql.isQuery(stmt)) {
        // Statement-order semantics: the reference fetches each SELECT at
        // cursor-execution time, so a later DML in the same script must not
        // retro-mutate an earlier result. A lazy DataFrame would re-read the
        // remote table at consumption time — snapshot it NOW via an eager
        // tracked checkpoint (executor blocks, not a driver collect); the
        // session owner releases all snapshots at its tick/query boundary
        // (Mat.releaseAll), so a daemon never accumulates them.
        val df = graft.core.Mat.tracked(readQuery(spark, t, stmt))
        Sql.StatementResult(stmt, isQuery = true, Some(df), -1L)
      } else {
        val conn = DriverManager.getConnection(t.url, t.props)
        try {
          val st = conn.createStatement()
          try {
            val affected = st.executeUpdate(stmt).toLong
            Sql.StatementResult(stmt, isQuery = false, None, affected)
          } finally st.close()
        } finally conn.close()
      }
    }
  }
}
