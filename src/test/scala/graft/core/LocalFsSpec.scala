package graft.core

import java.net.URI
import java.nio.file.{Files, Path, Paths}
import java.sql.Timestamp
import java.util.concurrent.{ConcurrentLinkedQueue, CountDownLatch, TimeUnit}

import scala.jdk.CollectionConverters._

import jdk.jfr.{Event, Name}
import jdk.jfr.consumer.RecordingStream
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{CreateFlag, FileContext, FileSystem, LocalFileSystem, Path => HPath,
  RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.spark.sql.catalyst.TableIdentifier
import org.apache.spark.sql.catalyst.catalog.{CatalogStorageFormat, CatalogTable, CatalogTableType}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.types.{LongType, StructType}

import graft.SparkSuite
import graft.catalog.CatalogStore
import graft.catalog.Model.TaskLog

/** [[LocalFs]] against Hadoop's own local file system. The same writes —
  * a Parquet `INSERT INTO` job, a `TRUNCATE TABLE`, a `CatalogStore` append
  * and rewrite, a streaming micro-batch with state, an explicit `01777`
  * and a `077` umask — run once through the engine's classes and once
  * through Hadoop's (`LocalFileSystem` and `fs.local.LocalFs`, the cache
  * off so every lookup builds a fresh one). Both trees must carry the same
  * mode bits on every file, `.crc` and directory, and the engine's pass
  * must start no process. */
class LocalFsSpec extends SparkSuite {

  private def octal(s: String): Short = Integer.parseInt(s, 8).toShort

  /** Runs `body` with Spark's Hadoop conf pointing `file://` at Hadoop's own
    * classes, uncached. */
  private def withHadoopClasses[T](body: => T): T = {
    val hc = spark.sparkContext.hadoopConfiguration
    val set = Seq(
      "fs.file.impl" -> classOf[LocalFileSystem].getName,
      "fs.AbstractFileSystem.file.impl" -> classOf[org.apache.hadoop.fs.local.LocalFs].getName,
      "fs.file.impl.disable.cache" -> "true")
    val saved = set.map { case (k, _) => k -> Option(hc.get(k)) }
    set.foreach { case (k, v) => hc.set(k, v) }
    try body
    finally saved.foreach { case (k, v) => v.fold(hc.unset(k))(hc.set(k, _)) }
  }

  /** Commands of the processes this JVM starts while `body` runs. */
  private def processesDuring(body: => Unit): Seq[String] = {
    val started = new ConcurrentLinkedQueue[String]()
    val seen = new CountDownLatch(1)
    val rs = new RecordingStream()
    try {
      rs.enable("jdk.ProcessStart")
      rs.enable(classOf[LocalFsSpecMarker])
      rs.onEvent("jdk.ProcessStart", e => started.add(e.getString("command")))
      // the marker is committed after `body`; once it is seen, every
      // earlier event has been delivered too
      rs.onEvent("graft.LocalFsSpecMarker", _ => seen.countDown())
      rs.startAsync()
      body
      new LocalFsSpecMarker().commit()
      assert(seen.await(60, TimeUnit.SECONDS), "JFR marker event not seen")
    } finally rs.close()
    started.asScala.toSeq
  }

  /** The writes, under `root`. */
  private def writes(root: Path, tag: String): Unit = {
    import spark.implicits._
    val uri = root.toUri.toString.stripSuffix("/")
    // a Parquet INSERT INTO job, then TRUNCATE TABLE of a 0750 table dir,
    // whose permission the command reads and sets again. TRUNCATE takes
    // only a managed table, so this one is registered with its dir here.
    val cat = spark.sessionState.catalog
    val tru = TableIdentifier(s"lfs_tru_$tag", Some("default"))
    cat.createTable(CatalogTable(tru, CatalogTableType.MANAGED,
      CatalogStorageFormat.empty.copy(locationUri = Some(URI.create(s"$uri/tru"))),
      new StructType().add("id", LongType), provider = Some("parquet")),
      ignoreIfExists = false, validateLocation = false)
    spark.sql(s"CREATE TABLE lfs_ins_$tag (id BIGINT) USING parquet LOCATION '$uri/ins'")
    try {
      spark.sql(s"INSERT INTO lfs_ins_$tag SELECT id FROM range(3)")
      spark.sql(s"INSERT INTO lfs_tru_$tag SELECT id FROM range(3)")
      val dir = new HPath(s"$uri/tru")
      dir.getFileSystem(spark.sessionState.newHadoopConf()).setPermission(dir, new FsPermission(octal("750")))
      spark.sql(s"TRUNCATE TABLE lfs_tru_$tag")
    } finally {
      spark.sql(s"DROP TABLE IF EXISTS lfs_ins_$tag")
      // external first, so dropping it keeps the dir
      cat.alterTable(cat.getTableMetadata(tru).copy(tableType = CatalogTableType.EXTERNAL))
      cat.dropTable(tru, ignoreIfNotExists = false, purge = false)
    }
    // a catalog append and a rewrite
    val store = new CatalogStore(spark, root.resolve("catalog").toString)
    val log = TaskLog(1L, 1L, "success", "ok", new Timestamp(0L))
    store.append(Seq(log).toDS(), "task_logs")
    store.overwrite(Seq(log, log.copy(id = 2L)).toDS(), "task_logs")
    // one micro-batch of a stateful query: offsets, commits, state deltas
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[Long]
    val q = input.toDS().groupBy("value").count().writeStream.format("noop")
      .outputMode("update").option("checkpointLocation", s"$uri/stream").start()
    try {
      input.addData(1L, 2L, 2L)
      q.processAllAvailable()
    } finally q.stop()
    // an explicit 01777, and a 077 umask on FileSystem and FileContext
    val conf = new Configuration(spark.sessionState.newHadoopConf())
    conf.set("fs.permissions.umask-mode", "077")
    val fs = FileSystem.newInstance(root.toUri, conf)
    try {
      val open = new HPath(s"$uri/open")
      fs.mkdirs(open)
      fs.setPermission(open, new FsPermission(octal("1777")))
      fs.create(new HPath(s"$uri/masked/fs.txt")).close()
      fs.mkdirs(new HPath(s"$uri/masked/fs_dir"))
    } finally fs.close()
    val fc = FileContext.getFileContext(root.toUri, conf)
    fc.mkdir(new HPath(s"$uri/masked/fc_dir"), FsPermission.getDirDefault, true)
    fc.create(new HPath(s"$uri/masked/fc.txt"), java.util.EnumSet.of(CreateFlag.CREATE)).close()
  }

  /** Mode bits (permission, sticky, set-id) of every entry under `root`,
    * by relative path; part-file names carry a random id, so it is masked. */
  private def modes(root: Path): Map[String, String] = {
    val s = Files.walk(root)
    try s.iterator.asScala.filterNot(_ == root).map { p =>
        val rel = root.relativize(p).toString
          .replaceAll("[0-9a-f]{8}-[0-9a-f]{4}-[0-9a-f]{4}-[0-9a-f]{4}-[0-9a-f]{12}", "<uuid>")
        rel -> f"${Files.getAttribute(p, "unix:mode").asInstanceOf[Int] & 0xfff}%o"
      }.toMap
    finally s.close()
  }

  private lazy val runs = {
    // per-JVM probes, run before the window: Hadoop's Shell runs `setsid`
    // when the class loads, and Spark's process-tree metrics run `getconf
    // PAGESIZE` at the session's first executor heartbeat
    spark.sparkContext
    org.apache.hadoop.util.Shell.WINDOWS
    Class.forName("org.apache.spark.executor.ProcfsMetricsGetter$")
    val base = Paths.get(tmpDir("graft-localfs"))
    val (engine, hadoop) = (base.resolve("engine"), base.resolve("hadoop"))
    Files.createDirectories(engine); Files.createDirectories(hadoop)
    val engineProcs = processesDuring(writes(engine, "engine"))
    val hadoopProcs = processesDuring(withHadoopClasses(writes(hadoop, "hadoop")))
    (engine, hadoop, engineProcs, hadoopProcs)
  }

  test("engine and Hadoop classes write the same mode bits on every file, .crc and dir") {
    val (engine, hadoop, _, hadoopProcs) = runs
    // Hadoop's pass really ran Hadoop's classes: they fork chmod
    assert(hadoopProcs.exists(_.startsWith("chmod")), hadoopProcs)
    val (e, h) = (modes(engine), modes(hadoop))
    assert(e.keySet == h.keySet)
    val differ = e.keySet.toSeq.sorted.filter(k => e(k) != h(k)).map(k => s"$k: ${e(k)} vs ${h(k)}")
    assert(differ.isEmpty, differ.mkString("\n"))
    Seq("ins", "catalog/task_logs", "stream/offsets", "stream/commits",
        "stream/state/0/0").foreach(d => assert(e.keySet.exists(_.startsWith(d + "/")), d))
    assert(e.keys.count(_.endsWith(".crc")) > 10)
    assert(e("tru") == "750" && e("open") == "1777")
    assert(Seq("masked/fs.txt", "masked/fc.txt").map(e) == Seq("600", "600"))
    assert(Seq("masked/fs_dir", "masked/fc_dir").map(e) == Seq("700", "700"))
  }

  test("the engine's writes start no process") {
    val (_, _, engineProcs, _) = runs
    assert(engineProcs.isEmpty, engineProcs)
  }

  test("getFileStatus reads what Hadoop's ls -ld parsing reads") {
    val (engine, _, _, _) = runs
    val conf = new Configuration(false)
    val ours = new LocalFs
    val theirs = new LocalFileSystem
    ours.initialize(URI.create("file:///"), conf)
    theirs.initialize(URI.create("file:///"), conf)
    // every field but the access time, which reading a directory moves
    def fields(f: org.apache.hadoop.fs.FileStatus) = (f.getPath, f.getLen, f.isDirectory,
      f.getModificationTime, f.getReplication, f.getBlockSize, f.getPermission, f.getOwner, f.getGroup)
    val s = Files.walk(engine)
    try s.iterator.asScala.foreach { p =>
      val hp = new HPath(p.toUri)
      assert(fields(ours.getFileStatus(hp)) == fields(theirs.getFileStatus(hp)), p)
    } finally s.close()
    // link status of a link, a dangling link and a plain file, by plain path
    // (a qualified file: path never reads as a link in either class)
    val target = engine.resolve("open")
    Files.createSymbolicLink(engine.resolve("link"), target)
    Files.createSymbolicLink(engine.resolve("dangling"), engine.resolve("nowhere"))
    Seq("link", "dangling", "open", "ins").map(n => new HPath(engine.resolve(n).toString)).foreach { p =>
      val (a, b) = (ours.getFileLinkStatus(p), theirs.getFileLinkStatus(p))
      assert((fields(a), a.isSymlink, if (a.isSymlink) a.getSymlink else null) ==
        (fields(b), b.isSymlink, if (b.isSymlink) b.getSymlink else null), p)
      if (b.isSymlink) assert(ours.getLinkTarget(p) == theirs.getLinkTarget(p), p)
    }
    assert(ours.getFileLinkStatus(new HPath(engine.resolve("link").toString))
      .getSymlink.toUri.getPath == target.toString)
    val gone = new HPath(engine.resolve("no-such-file").toUri)
    intercept[java.io.FileNotFoundException](ours.getFileStatus(gone))
    intercept[java.io.IOException](ours.setPermission(gone, FsPermission.getFileDefault))
  }

  test("requireLocalFs fails, naming the class, when file:// is not the engine's") {
    assert(GraftSession.requireLocalFs(spark) eq spark)
    val e = withHadoopClasses(intercept[IllegalStateException](GraftSession.requireLocalFs(spark)))
    assert(e.getMessage.contains(classOf[RawLocalFileSystem].getName), e.getMessage)
  }
}

/** Marks the end of a [[LocalFsSpec]] JFR window. */
@Name("graft.LocalFsSpecMarker")
final class LocalFsSpecMarker extends Event
