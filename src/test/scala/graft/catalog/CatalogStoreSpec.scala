package graft.catalog

import java.sql.Timestamp

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Dataset, Encoder, Encoders}

import graft.SparkSuite
import graft.catalog.Model._

class CatalogStoreSpec extends SparkSuite {

  private def ts(s: String) = Timestamp.valueOf(s)
  private def mkTask(id: Long, name: String) = Task(
    id, name, "sql", None, Some(1L), 300L, None, None, isActive = true,
    None, 3, 60, None, ts("2026-01-01 00:00:00"))

  test("read of a never-written table is empty") {
    val store = new CatalogStore(spark, tmpDir("cat"))
    assert(store.read[Task]("tasks").count() == 0)
  }

  test("overwrite/read round-trip preserves typed rows") {
    val store = new CatalogStore(spark, tmpDir("cat"))
    import spark.implicits._
    store.overwrite(spark.createDataset(Seq(mkTask(1, "a"), mkTask(2, "b"))), "tasks")
    val back = store.read[Task]("tasks").collect().sortBy(_.id)
    assert(back.map(_.name).toSeq == Seq("a", "b"))
    assert(back.head.sqlScriptId.contains(1L))
  }

  test("upsert replaces matching keys and keeps others (D7)") {
    val store = new CatalogStore(spark, tmpDir("cat"))
    import spark.implicits._
    store.overwrite(spark.createDataset(Seq(mkTask(1, "a"), mkTask(2, "b"))), "tasks")
    store.upsert[Task]("tasks", Seq(mkTask(2, "b2"), mkTask(3, "c")), _.id)
    val back = store.read[Task]("tasks").collect().sortBy(_.id)
    assert(back.map(t => t.id -> t.name).toSeq == Seq(1L -> "a", 2L -> "b2", 3L -> "c"))
  }

  test("delete by predicate returns removed count (FK-guard shape)") {
    val store = new CatalogStore(spark, tmpDir("cat"))
    import spark.implicits._
    store.overwrite(spark.createDataset(Seq(mkTask(1, "a"), mkTask(2, "b"))), "tasks")
    assert(store.delete[Task]("tasks", _.id == 1) == 1L)
    assert(store.read[Task]("tasks").collect().map(_.id).toSeq == Seq(2L))
  }

  test("append-only log table accumulates (S12)") {
    val store = new CatalogStore(spark, tmpDir("cat"))
    import spark.implicits._
    val l1 = TaskLog(1, 10, "success", "ok", ts("2026-01-01 10:00:00"))
    val l2 = TaskLog(2, 10, "failed", "boom", ts("2026-01-01 11:00:00"))
    store.append(spark.createDataset(Seq(l1)), "task_logs")
    store.append(spark.createDataset(Seq(l2)), "task_logs")
    assert(store.read[TaskLog]("task_logs").count() == 2)
  }

  test("torn part file (crash mid-append) is quarantined loudly, not silently dropped forever") {
    import java.nio.file.{Files, Paths}
    val root = tmpDir("cat")
    val store = new CatalogStore(spark, root)
    import spark.implicits._
    store.append(spark.createDataset(Seq(
      TaskLog(1, 10, "success", "ok", ts("2026-01-01 10:00:00")))), "task_logs")
    store.append(spark.createDataset(Seq(
      TaskLog(2, 10, "failed", "boom", ts("2026-01-01 11:00:00")))), "task_logs")
    // simulate a crash mid-append: a .parquet part with a valid head magic
    // but no footer
    val torn = Paths.get(root, "task_logs", "part-torn-crash.snappy.parquet")
    Files.write(torn, ("PAR1" + "x" * 64).getBytes("US-ASCII"))
    val rows = store.read[TaskLog]("task_logs").collect()
    assert(rows.map(_.id).sorted.toSeq == Seq(1L, 2L), "intact rows survive")
    assert(!Files.exists(torn), "torn file removed from the live dir")
    val quarantined = Paths.get(root, "task_logs.quarantine")
      .resolve("part-torn-crash.snappy.parquet")
    assert(Files.exists(quarantined), "torn file preserved for inspection")
    // and the table keeps working for both reads and appends afterwards
    store.append(spark.createDataset(Seq(
      TaskLog(3, 10, "success", "again", ts("2026-01-01 12:00:00")))), "task_logs")
    assert(store.read[TaskLog]("task_logs").count() == 3)
  }

  test("log compaction shrinks the file count, keeps every row, tolerates a concurrent append") {
    val root = tmpDir("cat")
    val store = new CatalogStore(spark, root)
    import spark.implicits._
    def log(i: Int) = TaskLog(i.toLong, 10, "success", s"m$i",
      ts(f"2026-01-01 10:${i}%02d:00"))
    (1 to 6).foreach(i => store.append(spark.createDataset(Seq(log(i))), "task_logs"))
    def fileCount = {
      val s = java.nio.file.Files.list(java.nio.file.Paths.get(root, "task_logs"))
      try s.filter(_.getFileName.toString.endsWith(".parquet")).count()
      finally s.close()
    }
    assert(fileCount >= 6)
    // under threshold: no-op
    assert(!store.compactIfFragmented[TaskLog]("task_logs", maxFiles = 10))
    // over threshold, with an append landing BETWEEN snapshot and swap
    // (run-now handler racing the daemon's compaction): the straggler
    // file must be carried into the new live directory, not lost
    val ran = store.compactIfFragmented[TaskLog]("task_logs", maxFiles = 4,
      numPartitions = 2,
      beforeSwap = () =>
        store.append(spark.createDataset(Seq(log(7))), "task_logs"))
    assert(ran)
    assert(fileCount <= 3) // 2 compacted + 1 carried over
    val rows = store.read[TaskLog]("task_logs").collect()
    assert(rows.length == 7)
    assert(rows.map(_.id).sorted.toSeq == (1L to 7L))
  }

  test("cross-thread append serializes against compaction; no row lost, no swap failure") {
    val root = tmpDir("cat")
    val store = new CatalogStore(spark, root)
    import spark.implicits._
    def log(i: Int) = TaskLog(i.toLong, 10, "success", s"m$i",
      ts(f"2026-01-01 10:${i}%02d:00"))
    (1 to 6).foreach(i => store.append(spark.createDataset(Seq(log(i))), "task_logs"))
    // a handler THREAD fires an append exactly when compaction reaches its
    // swap window; the per-table lock must make it wait (not interleave
    // with the moves, which would recreate `live` mid-swap and strand the
    // history in .bak)
    @volatile var appendErr: Throwable = null
    val t = new Thread(() => {
      try store.append(spark.createDataset(Seq(log(7))), "task_logs")
      catch { case e: Throwable => appendErr = e }
    })
    val ran = store.compactIfFragmented[TaskLog]("task_logs", maxFiles = 4,
      numPartitions = 2,
      beforeSwap = () => { t.start(); Thread.sleep(300) }) // thread blocks on the lock
    t.join(30000)
    assert(ran && appendErr == null)
    val rows = store.read[TaskLog]("task_logs").collect()
    assert(rows.map(_.id).sorted.toSeq == (1L to 7L))
  }

  test("crash between compaction swap and carry-over: manifest recovers stragglers") {
    val root = tmpDir("cat")
    val store = new CatalogStore(spark, root)
    import spark.implicits._
    def log(i: Int) = TaskLog(i.toLong, 10, "success", s"m$i",
      ts(f"2026-01-01 10:${i}%02d:00"))
    (1 to 3).foreach(i => store.append(spark.createDataset(Seq(log(i))), "task_logs"))
    val liveP = java.nio.file.Paths.get(root, "task_logs")
    val bakP = java.nio.file.Paths.get(root, "task_logs.bak")
    // simulate: compaction snapshotted {files of rows 1-2}, straggler row 3
    // landed after the snapshot, JVM died right after the two swap moves —
    // live holds the compacted rows 1-2, .bak holds all three original
    // files, the manifest lists the snapshotted two
    val allFiles = java.nio.file.Files.list(liveP).toArray.map(_.toString)
      .map(p => java.nio.file.Paths.get(p).getFileName.toString)
      .filter(_.endsWith(".parquet")).sorted
    val straggler = allFiles.last
    val snapshot = allFiles.init
    java.nio.file.Files.move(liveP, bakP,
      java.nio.file.StandardCopyOption.ATOMIC_MOVE)
    java.nio.file.Files.createDirectories(liveP)
    snapshot.foreach { f => // "compacted" stand-in: copy snapshot files
      java.nio.file.Files.copy(bakP.resolve(f), liveP.resolve(f))
    }
    java.nio.file.Files.write(
      java.nio.file.Paths.get(root, "task_logs.compact-manifest"),
      snapshot.mkString("\n").getBytes("UTF-8"))
    // next access must sweep the straggler into live before any cleanup
    // could delete .bak — no acknowledged row is lost
    val rows = store.read[TaskLog]("task_logs").collect()
    assert(rows.map(_.id).sorted.toSeq == Seq(1L, 2L, 3L),
      s"straggler lost: ${rows.map(_.id).toSeq}")
    assert(!java.nio.file.Files.exists(bakP))
    assert(!java.nio.file.Files.exists(
      java.nio.file.Paths.get(root, "task_logs.compact-manifest")))
  }

  test("stale overwrite .bak at compaction time is cleared, not resurrected") {
    val root = tmpDir("cat")
    val store = new CatalogStore(spark, root)
    import spark.implicits._
    def log(i: Int) = TaskLog(i.toLong, 10, "success", s"m$i",
      ts(f"2026-01-01 10:${i}%02d:00"))
    (1 to 6).foreach(i => store.append(spark.createDataset(Seq(log(i))), "task_logs"))
    // plant overwrite residue: live intact, `.bak` holding a displaced file
    // under a name NOT in the live snapshot (a crash between overwrite's
    // tmp→live move and its bak cleanup). Pre-fix, compaction's swap threw
    // on the existing .bak AFTER writing the manifest, and the next
    // recover() swept this stale file into live as a "straggler" —
    // silently resurrecting a displaced row (here: duplicating id 1).
    val liveP = java.nio.file.Paths.get(root, "task_logs")
    val bakP = java.nio.file.Paths.get(root, "task_logs.bak")
    java.nio.file.Files.createDirectories(bakP)
    val f = {
      val s = java.nio.file.Files.list(liveP)
      try s.filter(_.getFileName.toString.endsWith(".parquet"))
        .findFirst().get().getFileName.toString
      finally s.close()
    }
    java.nio.file.Files.copy(liveP.resolve(f), bakP.resolve("stale-" + f))
    assert(store.compactIfFragmented[TaskLog]("task_logs", maxFiles = 4,
      numPartitions = 2))
    val rows = store.read[TaskLog]("task_logs").collect()
    assert(rows.map(_.id).sorted.toSeq == (1L to 6L),
      s"stale bak row resurrected: ${rows.map(_.id).sorted.toSeq}")
    assert(!java.nio.file.Files.exists(bakP))
  }

  test("hammer: concurrent writer threads + compaction cycles lose nothing, duplicate nothing, strand no .bak") {
    val root = tmpDir("cat")
    val store = new CatalogStore(spark, root)
    import spark.implicits._
    def log(i: Int) = TaskLog(i.toLong, 10, "success", s"m$i",
      ts("2026-01-01 10:00:00"))
    val nThreads = 4; val perThread = 8
    val errs = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
    val writers = (0 until nThreads).map { t =>
      new Thread(() => {
        try (0 until perThread).foreach { i =>
          store.append(spark.createDataset(Seq(log(t * perThread + i + 1))),
            "task_logs")
        } catch { case e: Throwable => errs.add(e) }
      })
    }
    @volatile var stop = false
    val compactions = new java.util.concurrent.atomic.AtomicInteger(0)
    val compactor = new Thread(() => {
      try while (!stop) {
        if (store.compactIfFragmented[TaskLog]("task_logs", maxFiles = 4,
            numPartitions = 2)) compactions.incrementAndGet()
        else Thread.sleep(20)
      } catch { case e: Throwable => errs.add(e) }
    })
    val readerErrs = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
    val reader = new Thread(() => { // reads racing swaps must never throw
      try while (!stop) { store.read[TaskLog]("task_logs").count(); Thread.sleep(10) }
      catch { case e: Throwable => readerErrs.add(e) }
    })
    writers.foreach(_.start()); compactor.start(); reader.start()
    writers.foreach(_.join(120000)); stop = true
    compactor.join(120000); reader.join(120000)
    assert(errs.isEmpty, s"writer/compactor error: ${errs.peek()}")
    assert(readerErrs.isEmpty, s"reader error: ${readerErrs.peek()}")
    // ensure at least one compaction actually exercised the swap path
    if (compactions.get() == 0)
      assert(store.compactIfFragmented[TaskLog]("task_logs", maxFiles = 4,
        numPartitions = 2))
    val rows = store.read[TaskLog]("task_logs").collect()
    assert(rows.map(_.id).sorted.toSeq == (1L to (nThreads * perThread).toLong),
      s"row set corrupted: ${rows.map(_.id).sorted.toSeq}")
    assert(!java.nio.file.Files.exists(
      java.nio.file.Paths.get(root, "task_logs.bak")))
    assert(!java.nio.file.Files.exists(
      java.nio.file.Paths.get(root, "task_logs.compact-manifest")))
  }

  test("full rewrite landing during compaction's unlocked window makes compaction YIELD — no resurrection, no duplication") {
    val root = tmpDir("cat")
    val store = new CatalogStore(spark, root)
    import spark.implicits._
    def log(i: Int) = TaskLog(i.toLong, 10, "success", s"m$i",
      ts(f"2026-01-01 10:${i}%02d:00"))
    (1 to 6).foreach(i => store.append(spark.createDataset(Seq(log(i))), "task_logs"))
    // a DELETE (read-modify-overwrite → ALL-new part file names) completes
    // while the compaction rewrite runs unlocked. Pre-fix, the locked swap
    // carried over every one of the racer's files onto the compacted OLD
    // snapshot: id 1 resurrected AND ids 2-6 duplicated. The fix detects
    // live ⊉ snapshot and yields the cycle.
    val ran = store.compactIfFragmented[TaskLog]("task_logs", maxFiles = 4,
      numPartitions = 2,
      beforeSwap = () => store.delete[TaskLog]("task_logs", _.id == 1))
    assert(!ran, "compaction of a stale snapshot must yield, not swap")
    val rows = store.read[TaskLog]("task_logs").collect()
    assert(rows.map(_.id).sorted.toSeq == (2L to 6L),
      s"racer's delete corrupted: ${rows.map(_.id).sorted.toSeq}")
    // no residue, and the NEXT (unraced) cycle compacts normally
    assert(!java.nio.file.Files.exists(java.nio.file.Paths.get(root, "task_logs.bak")))
    assert(!java.nio.file.Files.exists(java.nio.file.Paths.get(root, "task_logs.ctmp")))
    assert(!java.nio.file.Files.exists(
      java.nio.file.Paths.get(root, "task_logs.compact-manifest")))
    (7 to 10).foreach(i => store.append(spark.createDataset(Seq(log(i))), "task_logs"))
    assert(store.compactIfFragmented[TaskLog]("task_logs", maxFiles = 4,
      numPartitions = 2))
    assert(store.read[TaskLog]("task_logs").collect().map(_.id).sorted.toSeq ==
      (2L to 10L))
  }

  test("torn part file does not wedge compaction (quarantined before snapshot)") {
    import java.nio.file.{Files, Paths}
    val root = tmpDir("cat")
    val store = new CatalogStore(spark, root)
    import spark.implicits._
    def log(i: Int) = TaskLog(i.toLong, 10, "success", s"m$i",
      ts(f"2026-01-01 10:${i}%02d:00"))
    (1 to 6).foreach(i => store.append(spark.createDataset(Seq(log(i))), "task_logs"))
    // crash mid-append residue on a RARELY-READ table: pre-fix every
    // compaction attempt threw in the Spark rewrite (no quarantine pass ran
    // until some unrelated read()), so the small-files debt grew unboundedly
    val torn = Paths.get(root, "task_logs", "part-torn-crash.snappy.parquet")
    Files.write(torn, ("PAR1" + "x" * 64).getBytes("US-ASCII"))
    assert(store.compactIfFragmented[TaskLog]("task_logs", maxFiles = 4,
      numPartitions = 2))
    assert(store.read[TaskLog]("task_logs").collect().map(_.id).sorted.toSeq ==
      (1L to 6L))
    assert(Files.exists(Paths.get(root, "task_logs.quarantine")
      .resolve("part-torn-crash.snappy.parquet")), "torn file preserved")
  }

  test("two store instances over one root serialize (shared per-root locks)") {
    val root = tmpDir("cat")
    val a = new CatalogStore(spark, root)
    val b = new CatalogStore(spark, root)
    import spark.implicits._
    def log(i: Int) = TaskLog(i.toLong, 10, "success", s"m$i",
      ts("2026-01-01 10:00:00"))
    (1 to 6).foreach(i => a.append(spark.createDataset(Seq(log(i))), "task_logs"))
    // instance B appends through A's compaction swap window: with
    // per-instance locks this interleaved with the moves (recreating live
    // mid-swap and failing the second ATOMIC_MOVE); per-root locks make it
    // wait like a same-instance append
    @volatile var appendErr: Throwable = null
    val t = new Thread(() => {
      try b.append(spark.createDataset(Seq(log(7))), "task_logs")
      catch { case e: Throwable => appendErr = e }
    })
    val ran = a.compactIfFragmented[TaskLog]("task_logs", maxFiles = 4,
      numPartitions = 2, beforeSwap = () => { t.start(); Thread.sleep(300) })
    t.join(30000)
    assert(ran && appendErr == null, s"append failed: $appendErr")
    val rows = a.read[TaskLog]("task_logs").collect()
    assert(rows.map(_.id).sorted.toSeq == (1L to 7L))
  }

  test("crash between swap moves recovers from .bak on next access") {
    val root = tmpDir("cat")
    val store = new CatalogStore(spark, root)
    import spark.implicits._
    val l1 = TaskLog(1, 10, "success", "ok", ts("2026-01-01 10:00:00"))
    store.append(spark.createDataset(Seq(l1)), "task_logs")
    // simulate a JVM death between live->bak and tmp->live: live gone,
    // history stranded in .bak
    java.nio.file.Files.move(
      java.nio.file.Paths.get(root, "task_logs"),
      java.nio.file.Paths.get(root, "task_logs.bak"),
      java.nio.file.StandardCopyOption.ATOMIC_MOVE)
    // any entry path restores the displaced directory instead of seeing an
    // empty table forever (and the next cleanup deleting the history)
    assert(store.read[TaskLog]("task_logs").count() == 1)
  }

  // ---- driver-resident snapshot ------------------------------------------

  private def log(i: Int) = TaskLog(i.toLong, 10, "success", s"m$i",
    ts("2026-01-01 10:00:00"))
  private def logIds(store: CatalogStore): Seq[Long] =
    store.read[TaskLog]("task_logs").collect().map(_.id).sorted.toSeq
  private def partFiles(dir: java.nio.file.Path): Seq[String] = {
    val s = java.nio.file.Files.list(dir)
    try s.iterator.asScala.map(_.getFileName.toString)
      .filter(_.endsWith(".parquet")).toSeq.sorted
    finally s.close()
  }

  test("readers racing 50 updateRows swaps always see every row") {
    val store = new CatalogStore(spark, tmpDir("cat"))
    import spark.implicits._
    val ids = (1L to 5L).toSeq
    store.overwrite(spark.createDataset(ids.map(i => mkTask(i, s"t$i"))), "tasks")
    @volatile var stop = false
    val bad = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val reads = new java.util.concurrent.atomic.AtomicInteger()
    val readers = (1 to 3).map { _ =>
      new Thread(() => {
        try while (!stop) {
          val got = store.read[Task]("tasks").collect().map(_.id).sorted.toSeq
          reads.incrementAndGet()
          if (got != ids) bad.add(got.mkString(","))
        } catch { case e: Throwable => bad.add(e.toString) }
      })
    }
    readers.foreach(_.start())
    try (1 to 50).foreach { n =>
      store.updateRows[Task]("tasks", _.id == 1L, _.copy(name = s"v$n"))
    } finally { stop = true; readers.foreach(_.join(60000)) }
    assert(bad.isEmpty, s"${bad.size} of ${reads.get} reads were wrong, e.g. [${bad.peek()}]")
    assert(reads.get > 0)
    assert(store.read[Task]("tasks").collect().find(_.id == 1L).map(_.name).contains("v50"))
  }

  test("a part file with valid magic but an undecodable body fails the read loudly") {
    import java.nio.file.{Files, Paths}
    val root = tmpDir("cat")
    val store = new CatalogStore(spark, root)
    import spark.implicits._
    (1 to 2).foreach(i => store.append(spark.createDataset(Seq(log(i))), "task_logs"))
    Files.write(Paths.get(root, "task_logs", "part-garbled.snappy.parquet"),
      ("PAR1" + "garbage" * 16 + "PAR1").getBytes("US-ASCII"))
    // passes the magic check, so it is not quarantined; decoding must throw
    // rather than return the two intact rows as if they were the table
    intercept[Exception](store.read[TaskLog]("task_logs").collect())
  }

  test("snapshot coherence: a write through a second store on the same root") {
    val root = tmpDir("cat")
    val (a, b) = (new CatalogStore(spark, root), new CatalogStore(spark, root))
    import spark.implicits._
    a.append(spark.createDataset(Seq(log(1))), "task_logs")
    assert(logIds(a) == Seq(1L))
    b.append(spark.createDataset(Seq(log(2))), "task_logs")
    assert(logIds(a) == Seq(1L, 2L))
    b.delete[TaskLog]("task_logs", _.id == 1L)
    assert(logIds(a) == Seq(2L))
  }

  test("snapshot coherence: recover() restoring a .bak when live is missing") {
    import java.nio.file.{Files, Paths}
    val root = tmpDir("cat")
    val store = new CatalogStore(spark, root)
    import spark.implicits._
    store.append(spark.createDataset(Seq(log(1))), "task_logs")
    val saved = Paths.get(tmpDir("saved"), "v1")
    Files.move(Paths.get(root, "task_logs"), saved)
    store.append(spark.createDataset(Seq(log(2))), "task_logs")
    assert(logIds(store) == Seq(2L)) // snapshot now holds the newer table
    // a death between the swap's two moves: live gone, the older table in .bak
    graft.core.Fs.deleteRecursively(Paths.get(root, "task_logs"))
    Files.move(saved, Paths.get(root, "task_logs.bak"))
    assert(logIds(store) == Seq(1L))
  }

  test("snapshot coherence: a part file torn in place is quarantined") {
    import java.nio.file.{Files, Paths}
    val root = tmpDir("cat")
    val store = new CatalogStore(spark, root)
    import spark.implicits._
    val live = Paths.get(root, "task_logs")
    store.append(spark.createDataset(Seq(log(1))), "task_logs")
    val first = partFiles(live).toSet
    store.append(spark.createDataset(Seq(log(2))), "task_logs")
    assert(logIds(store) == Seq(1L, 2L))
    val second = (partFiles(live).toSet -- first).head
    // same name, torn content: the validation memo must not vouch for it
    Files.write(live.resolve(second), ("PAR1" + "x" * 64).getBytes("US-ASCII"))
    Files.deleteIfExists(live.resolve("." + second + ".crc"))
    assert(logIds(store) == Seq(1L))
    assert(Files.exists(Paths.get(root, "task_logs.quarantine", second)))
  }

  test("snapshot coherence: a compaction swap carrying an out-of-band straggler") {
    val root = tmpDir("cat")
    val store = new CatalogStore(spark, root)
    import spark.implicits._
    (1 to 6).foreach(i => store.append(spark.createDataset(Seq(log(i))), "task_logs"))
    assert(logIds(store) == (1L to 6L))
    // a row written straight into the live directory, bypassing the store,
    // is carried over by the swap; the next read must include it
    val ran = store.compactIfFragmented[TaskLog]("task_logs", maxFiles = 4,
      numPartitions = 2, beforeSwap = () => Seq(log(7)).toDS()
        .write.mode("append").parquet(s"$root/task_logs"))
    assert(ran)
    assert(logIds(store) == (1L to 7L))
  }

  test("snapshot coherence: an out-of-band rewrite under the same part-file name") {
    import java.nio.file.{Files, Paths, StandardCopyOption}
    val root = tmpDir("cat")
    val store = new CatalogStore(spark, root)
    import spark.implicits._
    store.append(spark.createDataset(Seq(log(1))), "task_logs")
    assert(logIds(store) == Seq(1L))
    val other = Paths.get(tmpDir("other"), "t")
    Seq(log(2), log(3)).toDS().coalesce(1).write.parquet(other.toString)
    val (src, dst) = (partFiles(other).head, partFiles(Paths.get(root, "task_logs")).head)
    assert(Files.size(other.resolve(src)) != Files.size(Paths.get(root, "task_logs", dst)))
    Files.copy(other.resolve(src), Paths.get(root, "task_logs", dst),
      StandardCopyOption.REPLACE_EXISTING)
    Files.copy(other.resolve("." + src + ".crc"), Paths.get(root, "task_logs", "." + dst + ".crc"),
      StandardCopyOption.REPLACE_EXISTING)
    assert(logIds(store) == Seq(2L, 3L))
  }

  test("snapshot hits start no Spark job; a miss starts exactly one read job") {
    val root = tmpDir("cat")
    val store = new CatalogStore(spark, root)
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    store.overwrite(spark.createDataset(Seq(mkTask(1, "a"), mkTask(2, "b"))), "tasks")
    assert(jobsDuring(assert(store.read[Task]("tasks").collect().length == 2)) == 1)
    assert(jobsDuring(assert(store.read[Task]("tasks").collect().length == 2)) == 0)
    assert(jobsDuring(assert(!store.read[Task]("tasks").filter(col("id") === 2L).isEmpty)) == 0)
    assert(jobsDuring(assert(store.read[Task]("tasks").filter(col("id") === 9L).isEmpty)) == 0)
    // writers refresh the snapshot with the rows they wrote
    store.upsert[Task]("tasks", Seq(mkTask(3, "c")), _.id)
    store.append(spark.createDataset(Seq(log(1))), "task_logs")
    assert(jobsDuring(assert(logIds(store) == Seq(1L))) == 1) // first read: miss
    store.append(spark.createDataset(Seq(log(2))), "task_logs")
    assert(jobsDuring {
      assert(store.read[Task]("tasks").collect().length == 3)
      assert(logIds(store) == Seq(1L, 2L))
    } == 0)
  }

  test("a table past SnapshotMaxRows is read from its files, not held on the driver") {
    val store = new CatalogStore(spark, tmpDir("cat"))
    import spark.implicits._
    val max = CatalogStore.SnapshotMaxRows
    store.overwrite((1 to max + 1).map(log).toDS(), "task_logs")
    // the miss counts rows by the footers and decodes nothing
    assert(jobsDuring(store.read[TaskLog]("task_logs")) == 0)
    // so every read scans the files
    assert(jobsDuring(assert(store.read[TaskLog]("task_logs").count() == max + 1)) >= 1)
    store.append(spark.createDataset(Seq(log(max + 2))), "task_logs")
    assert(jobsDuring(assert(store.read[TaskLog]("task_logs").count() == max + 2)) >= 1)
    // back within the bound, the rewrite's rows are the snapshot again
    store.delete[TaskLog]("task_logs", _.id > max)
    assert(jobsDuring(assert(logIds(store) == (1L to max.toLong))) == 0)
  }

  test("HttpApi's token check over snapshot suppliers starts no Spark job") {
    import java.net.URI
    import java.net.http.{HttpClient, HttpRequest, HttpResponse}
    import graft.serve.HttpApi
    val store = new CatalogStore(spark, tmpDir("cat"))
    import spark.implicits._
    store.overwrite(Seq(User(1L, "u", "salt:hash", ts("2026-01-01 00:00:00"))).toDS(), "users")
    store.overwrite(Seq(
      UserToken(1L, 1L, "live", ts("2099-01-01 00:00:00"), ts("2026-01-01 00:00:00")),
      UserToken(2L, 1L, "old", ts("2020-01-01 00:00:00"), ts("2019-01-01 00:00:00")),
      UserToken(3L, 2L, "orphan", ts("2099-01-01 00:00:00"), ts("2026-01-01 00:00:00"))).toDS(),
      "user_tokens")
    val api = new HttpApi(spark, HttpApi.Deps(
      tasks = () => store.read[Task]("tasks").toDF(),
      taskLogs = () => store.read[TaskLog]("task_logs").toDF(),
      sqlScripts = () => store.read[SqlScript]("sql_scripts").toDF(),
      notificationLogs = () => store.read[NotificationLog]("notification_logs").toDF(),
      emailConfigs = () => store.read[EmailConfig]("email_configs").toDF(),
      users = () => store.read[User]("users").toDF(),
      userTokens = () => store.read[UserToken]("user_tokens").toDF(),
      dbConfigs = () => store.read[DbConfig]("db_configs").toDF(),
      insert = (_, _, _) => Left("unused")))
    val port = api.start()
    val client = HttpClient.newHttpClient()
    // a non-numeric task id answers 404 right after the token check
    def status(token: String): Int = client.send(HttpRequest.newBuilder(
        URI.create(s"http://127.0.0.1:$port/api/task-logs/x"))
        .header("Authorization", s"Bearer $token").GET().build(),
      HttpResponse.BodyHandlers.ofString()).statusCode()
    try {
      assert(status("live") == 404) // first reads of both tables: misses
      assert(jobsDuring {
        assert(status("live") == 404)
        assert(status("old") == 401)    // expired
        assert(status("orphan") == 401) // no such user
        assert(status("nope") == 401)
      } == 0)
    } finally api.stop()
  }

  // ---- driver-side part-file writer ---------------------------------------

  test("writes of driver-held rows start no Spark job; a fresh Spark read returns the same rows") {
    val root = tmpDir("cat")
    val store = new CatalogStore(spark, root)
    import spark.implicits._
    val stamped = mkTask(1, "a").copy(scriptPath = Some("s.py"),
      lastRun = Some(ts("2026-03-04 05:06:07.123456")), dependencies = Some("2"))
    store.overwrite(Seq(stamped, mkTask(2, "b")).toDS(), "tasks")
    store.read[Task]("tasks").collect() // the miss an overwrite leaves
    assert(jobsDuring(store.upsert[Task]("tasks", Seq(mkTask(3, "c")), _.id)) == 0)
    assert(jobsDuring(assert(
      store.updateRows[Task]("tasks", _.id == 2L, _.copy(name = "b2")) == 1)) == 0)
    assert(jobsDuring(assert(store.delete[Task]("tasks", _.id == 3L) == 1L)) == 0)
    store.append(Seq(log(1)).toDS(), "task_logs")
    logIds(store) // the first read of a new table misses
    val later = TaskLog(2, 10, "failed", "", ts("2026-03-04 05:06:07.654321"))
    assert(jobsDuring(store.append(Seq(later).toDS(), "task_logs")) == 0)
    // reads that bypass the snapshot decode the driver-written files alike
    val tasks = spark.read.schema(Encoders.product[Task].schema)
      .parquet(s"$root/tasks").as[Task].collect().sortBy(_.id).toSeq
    assert(tasks == Seq(stamped, mkTask(2, "b2")))
    assert(tasks == store.read[Task]("tasks").collect().sortBy(_.id).toSeq)
    val logs = spark.read.schema(Encoders.product[TaskLog].schema)
      .parquet(s"$root/task_logs").as[TaskLog].collect().sortBy(_.id).toSeq
    assert(logs == Seq(log(1), later))
  }

  test("compaction over older Spark-written and driver-written parts keeps every row") {
    val root = tmpDir("cat")
    val store = new CatalogStore(spark, root)
    import spark.implicits._
    // parts as a Spark job writes them, then parts the store writes itself
    (1 to 3).foreach(i => Seq(log(i)).toDS().write.mode("append").parquet(s"$root/task_logs"))
    (4 to 6).foreach(i => store.append(Seq(log(i)).toDS(), "task_logs"))
    assert(partFiles(java.nio.file.Paths.get(root, "task_logs")).size == 6)
    assert(store.compactIfFragmented[TaskLog]("task_logs", maxFiles = 4, numPartitions = 2))
    assert(logIds(store) == (1L to 6L))
    assert(spark.read.parquet(s"$root/task_logs").as[TaskLog].collect()
      .sortBy(_.id).toSeq == (1 to 6).map(log))
  }

  test("a part file a crash left in .staging or .tmp is never live; the next write clears it") {
    import java.nio.file.{Files, Paths}
    val root = tmpDir("cat")
    val store = new CatalogStore(spark, root)
    import spark.implicits._
    (1 to 2).foreach(i => store.append(Seq(log(i)).toDS(), "task_logs"))
    val live = Paths.get(root, "task_logs")
    val parts = partFiles(live)
    val scratch = Seq("task_logs.staging", "task_logs.tmp").map(Paths.get(root, _))
    scratch.foreach { d => // a JVM death mid-write: header written, no footer
      Files.createDirectories(d)
      Files.write(d.resolve("part-00000-partial-c000.snappy.parquet"),
        ("PAR1" + "x" * 64).getBytes("US-ASCII"))
    }
    assert(logIds(store) == Seq(1L, 2L))
    assert(partFiles(live) == parts)
    store.append(Seq(log(3)).toDS(), "task_logs")
    assert(scratch.forall(!Files.exists(_)))
    assert(logIds(store) == Seq(1L, 2L, 3L))
    assert(!Files.exists(Paths.get(root, "task_logs.quarantine")), "nothing torn reached live")
  }

  test("a write that fails after opening its part file leaves the table as it was") {
    import java.nio.file.{Files, Paths}
    val root = tmpDir("cat")
    val store = new CatalogStore(spark, root)
    implicit val enc: Encoder[CatalogStoreSpec.Bomb] =
      Encoders.javaSerialization[CatalogStoreSpec.Bomb]
    def rows(ids: Long*) = spark.createDataset(ids.map(new CatalogStoreSpec.Bomb(_)))
    val live = Paths.get(root, "bombs")
    def liveIds = spark.read.parquet(live.toString).as[CatalogStoreSpec.Bomb]
      .collect().map(_.id).sorted.toSeq
    store.overwrite(rows(1), "bombs")
    val writes = Seq[(Dataset[CatalogStoreSpec.Bomb] => Unit, String)](
      (store.overwrite(_, "bombs"), "bombs.tmp"),
      (store.append(_, "bombs"), "bombs.staging"))
    writes.zipWithIndex.foreach { case ((write, scratch), i) =>
      val before = (partFiles(live), liveIds)
      val doomed = rows(10, CatalogStoreSpec.Bomb.Armed, 11)
      CatalogStoreSpec.Bomb.fuse.set(true)
      try intercept[Exception](write(doomed))
      finally CatalogStoreSpec.Bomb.fuse.set(false)
      assert(partFiles(Paths.get(root, scratch)).nonEmpty, "the write died mid-file")
      assert((partFiles(live), liveIds) == before)
      store.append(rows(2L + i), "bombs")
      assert(!Files.exists(Paths.get(root, scratch)))
    }
    assert(liveIds == Seq(1L, 2L, 3L))
  }
}

object CatalogStoreSpec {
  /** A row whose Java serialization throws while `fuse` is set and its id is
    * `Armed`: encoding it fails partway through a write. */
  final class Bomb(val id: Long) extends Serializable {
    private def writeObject(out: java.io.ObjectOutputStream): Unit = {
      if (id == Bomb.Armed && Bomb.fuse.get)
        throw new IllegalStateException("row refuses to encode")
      out.defaultWriteObject()
    }
  }
  object Bomb {
    val Armed = -1L
    val fuse = new java.util.concurrent.atomic.AtomicBoolean(false)
  }
}
