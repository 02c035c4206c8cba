package graft.catalog

import java.nio.file.{Files, NoSuchFileException, Path, Paths, StandardCopyOption}
import java.nio.file.attribute.BasicFileAttributes
import java.util.UUID

import scala.jdk.CollectionConverters._
import scala.reflect.runtime.universe.{Type, TypeTag, typeTag}

import org.apache.hadoop.fs.{Path => HPath}
import org.apache.hadoop.mapreduce.{Job, TaskAttemptID}
import org.apache.hadoop.mapreduce.task.TaskAttemptContextImpl
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.{Dataset, Encoder, Encoders, SaveMode, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.encoders.encoderFor
import org.apache.spark.sql.catalyst.plans.logical.LocalRelation
import org.apache.spark.sql.catalyst.types.DataTypeUtils
import org.apache.spark.sql.execution.datasources.parquet.{ParquetOptions, ParquetUtils}
import org.apache.spark.sql.graftshim.PlanShim

/** Mutable metadata catalog over immutable Parquet — the reference's SQLite
  * CRUD surface (SURVEY.md §2.11 D1-D7) as read→transform→overwrite with a
  * crash-safe directory swap.
  *
  * Spark tables are immutable, so each mutation writes a fresh directory and
  * atomically renames it over the old one (temp-dir swap; web_scheduler.py's
  * rename-copy-drop migration D3 uses the same shape at table level).
  * Single-writer discipline from the driver mirrors the reference's one
  * scheduler thread + SQLite write lock.
  *
  * Catalog tables are metadata-sized, so full-rewrite upserts are cheap;
  * the 100 TB data path never goes through this store. Append-only log
  * tables use [[append]] instead of a rewrite, so a log write scales with
  * the increment, not the history.
  *
  * Every write of rows held on the driver — [[append]], [[overwrite]] and
  * the rewrites behind [[upsert]], [[updateRows]] and [[delete]] — writes
  * one part file on the driver with Spark's own Parquet writer
  * (`ParquetUtils.prepareWrite` → `OutputWriterFactory`, set up from this
  * session's conf), so it starts no Spark job, no task and no commit
  * protocol. The file is written into a scratch directory beside the
  * table, never into the live one: `<table>.tmp` for a rewrite, swapped in
  * whole, and `<table>.staging` for an append, whose one file is then
  * moved in. A reader therefore never lists a half-written part, and the
  * next write to the table clears whatever a write that died midway left
  * there. Measured per write against the Spark job it replaced (medians of
  * 21; 4-core container, JDK 17, Spark 4.1.2): appending one `task_logs`
  * row 145 → 59 ms, `updateRows` of one row of a 30-row `tasks` table
  * 187 → 59 ms. About 10 ms of those 59 went to opening the part file,
  * and 8 of the 10 to a forked `chmod` for the file and another for its
  * `.crc`; the engine's file system ([[graft.core.LocalFs]]) sets the
  * mode without a process, and a one-row append then took 27–41 ms
  * against 34–51 ms, a 30-row rewrite 23–36 against 35–46 ms (medians of
  * 21, three runs each, same container). Only [[compactIfFragmented]]
  * still writes through Spark: it reads more than `maxFiles` part files
  * and rewrites them as `numPartitions` files, which is executor work,
  * and the daemon runs it once every 600 ticks.
  *
  * Reads are served from a driver-resident snapshot of each table (see
  * [[read]]). A table holds its rows on the driver only up to
  * [[CatalogStore.SnapshotMaxRows]]; past that its snapshot is a Spark read
  * of its part files, so driver heap is bounded by the table count times
  * that many rows however long a deployment keeps its logs. Within the
  * bound a snapshot is a `LocalRelation`, and the store registers
  * [[LocalFold]] on its session, so the joins, sorts, windows and
  * aggregates that the API, the scheduler and the admin routes run over
  * snapshots are evaluated on the driver and start no Spark job either.
  * What stays a Spark job: the decode of a table on a snapshot miss, every
  * read past the bound, compaction, and any query shape that `LocalFold`
  * leaves to Spark. Measured for `task_logs` rows (~40-character messages;
  * `SizeEstimator` over the `LocalRelation`'s rows; medians of 21 hits;
  * 4-core container, JDK 17, Spark 4.1.2):
  *  - 2,992 rows (the reference's shipped `scheduler.db`): 0.45 MiB
  *    retained; a hit of `read[TaskLog]("task_logs")` 2.6 ms, 7.7 ms with
  *    `.collect()`;
  *  - 10,000 rows (the bound): 1.49 MiB (157 B/row); `.collect()` of a hit
  *    3.5 ms, the scheduler's top-K window 45 ms, folded (190 ms as Spark
  *    jobs); a one-row append 18–21 ms, as at 100 rows;
  *  - 100k rows: nothing retained; every read is a Spark scan (`.collect()`
  *    96 ms, the window 129 ms, on a freshly overwritten table).
  */
final class CatalogStore(spark: SparkSession, root: String) {

  // Cross-PROCESS ownership (r9): the writer discipline below serializes
  // THREADS via in-JVM monitors, but two JVMs interleaving swap moves on
  // one root would corrupt it — the reference has the same constraint
  // (one Flask process per scheduler.db; SQLite enforces it with its own
  // file lock). Enforce it the same way: claim an OS file lock on the
  // root for this process's lifetime, FAIL LOUD if another process owns
  // it, and let the OS release the claim on (even abnormal) exit. A
  // second CatalogStore over the same root in THIS process is fine — the
  // claim is idempotent and the static per-root table locks already
  // serialize in-JVM writers. CrossProcessLockSpec pins the two-process
  // behavior with a forked JVM.
  if (!graft.core.Locks.tryOwnProcessWide(Paths.get(root, "_graft_owner.lock")))
    throw new IllegalStateException(
      s"catalog root '$root' is owned by another running graft process; " +
      "two processes must not write one catalog (reference parity: one " +
      "scheduler process per scheduler.db). Point this instance at its " +
      "own root, or stop the other process.")

  // snapshots are LocalRelations; the rule folds the joins, sorts, windows
  // and aggregates the catalog's readers run over them
  LocalFold.setup(spark)

  private def dir(table: String): Path = Paths.get(root, table)

  /** Per-table writer lock: appends (run-now handler threads), overwrites,
    * and compaction all serialize per table. Without it, an append landing
    * between compaction's two swap moves recreates the live dir and the
    * second ATOMIC_MOVE fails — stranding the whole history in `.bak`
    * until the next tmp/bak cleanup deletes it. Reentrant (synchronized),
    * so the compaction test seam's same-thread append still works. */
  private val canonicalRoot: String =
    Paths.get(root).toAbsolutePath.normalize.toString
  private def tableKey(table: String): String = canonicalRoot + "\u0000" + table
  private def lockFor(table: String): Object =
    CatalogStore.tableLocks.computeIfAbsent(tableKey(table), _ => new Object)

  /** Crash recovery, called first on every entry path (under the table
    * lock for mutators). Two windows exist:
    *  - a JVM death between the swap's live→bak and tmp→live moves leaves
    *    no live dir but an intact `.bak` → restore it, else read() sees an
    *    empty table forever and the next cleanup deletes the history;
    *  - a death between a COMPACTION swap and its carry-over loop leaves
    *    live (compacted) + `.bak` holding straggler appends that landed
    *    after the snapshot. The compaction manifest (written before the
    *    swap, deleted after carry-over) records the snapshotted file set,
    *    so the stragglers are identifiable and swept into live instead of
    *    silently deleted with `.bak`. An overwrite's `.bak` (no manifest)
    *    is old displaced data and must NOT be resurrected. */
  private def recover(table: String): Unit = {
    val live = dir(table)
    val bak = Paths.get(root, table + ".bak")
    val manifest = manifestPath(table)
    if ((!Files.exists(live) && Files.exists(bak)) ||
        Files.exists(manifest)) lockFor(table).synchronized {
      if (!Files.exists(live) && Files.exists(bak))
        Files.move(bak, live, StandardCopyOption.ATOMIC_MOVE)
      if (Files.exists(manifest)) {
        if (Files.exists(bak)) {
          val snapshot = new String(Files.readAllBytes(manifest), "UTF-8")
            .split("\n").toSet
          parquetFiles(bak).diff(snapshot).foreach { f =>
            if (!Files.exists(live.resolve(f))) moveWithCrc(bak, live, f)
          }
          deleteRecursively(bak)
        }
        Files.delete(manifest)
      }
    }
  }

  private def manifestPath(table: String): Path =
    Paths.get(root, table + ".compact-manifest")

  def exists(table: String): Boolean = { recover(table); Files.exists(dir(table)) }

  /** Read a table as a typed Dataset; empty if never written.
    *
    * Served from the table's JVM-wide snapshot when the live part-file set
    * (names, sizes and mtimes, from the listing that also quarantines torn
    * files) equals the set the snapshot was taken of. Up to
    * `SnapshotMaxRows` rows the result is a `LocalRelation`, so filters,
    * `collect` and `isEmpty` on it run with no Spark job and no file open.
    * Any other listing — a write through another store instance,
    * `recover()` restoring a `.bak`, a quarantined file, a compaction swap,
    * an out-of-band rewrite — misses, and the miss decodes exactly the
    * listed files under the table lock, where no writer can move them
    * mid-read. A listing taken during a swap (live directory briefly
    * absent, or a file vanishing mid-listing) is not a snapshot key at all
    * and also waits on the lock, so a read sees the old table or the new
    * one, never an empty or partial one. A part file that cannot be
    * decoded fails the read; no rows are skipped silently.
    *
    * Past `SnapshotMaxRows` (by the footers' row counts) the result is a
    * Spark read of the listed files instead, opened when it runs, outside
    * the lock: a compaction swap landing in between fails that read with a
    * missing file rather than returning fewer rows. */
  def read[T <: Product: TypeTag](table: String): Dataset[T] = {
    implicit val enc: Encoder[T] = CatalogStore.encoder[T]
    recover(table)
    liveParts(table).flatMap(snapshot[T](table, _)).getOrElse {
      lockFor(table).synchronized {
        recover(table)
        liveParts(table).fold(spark.emptyDataset[T])(parts =>
          snapshot[T](table, parts).getOrElse(load[T](table, parts)))
      }
    }
  }

  private def snapshot[T](table: String, parts: CatalogStore.Parts)(
      implicit enc: Encoder[T]): Option[Dataset[T]] =
    Option(CatalogStore.snapshots.get(tableKey(table)))
      .filter(s => s.parts == parts && s.cls == enc.clsTag.runtimeClass && (s.spark eq spark))
      .map(_.ds.asInstanceOf[Dataset[T]])

  /** Snapshot exactly `parts` (caller holds the table lock): decoded in one
    * Spark job when their footers count at most `SnapshotMaxRows` rows,
    * else left as a Spark read of the files. */
  private def load[T](table: String, parts: CatalogStore.Parts)(
      implicit enc: Encoder[T]): Dataset[T] =
    publish(table, parts,
      if (rowCount(table, parts) > CatalogStore.SnapshotMaxRows) None
      else Some(encoded(scan[T](table, parts).collect()).toVector)
    ).ds.asInstanceOf[Dataset[T]]

  /** `rows` as the `InternalRow`s that a `LocalRelation` and the Parquet
    * writer take, each encoded as it is reached. */
  private def encoded[T](rows: Iterable[T])(implicit enc: Encoder[T]): Iterator[InternalRow] = {
    val toRow = encoderFor(enc).createSerializer()
    rows.iterator.map(toRow(_).copy())
  }

  /** Record `parts` as the table's snapshot (caller holds the table lock).
    * `rows` are what those files hold, encoded, if known; within
    * `SnapshotMaxRows` they become the data of a `LocalRelation`, built at
    * the first read (Spark analyses a new Dataset in time that grows with
    * its rows, and a log table may take several appends between reads), so
    * a hit does no encoding. Otherwise the snapshot is a read of the files,
    * listed now, under the lock. */
  private def publish[T](table: String, parts: CatalogStore.Parts,
                         rows: Option[Vector[InternalRow]])(
      implicit enc: Encoder[T]): CatalogStore.Snapshot = {
    def snapshot(rows: Option[Vector[InternalRow]], ds: => Dataset[T]) =
      new CatalogStore.Snapshot(parts, enc.clsTag.runtimeClass, spark, rows, ds)
    val s = rows.filter(_.size <= CatalogStore.SnapshotMaxRows) match {
      case local @ Some(r) =>
        snapshot(local, PlanShim.dataset[T](spark,
          LocalRelation(DataTypeUtils.toAttributes(enc.schema), r)))
      case None =>
        val files = scan[T](table, parts)
        snapshot(None, files)
    }
    CatalogStore.snapshots.put(tableKey(table), s)
    s
  }

  /** A Spark read of the live directory, which under the table lock holds
    * exactly `parts`. The listing is taken now; the files are opened when
    * the Dataset runs. */
  private def scan[T](table: String, parts: CatalogStore.Parts)(
      implicit enc: Encoder[T]): Dataset[T] =
    if (parts.isEmpty) spark.emptyDataset[T]
    else spark.read.schema(enc.schema).parquet(dir(table).toString).as[T]

  /** Rows in `parts` by their parquet footers (no Spark job), counting no
    * further than one past `SnapshotMaxRows`. An unreadable footer throws. */
  private def rowCount(table: String, parts: CatalogStore.Parts): Long = {
    val conf = spark.sparkContext.hadoopConfiguration
    parts.keysIterator.foldLeft(0L) { (n, f) =>
      if (n > CatalogStore.SnapshotMaxRows) n
      else {
        val r = ParquetFileReader.open(HadoopInputFile.fromPath(
          new HPath(dir(table).resolve(f).toUri), conf))
        try n + r.getRecordCount finally r.close()
      }
    }
  }

  /** (table, name, size, mtime) of part files that passed [[liveParts]]'s
    * magic check. */
  private val validatedParts = java.util.concurrent.ConcurrentHashMap
    .newKeySet[(String, String, Long, Long)]()

  /** name → (size, mtime) of every live part file, or None when the live
    * directory is absent or vanishes mid-listing (a swap in flight).
    *
    * Each part file is also structurally validated ONCE per (name, size,
    * mtime) — parquet magic `PAR1` at head and tail, which a torn write
    * can't have both of — and a file that fails is moved to
    * `<table>.quarantine/` with a loud warning and left out of the result:
    * a part torn in the live directory (a file written there by an older
    * in-place append, by a writer outside the store, or damaged on disk)
    * must neither fail every future read of the table nor be skipped
    * silently. */
  private def liveParts(table: String): Option[CatalogStore.Parts] = {
    val d = dir(table)
    if (!Files.exists(d)) return None
    try {
      Some(parquetFiles(d).toSeq.flatMap { f =>
        val p = d.resolve(f)
        val a = Files.readAttributes(p, classOf[BasicFileAttributes])
        val (size, mtime) = (a.size, a.lastModifiedTime.toMillis)
        if (validatedParts.contains((table, f, size, mtime))) Some(f -> (size, mtime))
        else hasParquetMagic(p) match {
          case Some(true) =>
            validatedParts.add((table, f, size, mtime)); Some(f -> (size, mtime))
          case Some(false) => // read SUCCEEDED and the magic is absent —
            // structurally torn for sure; only this case may quarantine
            val q = Paths.get(root, table + ".quarantine")
            Files.createDirectories(q)
            try {
              moveWithCrc(d, q, f)
              System.err.println(s"[graft] catalog table '$table': part file " +
                s"'$f' is structurally torn (missing parquet magic) — " +
                s"quarantined to $q for inspection")
            } catch { // concurrent reader quarantined it first — same outcome
              case _: NoSuchFileException => ()
            }
            None
          case None => Some(f -> (size, mtime)) // could NOT read (fd
            // pressure, permissions) — never quarantine on a failed check: a
            // transient IOException on a VALID committed file must not
            // permanently drop its rows. Not memoized; re-checked next
            // listing, and a truly unreadable file fails the Spark read.
        }
      }.toMap)
    } catch {
      case _: NoSuchFileException => None
      case e: java.io.UncheckedIOException
        if e.getCause.isInstanceOf[NoSuchFileException] => None
    }
  }

  /** Some(true)=valid, Some(false)=definitively torn (successful read,
    * magic absent), None=unreadable right now (verdict withheld). */
  private def hasParquetMagic(p: Path): Option[Boolean] = {
    val magic = "PAR1".getBytes("US-ASCII")
    var ch: java.nio.channels.SeekableByteChannel = null
    try {
      ch = Files.newByteChannel(p)
      if (ch.size < 8) return Some(false)
      def readAt(pos: Long): Array[Byte] = {
        val buf = java.nio.ByteBuffer.allocate(4)
        ch.position(pos)
        while (buf.hasRemaining && ch.read(buf) >= 0) {}
        buf.array()
      }
      Some(java.util.Arrays.equals(readAt(0), magic) &&
           java.util.Arrays.equals(readAt(ch.size - 4), magic))
    } catch { case _: java.io.IOException => None }
    finally if (ch != null) ch.close()
  }

  /** Overwrite a table with a crash-safe swap: the Dataset's rows are
    * collected and written as one part file into `<table>.tmp`, then old →
    * `.bak`, tmp → live, drop `.bak`. A crash leaves either the old or the
    * new directory intact, never a half-written live dir. */
  def overwrite[T](ds: Dataset[T], table: String): Unit = lockFor(table).synchronized {
    replace(table, ds.collect().toSeq)(ds.encoder)
  }

  /** The swap behind [[overwrite]] for rows already on the driver (caller
    * holds the table lock). The displaced rows no longer match any listing,
    * so their snapshot is dropped. Returns the rows as written, encoded. */
  private def replace[T](table: String, rows: Seq[T])(
      implicit enc: Encoder[T]): Vector[InternalRow] = {
    recover(table)
    val live = dir(table)
    val tmp = Paths.get(root, table + ".tmp")
    val bak = Paths.get(root, table + ".bak")
    clearScratch(table); deleteRecursively(bak)
    val (_, written) = writePart(tmp, rows)
    if (Files.exists(live)) Files.move(live, bak, StandardCopyOption.ATOMIC_MOVE)
    Files.move(tmp, live, StandardCopyOption.ATOMIC_MOVE)
    deleteRecursively(bak)
    CatalogStore.snapshots.remove(tableKey(table))
    written
  }

  /** [[replace]], after which the written rows become the table's snapshot:
    * the next read is a hit, not a Spark read. Caller holds the table lock. */
  private def rewrite[T <: Product: TypeTag](table: String, rows: Seq[T]): Unit = {
    implicit val enc: Encoder[T] = CatalogStore.encoder[T]
    val written = replace(table, rows)
    liveParts(table).foreach(publish(table, _, Some(written)))
  }

  /** Append rows (log tables — task_logs / sql_alert_logs / notification_logs
    * are insert-only in the reference, S12). Serialized per table so an
    * append can never interleave with a compaction swap. The rows are
    * collected, written as one part file into `<table>.staging` and moved
    * into the live directory whole, so a reader never lists a half-written
    * part. A snapshot of the pre-append files is then extended with exactly
    * those rows, encoded once for the file and the snapshot alike, so a log
    * table's snapshot stays a hit across appends, and an append costs time
    * in proportion to the rows it adds, not to the table. A snapshot past
    * `SnapshotMaxRows` stays a read of the files: appends only add rows. */
  def append[T](ds: Dataset[T], table: String): Unit = lockFor(table).synchronized {
    implicit val enc: Encoder[T] = ds.encoder
    recover(table)
    val rows = ds.collect().toSeq
    val before = liveParts(table)
    val staging = Paths.get(root, table + ".staging")
    clearScratch(table)
    val (part, written) = writePart(staging, rows)
    Files.createDirectories(dir(table))
    moveWithCrc(staging, dir(table), part)
    deleteRecursively(staging)
    val prior = Option(CatalogStore.snapshots.get(tableKey(table)))
      .filter(s => before.contains(s.parts) && s.cls == enc.clsTag.runtimeClass &&
                   (s.spark eq spark))
    (prior, liveParts(table)) match {
      case (Some(s), Some(after)) => publish(table, after, s.rows.map(_ ++ written))
      case _ => CatalogStore.snapshots.remove(tableKey(table))
    }
  }

  /** Drop what a write that died midway left in the table's scratch
    * directories (`.tmp` of [[replace]], `.staging` of [[append]]). Neither
    * is ever listed as live; caller holds the table lock. */
  private def clearScratch(table: String): Unit = {
    deleteRecursively(Paths.get(root, table + ".tmp"))
    deleteRecursively(Paths.get(root, table + ".staging"))
  }

  /** Write `rows` as one new part file in `into` (created if absent) and
    * return its name and the rows as encoded for it, which a snapshot then
    * holds without encoding them again. This is Spark's own Parquet writer,
    * set up from this session's conf the way `FileFormatWriter` sets it up
    * (timestamp type, codec, rebase modes), but called on the driver: no
    * Spark job, no task, no commit protocol. Callers write only into a
    * scratch directory and move the finished file in. */
  private def writePart[T](into: Path, rows: Seq[T])(
      implicit enc: Encoder[T]): (String, Vector[InternalRow]) = {
    val conf = spark.sessionState.conf
    val job = Job.getInstance(spark.sessionState.newHadoopConf())
    val factory = ParquetUtils.prepareWrite(conf, job, enc.schema,
      new ParquetOptions(Map.empty[String, String], conf))
    val ctx = new TaskAttemptContextImpl(job.getConfiguration, new TaskAttemptID())
    val name = s"part-00000-${UUID.randomUUID}-c000${factory.getFileExtension(ctx)}"
    Files.createDirectories(into)
    val out = factory.newInstance(into.resolve(name).toUri.toString, enc.schema, ctx)
    val written = Vector.newBuilder[InternalRow]
    try encoded(rows).foreach { row =>
      out.write(row)
      written += row
    } finally out.close()
    (name, written.result())
  }

  /** Move a part file AND its hidden ChecksumFileSystem `.crc` sibling, so
    * the file keeps its checksum and no orphaned `.crc` is left behind. */
  private def moveWithCrc(from: Path, to: Path, f: String): Unit = {
    Files.move(from.resolve(f), to.resolve(f), StandardCopyOption.ATOMIC_MOVE)
    val crc = "." + f + ".crc"
    if (Files.exists(from.resolve(crc)))
      Files.move(from.resolve(crc), to.resolve(crc),
        StandardCopyOption.ATOMIC_MOVE, StandardCopyOption.REPLACE_EXISTING)
  }

  /** Names of the part files in `p` (empty when `p` is absent) — the one
    * definition of what a part file is. */
  private def parquetFiles(p: Path): Set[String] =
    if (!Files.exists(p)) Set.empty
    else {
      val s = Files.list(p)
      try s.iterator.asScala.map(_.getFileName.toString).filter(_.endsWith(".parquet")).toSet
      finally s.close()
    }

  /** Compact a fragmented log table: append mode writes ONE parquet file
    * per append, so a 1 s-tick daemon produces ~86k files/day and scan
    * cost grows with the file count, not the row count (the classic
    * small-files problem). When fragmentation exceeds `maxFiles`, rewrite
    * the SNAPSHOTTED file set into `numPartitions` files and swap.
    *
    * Concurrency: the expensive Spark rewrite runs OUTSIDE the table lock
    * (appends proceed during it — snapshot files are immutable, appends
    * only add files); only the swap + carry-over holds the lock, so an
    * append either completes before the swap (carried over via the
    * snapshot diff — part-file names are unique) or briefly waits and
    * lands in the new live dir. A FULL rewrite (overwrite/upsert/delete)
    * completing during the unlocked window invalidates the snapshot
    * entirely — the locked swap detects it (live no longer ⊇ snapshot)
    * and YIELDS the cycle rather than sweeping the racer's new state on
    * top of stale compacted rows. Crash-safety: the tmp/bak swap of
    * [[overwrite]] plus a manifest of the snapshotted file set written
    * before the swap — recover() uses it to sweep straggler appends out
    * of a `.bak` orphaned between the moves and the carry-over, instead
    * of the next cleanup silently deleting them. Returns true if a
    * compaction ran.
    *
    * `beforeSwap` is a test seam: CatalogStoreSpec injects appends there
    * (same-thread and cross-thread) to pin the carry-over path. */
  def compactIfFragmented[T <: Product: TypeTag](
      table: String, maxFiles: Int = 512, numPartitions: Int = 4,
      beforeSwap: () => Unit = () => ()): Boolean = {
    val live = dir(table)
    val ctmp = Paths.get(root, table + ".ctmp") // distinct from overwrite's .tmp
    val bak = Paths.get(root, table + ".bak")
    // snapshot + cleanup under a brief lock; the multi-second Spark
    // rewrite below runs UNLOCKED so appends stay concurrent with it
    // (snapshot files are immutable — append only adds files) and land in
    // live, to be carried over after the swap
    val snapshot = lockFor(table).synchronized {
      recover(table)
      deleteRecursively(ctmp)
      // a `.bak` surviving recover() here can only be overwrite residue
      // (live exists, no manifest — a crash between overwrite's tmp→live
      // move and its bak cleanup). Clear it now: left in place, the swap's
      // live→bak ATOMIC_MOVE below would throw AFTER the manifest is
      // written, and the next recover() would sweep the STALE bak's files
      // (not in the snapshot) into live, silently resurrecting displaced
      // rows.
      deleteRecursively(bak)
      // same torn-file pass read() runs: a torn live part (see liveParts)
      // has no parquet magic, and snapshotting it would make EVERY
      // compaction attempt of this table throw in the Spark rewrite below
      // until an unrelated read() happens to quarantine it — for a
      // rarely-read log table the small-files debt then grows unboundedly
      liveParts(table).fold(Set.empty[String])(_.keySet)
    }
    if (snapshot.size <= maxFiles) return false
    implicit val enc: Encoder[T] = CatalogStore.encoder[T]
    spark.read.schema(enc.schema)
      .parquet(snapshot.toSeq.map(f => live.resolve(f).toString): _*)
      .repartition(numPartitions)
      .write.mode(SaveMode.Overwrite).parquet(ctmp.toString)
    beforeSwap()
    // swap + carry-over under the lock: an append either completes before
    // the swap acquires the lock (carried over via the snapshot diff) or
    // waits and lands in the NEW live — never mid-swap. The manifest makes
    // the carry-over crash-recoverable: a death between the moves and the
    // diff loop leaves stragglers in .bak identifiable by recover().
    lockFor(table).synchronized {
      // same stale-overwrite-residue guard as the snapshot section: an
      // overwrite crashing during the unlocked rewrite above could leave
      // a fresh `.bak`; fail-safe is to clear it BEFORE the manifest
      // exists, so recover() can never mistake its files for stragglers
      deleteRecursively(bak)
      // YIELD if a FULL REWRITE (overwrite/upsert/delete) completed during
      // the unlocked Spark rewrite: its part files are all new names, so
      // the snapshot diff below would sweep the racer's ENTIRE new state on
      // top of the compacted OLD snapshot — resurrecting rows the racer
      // deleted and duplicating rows it kept. Only append deltas (live ⊇
      // snapshot still holds: appends never remove snapshot files) may
      // carry over; compaction of a stale snapshot must skip this cycle.
      if (!snapshot.subsetOf(parquetFiles(live))) {
        deleteRecursively(ctmp)
        return false
      }
      Files.write(manifestPath(table), snapshot.mkString("\n").getBytes("UTF-8"))
      Files.move(live, bak, StandardCopyOption.ATOMIC_MOVE)
      Files.move(ctmp, live, StandardCopyOption.ATOMIC_MOVE)
      parquetFiles(bak).diff(snapshot).foreach(f => moveWithCrc(bak, live, f))
      deleteRecursively(bak)
      Files.delete(manifestPath(table))
    }
    true
  }

  /** Row-level upsert by key: replaces rows whose key is present in `rows`,
    * keeps the rest (the reference's dynamic partial-UPDATE builders D7,
    * web_scheduler.py:2216-2271, as read-modify-overwrite). */
  def upsert[T <: Product: TypeTag](table: String, rows: Seq[T], key: T => Long): Unit =
    lockFor(table).synchronized { // atomic read-modify-write (lock is reentrant)
      val existing = read[T](table).collect().toSeq
      val keys = rows.map(key).toSet
      rewrite(table, existing.filterNot(r => keys.contains(key(r))) ++ rows)
    }

  /** Read-modify-write of the rows matching `pred` under the table lock:
    * re-reads the CURRENT rows and applies `f` to them, so a caller that
    * only wants to stamp one field (run-now's lastRun, the scheduler's
    * next_run advance) cannot revert a concurrent admin edit by upserting
    * a stale pre-execution snapshot — the lost-update the plain
    * read-early-then-upsert shape had. Returns the matched count; when
    * nothing matches, nothing is written. */
  def updateRows[T <: Product: TypeTag](table: String, pred: T => Boolean,
                                        f: T => T): Int =
    lockFor(table).synchronized {
      val existing = read[T](table).collect().toSeq
      val matched = existing.count(pred)
      if (matched > 0) rewrite(table, existing.map(r => if (pred(r)) f(r) else r))
      matched
    }

  /** Delete rows by key predicate (FK-guard checks live in callers,
    * web_scheduler.py:3920-3938). */
  def delete[T <: Product: TypeTag](table: String, pred: T => Boolean): Long =
    lockFor(table).synchronized {
      val existing = read[T](table).collect()
      val keep = existing.filterNot(pred)
      rewrite(table, keep.toSeq)
      (existing.length - keep.length).toLong
    }

  private def deleteRecursively(p: Path): Unit =
    graft.core.Fs.deleteRecursively(p)
}

object CatalogStore {
  /** Writer locks keyed by canonical root + table, shared across ALL store
    * instances in this JVM — two instances over the same root serialize
    * against each other (previously each instance had its own lock map and
    * the interleaved-swap failure the lock prevents returned in that
    * configuration). The manifest/recover protocol is file-based but the
    * locks are not: CROSS-PROCESS writers over one root are NOT supported —
    * mirror of the reference's one-scheduler-process + SQLite write lock
    * assumption. */
  private val tableLocks =
    new java.util.concurrent.ConcurrentHashMap[String, Object]()

  /** The product encoder of each row type, derived once. Deriving one walks
    * the case class with Scala runtime reflection, which Spark runs under a
    * JVM-wide lock, and every read and rewrite of a table needs one: the
    * API's concurrent requests each read several tables. An encoder is
    * immutable, so one per type serves every store and thread. */
  private val encoders = new java.util.concurrent.ConcurrentHashMap[Type, Encoder[_]]()
  private[graft] def encoder[T <: Product: TypeTag]: Encoder[T] =
    encoders.computeIfAbsent(typeTag[T].tpe, _ => Encoders.product[T]).asInstanceOf[Encoder[T]]

  /** Live part files of a table: name → (size, mtime). */
  private type Parts = Map[String, (Long, Long)]

  /** What a read of a table in `spark` returns while its part files are
    * `parts`: a `LocalRelation` of their encoded `rows`, or (`rows` empty) a
    * Spark read of the files. An append extends `rows` as an immutable
    * `Vector`, in time proportional to the rows it adds; `ds` is built at
    * the first read. */
  private final class Snapshot(val parts: Parts, val cls: Class[_], val spark: SparkSession,
                               val rows: Option[Vector[InternalRow]], dataset: => Dataset[_]) {
    lazy val ds: Dataset[_] = dataset
  }

  /** Most rows a table's snapshot holds on the driver (1.5 MiB of
    * `task_logs`; the reference ships 2,992). Within it a hit runs no Spark
    * job; past it every read scans the files. */
  private[catalog] val SnapshotMaxRows = 10000

  /** One snapshot per table, keyed like [[tableLocks]] so every store
    * instance over a root shares it. Writers replace it under the table
    * lock; readers use it only when their own listing equals its `parts`.
    * Coherent because the root's `_graft_owner.lock` claim means no other
    * process writes these directories. */
  private val snapshots =
    new java.util.concurrent.ConcurrentHashMap[String, Snapshot]()
}
