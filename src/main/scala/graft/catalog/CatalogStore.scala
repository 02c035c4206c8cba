package graft.catalog

import java.nio.file.{Files, NoSuchFileException, Path, Paths, StandardCopyOption}
import java.nio.file.attribute.BasicFileAttributes

import scala.jdk.CollectionConverters._
import scala.reflect.runtime.universe.TypeTag

import org.apache.hadoop.fs.{Path => HPath}
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.{Dataset, Encoder, Encoders, SaveMode, SparkSession}

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
  * tables use `append` mode instead of rewrite, so log writes scale with
  * the increment, not history size.
  *
  * Reads are served from a driver-resident snapshot of each table (see
  * [[read]]). A table holds its rows on the driver only up to
  * [[CatalogStore.SnapshotMaxRows]]; past that its snapshot is a Spark read
  * of its part files, so driver heap is bounded by the table count times
  * that many rows however long a deployment keeps its logs. Measured for
  * `task_logs` rows (~40-character messages; `SizeEstimator` over the
  * `LocalRelation`'s rows; medians of 21 hits; 4-core container, JDK 17,
  * Spark 4.1.2):
  *  - 2,992 rows (the reference's shipped `scheduler.db`): 0.45 MiB
  *    retained; a hit of `read[TaskLog]("task_logs")` 2.6 ms, 7.7 ms with
  *    `.collect()`;
  *  - 10,000 rows (the bound): 1.49 MiB (157 B/row); a hit 0.9 ms, 6.4 ms
  *    with `.collect()`, 137 ms for the scheduler's top-K window;
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
    implicit val enc: Encoder[T] = Encoders.product[T]
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
      .filter(s => s.parts == parts && s.cls == enc.clsTag.runtimeClass &&
                   (s.ds.sparkSession eq spark))
      .map(_.ds.asInstanceOf[Dataset[T]])

  /** Snapshot exactly `parts` (caller holds the table lock): decoded in one
    * Spark job when their footers count at most `SnapshotMaxRows` rows,
    * else left as a Spark read of the files. */
  private def load[T](table: String, parts: CatalogStore.Parts)(
      implicit enc: Encoder[T]): Dataset[T] =
    publish(table, parts,
      if (rowCount(table, parts) > CatalogStore.SnapshotMaxRows) None
      else Some(scan[T](table, parts).collect().toVector))

  /** Record `parts` as the table's snapshot (caller holds the table lock).
    * `rows` are what those files hold, if known; within `SnapshotMaxRows`
    * they become a `LocalRelation` built once here, so a hit does no
    * encoding. Otherwise the snapshot is a read of the files. */
  private def publish[T](table: String, parts: CatalogStore.Parts,
                         rows: Option[Vector[T]])(implicit enc: Encoder[T]): Dataset[T] = {
    val local = rows.filter(_.size <= CatalogStore.SnapshotMaxRows)
    val ds = local.fold(scan[T](table, parts))(spark.createDataset(_))
    CatalogStore.snapshots.put(tableKey(table),
      CatalogStore.Snapshot(parts, enc.clsTag.runtimeClass, ds, local.isDefined))
    ds
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
    * a crash mid-append (append is not atomic) must neither fail every
    * future read of the table nor be skipped silently. */
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

  /** Overwrite a table with a crash-safe swap: write to `<table>.tmp`, then
    * rename old → `.bak`, tmp → live, drop `.bak`. A crash leaves either the
    * old or the new directory intact, never a half-written live dir. */
  def overwrite[T](ds: Dataset[T], table: String): Unit = lockFor(table).synchronized {
    recover(table)
    val live = dir(table)
    val tmp = Paths.get(root, table + ".tmp")
    val bak = Paths.get(root, table + ".bak")
    deleteRecursively(tmp); deleteRecursively(bak)
    ds.write.mode(SaveMode.Overwrite).parquet(tmp.toString)
    if (Files.exists(live)) Files.move(live, bak, StandardCopyOption.ATOMIC_MOVE)
    Files.move(tmp, live, StandardCopyOption.ATOMIC_MOVE)
    deleteRecursively(bak)
    // the displaced rows no longer match any listing; free them now
    CatalogStore.snapshots.remove(tableKey(table))
  }

  /** [[overwrite]] with rows already on the driver, which then become the
    * table's snapshot: the next read is a hit, not a Spark read. */
  private def rewrite[T <: Product: TypeTag](table: String, rows: Seq[T]): Unit = {
    implicit val enc: Encoder[T] = Encoders.product[T]
    overwrite(spark.createDataset(rows), table)
    liveParts(table).foreach(publish(table, _, Some(rows.toVector)))
  }

  /** Append rows (log tables — task_logs / sql_alert_logs / notification_logs
    * are insert-only in the reference, S12). Serialized per table so an
    * append can never interleave with a compaction swap (its committer
    * renames into the directory being displaced). The rows are collected
    * first and the collected rows written, so a snapshot of the pre-append
    * files is extended with exactly what landed on disk; a log table's
    * snapshot stays a hit across appends instead of re-reading its whole
    * history after every tick. A snapshot past `SnapshotMaxRows` stays a
    * read of the files: appends only add rows. */
  def append[T](ds: Dataset[T], table: String): Unit = lockFor(table).synchronized {
    implicit val enc: Encoder[T] = ds.encoder
    recover(table)
    val rows = ds.collect().toVector
    val before = liveParts(table)
    spark.createDataset(rows).write.mode(SaveMode.Append).parquet(dir(table).toString)
    val prior = Option(CatalogStore.snapshots.get(tableKey(table)))
      .filter(s => before.contains(s.parts) && s.cls == enc.clsTag.runtimeClass &&
                   (s.ds.sparkSession eq spark))
    (prior, liveParts(table)) match {
      case (Some(s), Some(after)) => publish(table, after, Option.when(s.decoded)(
        s.ds.asInstanceOf[Dataset[T]].collect().toVector ++ rows))
      case _ => CatalogStore.snapshots.remove(tableKey(table))
    }
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
      // same torn-file pass read() runs: a crash mid-append leaves a part
      // file without parquet magic, and snapshotting it would make EVERY
      // compaction attempt of this table throw in the Spark rewrite below
      // until an unrelated read() happens to quarantine it — for a
      // rarely-read log table the small-files debt then grows unboundedly
      liveParts(table).fold(Set.empty[String])(_.keySet)
    }
    if (snapshot.size <= maxFiles) return false
    implicit val enc: Encoder[T] = Encoders.product[T]
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
    * read-early-then-upsert shape had. Returns the matched count. */
  def updateRows[T <: Product: TypeTag](table: String, pred: T => Boolean,
                                        f: T => T): Int =
    lockFor(table).synchronized {
      val existing = read[T](table).collect().toSeq
      rewrite(table, existing.map(r => if (pred(r)) f(r) else r))
      existing.count(pred)
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

  /** Live part files of a table: name → (size, mtime). */
  private type Parts = Map[String, (Long, Long)]

  /** What a read of a table returns while its part files are `parts`: their
    * rows as a `LocalRelation` (`decoded`), or a Spark read of the files. */
  private final case class Snapshot(parts: Parts, cls: Class[_], ds: Dataset[_],
                                    decoded: Boolean)

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
