package graft.core

import org.apache.spark.sql.SparkSession
import java.nio.file.{Files, Path, Paths}
import java.util.Comparator

/** Cross-session reuse of ingest-time warehouse artifacts (IVF cell
  * layouts, MinHash signature tables — the "write once at ingest, read
  * forever" side of the 100 TB design).
  *
  * Spark's default in-memory catalog forgets table METADATA at JVM exit
  * while the managed table FILES persist under `spark.sql.warehouse.dir`.
  * An ingest artifact is only worth its name if a later session reuses it
  * instead of re-running ingest, so: the writer drops a `_graft_meta.json`
  * (config fingerprint) into the table directory, and [[ensureRegistered]]
  * re-attaches a later session to the same files by creating an EXTERNAL
  * bucketed table over them — bucket metadata intact, zero Spark jobs.
  * Underscore-prefixed files are invisible to Spark's file index, so the
  * meta file never pollutes reads.
  *
  * Staleness: the fingerprint carries every layout-affecting parameter
  * (k/bands/nlist/dim/bucket count) plus the corpus identity the caller
  * encodes in the table NAME (md5 of the source dir). A mismatch — or a
  * directory without a fingerprint — clears the artifact and reports
  * "not reusable", so the caller rebuilds. In-process concurrent ensures
  * serialize on [[withTableLock]]; only CROSS-JVM first builds of the
  * same corpus can still race on the directory (saveAsTable overwrite is
  * not atomic on a local FS) — after the one-time build every caller is
  * a reader, which is the point of the artifact.
  */
object Warehouse {

  /** Per-table lock for the ensure/build sequence: two ensurers of the
    * same absent artifact would otherwise BOTH see "not reusable" and
    * race their saveAsTable overwrites (non-atomic on a local FS). Two
    * layers, both required:
    *  - an in-JVM monitor per table name — serializes threads, and keeps
    *    the same JVM from ever attempting two OS locks on one file
    *    (which throws OverlappingFileLockException instead of blocking);
    *  - an OS file lock under `<warehouse>/_graft_locks/` ([[Locks]]) —
    *    serializes PROCESSES. The loser of a cross-process first-build
    *    race blocks on the winner, then its ensure body re-checks the
    *    fingerprint ([[ensureRegistered]] is the first thing every
    *    ensure* runs inside the lock) and RE-ATTACHES to the winner's
    *    artifact instead of rebuilding; a crashed winner's lock is
    *    released by the OS and the loser rebuilds from the torn
    *    (fingerprint-less) directory. CrossProcessLockSpec pins the
    *    two-process serialization with a forked JVM. */
  private val tableLocks =
    new java.util.concurrent.ConcurrentHashMap[String, Object]()
  def withTableLock[A](spark: SparkSession, table: String)(f: => A): A =
    tableLocks.computeIfAbsent(
      table.toLowerCase(java.util.Locale.ROOT), _ => new Object)
      .synchronized {
        Locks.withFileLock(buildLockPath(spark, table))(f)
      }

  /** Lock-file path for a table's ensure/build critical section (inside
    * the warehouse, underscore-prefixed → invisible to Spark's listing). */
  def buildLockPath(spark: SparkSession, table: String): Path = {
    val wh = spark.conf.get("spark.sql.warehouse.dir")
    val p = if (wh.startsWith("file:")) java.net.URI.create(wh).getPath else wh
    Paths.get(p, "_graft_locks",
      table.toLowerCase(java.util.Locale.ROOT) + ".lock")
  }

  /** The corpus-keyed artifact-name suffix — ONE definition of the
    * md5(dir) convention shared by Pipeline's table names, Bench's
    * warm-detection, and the profiling scratch (three hand-rolled copies
    * previously coupled only by comments). */
  def corpusSuffix(dir: String): String =
    java.security.MessageDigest.getInstance("MD5")
      .digest(dir.getBytes("UTF-8")).take(4).map("%02x".format(_)).mkString

  /** True iff `table`'s on-disk fingerprint exists and contains every
    * given fragment — the exact "is this artifact fresh for THIS source
    * data" probe (Bench uses it to record warm/cold honestly; a stale
    * sourceStamp or a missing meta reads as cold, matching what ensure*
    * will actually do). */
  def isFresh(spark: SparkSession, table: String,
              fragments: Seq[String]): Boolean =
    metaOf(spark, table).exists { m =>
      // single-token fragments (the common case: one source stamp) match
      // WHOLE meta tokens, not substrings — raw containment could
      // prefix-match a stamp ("src=123:456" inside "src=123:4567") and
      // mislabel a stale artifact warm. Multi-token fragments keep
      // substring semantics (they carry their own delimiters).
      val toks = m.split("\\s+").toSet
      fragments.forall(f => if (f.contains(" ")) m.contains(f) else toks(f))
    }

  /** The raw on-disk fingerprint of `table`, if any — for DERIVED
    * artifacts that must invalidate when an UPSTREAM artifact's config
    * changes (a PQ code table keyed by a coarse cell table's cids is only
    * valid for the cell layout that assigned them): the derived
    * fingerprint folds this string in, so an upstream rebuild under a new
    * config — same table NAME, new meta — reads as stale downstream. */
  def fingerprintOf(spark: SparkSession, table: String): Option[String] =
    metaOf(spark, table)

  /** On-disk directory of a warehouse table (for DDL re-attach of tables
    * whose schema can't be inferred from files — e.g. an EMPTY growable
    * table). */
  def tableDir(spark: SparkSession, table: String): Path = dirOf(spark, table)

  /** The warehouse root as a filesystem path — for underscore-prefixed
    * state directories (stream checkpoints, admission sinks) that must
    * live NEXT TO the tables they serve (same volume, same lifecycle)
    * while staying invisible to Spark's table listing. */
  def warehousePath(spark: SparkSession): Path = {
    val wh = spark.conf.get("spark.sql.warehouse.dir")
    Paths.get(if (wh.startsWith("file:")) java.net.URI.create(wh).getPath else wh)
  }

  /** Ensure a GROWABLE table exists and is session-registered. Unlike the
    * ensure* ingest artifacts a growable table is MUTABLE STATE (admission
    * loops append each tick's survivors), so it is NEVER cleared on
    * re-entry: a fingerprint MISMATCH fails loud — silently resetting
    * standing admission state would re-admit every historical duplicate —
    * and a missing catalog entry with a valid fingerprint re-attaches via
    * DDL (the table may be EMPTY, so the schema is stated, not inferred
    * from files). `bucketCol == null` creates a plain table. */
  def ensureGrowableTable(spark: SparkSession, table: String, meta: String,
                          schema: org.apache.spark.sql.types.StructType,
                          bucketCol: String, nBuckets: Int): Unit =
    withTableLock(spark, table) {
      metaOf(spark, table) match {
        case Some(m) if m != meta =>
          throw new IllegalStateException(
            s"growable table '$table' was built under config '$m', caller " +
            s"expects '$meta' — standing state cannot be silently reset; " +
            "drop the table explicitly to restart")
        case Some(_) =>
          if (!spark.catalog.tableExists(table)) {
            val bucketSpec =
              if (bucketCol == null) ""
              else s"CLUSTERED BY (`$bucketCol`) SORTED BY (`$bucketCol`) " +
                   s"INTO $nBuckets BUCKETS "
            spark.sql(s"CREATE TABLE `$table` (${schema.toDDL}) " +
              "USING parquet " + bucketSpec +
              s"LOCATION '${dirOf(spark, table)}'")
          }
        case None =>
          clear(spark, table) // torn leftover (no fingerprint) only
          val empty = spark.createDataFrame(
            spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], schema)
          val w = empty.write
          (if (bucketCol == null) w
           else w.bucketBy(nBuckets, bucketCol).sortBy(bucketCol))
            .saveAsTable(table)
          writeMeta(spark, table, meta)
      }
    }

  /** Read a GROWABLE table's CURRENT rows — the read contract for mutable
    * standing state (ask of the r15 verdict: freshness as contract, not
    * convention). Growable tables are appended to by admission/tombstone
    * writers, possibly from a stream's CLONED session or another JVM,
    * whose writes refresh THEIR relation cache, not this session's; a raw
    * `spark.table` on a growable name can silently serve a stale cached
    * file listing (last tick's state — old data, no error). Every reader
    * of a growable table goes through here.
    * WarehouseSpec pins that a reader cannot observe pre-append state.
    *
    * r17 opt: `refreshTable` re-lists the directory and drops the cached
    * relation on EVERY read — on the serving paths that is several
    * redundant refreshes per query over tables that did not change. The
    * refresh now runs only when the table directory's content stamp
    * ([[tableStamp]] — a driver-side listing, no Spark job) differs from
    * the one recorded at this session-state's last refresh: any append,
    * truncate, or cross-JVM write changes the stamp (file set/size/mtime),
    * so a reader still cannot observe pre-append state, it just stops
    * paying for invalidation when nothing happened. Keyed per session
    * state AND directory — independent sessions each refresh their own
    * relation cache at least once. */
  def readGrowableTable(spark: SparkSession,
                        table: String): org.apache.spark.sql.DataFrame = {
    // Per-SESSION-STATE map under a weak key (r17 ADVICE): identityHashCode
    // keys are not unique — a collision between live sessions (or hash
    // reuse after GC) could skip the refresh this method exists to force —
    // and a string-keyed map never forgets dead sessions. WeakHashMap's
    // default reference-equality semantics for SessionState (no custom
    // equals) give true per-session identity, and entries vanish with the
    // session instead of growing unboundedly.
    val perSession = lastRefreshStamp.synchronized {
      var m = lastRefreshStamp.get(spark.sessionState)
      if (m == null) {
        m = new java.util.concurrent.ConcurrentHashMap[String, String]()
        lastRefreshStamp.put(spark.sessionState, m)
      }
      m
    }
    val key = dirOf(spark, table).toString
    val now = tableStamp(spark, table)
    if (perSession.get(key) != now) {
      spark.catalog.refreshTable(table)
      perSession.put(key, now)
    }
    spark.table(table)
  }

  private val lastRefreshStamp =
    new java.util.WeakHashMap[AnyRef,
      java.util.concurrent.ConcurrentHashMap[String, String]]()

  /** Content stamp of a table's directory: data-file count, total bytes,
    * max mtime, xor of name hashes — pure driver-side listing (no Spark
    * job, no recursion: growable/ensure tables keep their files flat).
    * Any append/truncate/rewrite changes it; identical stamps mean the
    * file set is unchanged. "absent" for a missing directory. */
  def tableStamp(spark: SparkSession, table: String): String = {
    val d = dirOf(spark, table)
    if (!Files.exists(d)) return "absent"
    val s = Files.list(d)
    val files =
      try s.toArray.map(_.asInstanceOf[Path]).filter(Files.isRegularFile(_))
      finally s.close()
    if (files.isEmpty) return "empty"
    var size = 0L; var mtime = 0L; var nameHash = 0L
    files.foreach { f =>
      size += Files.size(f)
      mtime = math.max(mtime, Files.getLastModifiedTime(f).toMillis)
      nameHash ^= f.getFileName.toString.hashCode.toLong * 0x9e3779b97f4a7c15L
    }
    s"${files.length}:$size:$mtime:${java.lang.Long.toHexString(nameHash)}"
  }

  /** JVM-wide memo of small driver values DERIVED PURELY FROM TABLE
    * CONTENT (state fingerprints, config-drift guards), keyed by `kind`
    * plus the content stamp of every table the computation reads — any
    * append/truncate/rebuild, from any session or JVM, changes a stamp
    * and misses the cache. Never holds DataFrames or query results; only
    * driver-small scalars the serving paths would otherwise re-derive
    * with a Spark job per call. Clear-on-threshold bounded (the codebook
    * memo's shape).
    *
    * Not linearizable on the hit path: a hit returns the value memoized for
    * the stamps this call listed, so a write from another session or JVM
    * landing after that listing is not seen by this one call. The next
    * call lists the new stamp, misses, and recomputes; the window is one
    * call wide. A miss re-stamps after computing and memoizes nothing if a
    * stamp moved meanwhile. */
  def cachedByStamp[A](spark: SparkSession, kind: String,
                       tables: Seq[String])(compute: => A): A = {
    def keyNow() = kind + "|" + tables.map(t =>
      dirOf(spark, t).toString + "@" + tableStamp(spark, t)).mkString("|")
    val key = keyNow()
    val hit = stampCache.get(key)
    if (hit != null) hit.asInstanceOf[A]
    else {
      val v = compute
      // r17 ADVICE: re-stamp AFTER compute — a cross-JVM writer landing
      // between key computation and the read would otherwise cache a value
      // derived from the NEW content under the OLD stamp key (and the next
      // reader of the old content would wrongly hit it). If the stamp
      // moved during compute, skip the put: the value is returned to this
      // caller but never memoized under a stale key.
      if (keyNow() == key) {
        if (stampCache.size > 4096) stampCache.clear()
        stampCache.put(key, v.asInstanceOf[AnyRef])
      }
      v
    }
  }

  private val stampCache =
    new java.util.concurrent.ConcurrentHashMap[String, AnyRef]()

  /** First row of a small WRITE-ONCE config side table (`*_cfg`,
    * `*_centroids`-class layout rows), cached JVM-wide by the table
    * directory's content stamp — the serving paths read the same
    * immutable layout row on every call, and each `.head()` is a Spark
    * job. A rebuild rewrites the files, changes the stamp, and misses the
    * cache. */
  def cachedConfigRow(spark: SparkSession,
                      table: String): org.apache.spark.sql.Row = {
    val key = dirOf(spark, table).toString + "@" + tableStamp(spark, table)
    val hit = cfgRowCache.get(key)
    if (hit != null) hit
    else {
      // r17 ADVICE: refresh on MISS before head() — a _cfg table rebuilt
      // by another session/JVM changes the stamp (hence the miss), but
      // this session's relation cache could still serve the OLD file
      // listing; without the refresh that stale row would be pinned under
      // the NEW stamp key and never self-correct. Misses are rare (one
      // per rebuild), so the refresh cost is negligible.
      spark.catalog.refreshTable(table)
      val r = spark.table(table).head()
      if (cfgRowCache.size > 4096) cfgRowCache.clear()
      cfgRowCache.put(key, r)
      r
    }
  }

  private val cfgRowCache =
    new java.util.concurrent.ConcurrentHashMap[String, org.apache.spark.sql.Row]()

  /** True iff a growable table currently holds at least one ROW. A pure
    * file-listing probe is not enough — creating an empty growable table
    * writes one 0-row parquet part file — so this reads the table
    * (limit-1) ONCE per content stamp and memoizes: the steady-state
    * probe is a driver-side directory listing, and any append/truncate
    * changes the stamp and re-probes. Lets serving paths skip
    * provably-empty anti-joins and lets gate-step skips verify their
    * target state was not swept out from under the marker. */
  def growableHasRows(spark: SparkSession, table: String): Boolean = {
    val d = dirOf(spark, table)
    if (!Files.exists(d)) return false
    val s = Files.list(d)
    val hasDataFiles =
      try s.toArray.map(_.asInstanceOf[Path]).exists(p =>
        Files.isRegularFile(p) &&
        !p.getFileName.toString.startsWith("_") &&
        !p.getFileName.toString.startsWith("."))
      finally s.close()
    if (!hasDataFiles) return false
    cachedByStamp(spark, "hasrows", Seq(table)) {
      // registration-independent: a fresh session probes the files
      // directly (the catalog re-attach belongs to ensure*, which may not
      // have run yet); the result is content-keyed either way
      if (spark.catalog.tableExists(table))
        !readGrowableTable(spark, table).isEmpty
      else !spark.read.parquet(d.toString).isEmpty
    }
  }

  private def dirOf(spark: SparkSession, table: String): Path = {
    val wh = spark.conf.get("spark.sql.warehouse.dir")
    val p = if (wh.startsWith("file:")) java.net.URI.create(wh).getPath else wh
    Paths.get(p, table.toLowerCase(java.util.Locale.ROOT))
  }

  private def metaPath(spark: SparkSession, table: String): Path =
    dirOf(spark, table).resolve("_graft_meta.json")

  private def metaOf(spark: SparkSession, table: String): Option[String] = {
    val p = metaPath(spark, table)
    if (Files.exists(p))
      Some(new String(Files.readAllBytes(p), "UTF-8").trim)
    else None
  }

  /** Record the artifact's config fingerprint — call right after the
    * ingest write succeeds, so a torn build (crash between table and meta)
    * reads as "no fingerprint" and gets rebuilt, never trusted. */
  def writeMeta(spark: SparkSession, table: String, meta: String): Unit = {
    val p = metaPath(spark, table)
    Files.createDirectories(p.getParent)
    Files.write(p, (meta + "\n").getBytes("UTF-8"))
  }

  /** Make `table` queryable in THIS session if a valid on-disk artifact
    * with the given fingerprint exists; otherwise clear any stale leftover
    * (catalog entry and directory) and return false so the caller runs
    * ingest. `bucketCol == null` registers a plain (un-bucketed) external
    * parquet table. */
  def ensureRegistered(spark: SparkSession, table: String, meta: String,
                       bucketCol: String, nBuckets: Int): Boolean = {
    val valid = metaOf(spark, table).contains(meta)
    if (spark.catalog.tableExists(table)) {
      if (valid) return true
      spark.sql(s"DROP TABLE IF EXISTS `$table`")
    }
    val d = dirOf(spark, table)
    if (valid) {
      val schema = spark.read.parquet(d.toString).schema.toDDL
      val bucketSpec =
        if (bucketCol == null) ""
        else s"CLUSTERED BY (`$bucketCol`) SORTED BY (`$bucketCol`) " +
             s"INTO $nBuckets BUCKETS "
      spark.sql(s"CREATE TABLE `$table` ($schema) USING parquet " +
                bucketSpec + s"LOCATION '$d'")
      true
    } else {
      clear(spark, table)
      false
    }
  }

  /** Content-sensitive stamp of a source parquet path (file or directory):
    * total byte size + max mtime of its data files. Callers fold this into
    * the artifact fingerprint so REGENERATING a corpus in place (same
    * path, new rows) invalidates the stored layout — path+config alone
    * would silently serve the old corpus's cells/signatures. Pure
    * driver-side listing, no Spark job. */
  def sourceStamp(path: String): String = {
    val p = Paths.get(path)
    if (!Files.exists(p)) return "absent"
    val files: Seq[Path] =
      if (Files.isDirectory(p)) {
        // close the walk stream: this runs per query execution, and an
        // unclosed Files.walk leaks a directory fd each call
        val s = Files.walk(p)
        try s.filter(Files.isRegularFile(_))
          .toArray.map(_.asInstanceOf[Path]).toSeq
        finally s.close()
      } else Seq(p)
    // an existing but FILE-LESS directory (an interrupted corpus write)
    // must read "absent" like the missing-path case — not crash the
    // caller's startup with `empty.max`
    if (files.isEmpty) return "absent"
    val size = files.map(Files.size(_)).sum
    val mtime = files.map(Files.getLastModifiedTime(_).toMillis).max
    s"src=$size:$mtime"
  }

  /** Drop the catalog entry AND the directory (managed saveAsTable refuses
    * a pre-existing non-empty location, so a rebuild must start clean). */
  /** Drop every `graft_*_<sfx>` artifact of one corpus — catalog entries
    * and directories. For THROWAWAY corpora (Bench's synthetic probe dirs
    * live in fresh temp paths, so their md5 corpusSuffix never repeats):
    * without a sweep each probe run strands its ensure* tables in the
    * warehouse forever, and the 10× set is 10×-sized. */
  def sweepCorpus(spark: SparkSession, corpusDir: String): Unit = {
    val sfx = corpusSuffix(corpusDir)
    val wh = dirOf(spark, "x").getParent
    if (!Files.exists(wh)) return
    val s = Files.list(wh)
    val tables =
      try s.toArray.map(_.asInstanceOf[Path].getFileName.toString)
        // contains, not endsWith: sibling artifacts suffix the corpus key
        // (e.g. `<table>_<sfx>_centroids`)
        .filter(n => n.startsWith("graft_") && n.contains("_" + sfx)).toSeq
      finally s.close()
    tables.foreach(clear(spark, _))
    // gate-namespace stamp/step markers of this corpus go with its tables:
    // a marker surviving a sweep could let a later gate serve skip its
    // (idempotent) state re-admission against the now-empty tables
    val markers = dirOf(spark, "x").getParent.resolve("_graft_ns_stamp")
    if (Files.exists(markers)) {
      val m = Files.list(markers)
      try m.toArray.map(_.asInstanceOf[Path])
        .filter(_.getFileName.toString.endsWith("_" + sfx))
        .foreach(Files.deleteIfExists(_))
      finally m.close()
    }
  }

  def clear(spark: SparkSession, table: String): Unit = {
    spark.sql(s"DROP TABLE IF EXISTS `$table`")
    Fs.deleteRecursively(dirOf(spark, table))
  }

  /** Empty a GROWABLE table's rows while keeping the table, its schema
    * registration, and its fingerprint (vacuum empties the tombstone list
    * once deletions are folded into the artifacts). File-level: delete
    * every data file under the table dir except the fingerprint, then
    * drop the cached relation so every session re-lists. TRUNCATE TABLE
    * is not used because a re-attached growable table is EXTERNAL
    * (CREATE ... LOCATION) and Spark refuses to truncate those. */
  def truncateGrowable(spark: SparkSession, table: String): Unit =
    withTableLock(spark, table) {
      val d = dirOf(spark, table)
      if (Files.exists(d)) {
        val s = Files.list(d)
        val files =
          try s.toArray.map(_.asInstanceOf[Path])
            .filter(p => Files.isRegularFile(p) &&
              p.getFileName.toString != "_graft_meta.json").toSeq
          finally s.close()
        files.foreach(Files.deleteIfExists(_))
      }
      if (spark.catalog.tableExists(table)) spark.catalog.refreshTable(table)
    }
}
