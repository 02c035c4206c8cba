package graft.core

import java.nio.file.{Files, Path}
import java.util.Comparator

/** Process-scoped scratch directories for operators that stage files
  * (streaming work dirs, export round-trips, the release writer, the 10×
  * probe corpus). Every dir returned by [[tempDir]] is registered for a
  * best-effort recursive delete at JVM exit — without this, each
  * Verify/Bench invocation stranded another /tmp tree per staging query
  * and repeated rounds accumulated unbounded temp data. Deletion is
  * last (after Spark's own shutdown hooks have stopped streams and
  * committers) and swallows per-file failures: cleanup must never turn a
  * green run red. */
object TempDirs {

  private val dirs = new java.util.concurrent.ConcurrentLinkedQueue[Path]()

  // Hadoop's ShutdownHookManager at a priority BELOW its default (10),
  // which is where Spark registers stream/committer shutdown — a plain
  // Runtime hook runs UNORDERED w.r.t. Spark's, so the sweep could race a
  // still-stopping stream's final sink writes and delete files mid-commit.
  // Ordered registration makes "deletion is last" true by contract, not
  // by luck.
  org.apache.hadoop.util.ShutdownHookManager.get().addShutdownHook(
    new Runnable {
      override def run(): Unit = dirs.forEach { d =>
        try {
          if (Files.exists(d))
            Files.walk(d).sorted(Comparator.reverseOrder[Path]())
              .forEach(p => try Files.deleteIfExists(p)
                            catch { case _: Exception => () })
        } catch { case _: Exception => () }
      }
    }, 5)

  /** A fresh temp directory, swept at JVM exit. */
  def tempDir(prefix: String): String = {
    val p = Files.createTempDirectory(prefix)
    dirs.add(p)
    p.toString
  }

  /** Root for SMALL, short-lived scratch (streaming checkpoint and sink
    * dirs — per-call state that never outlives the query that made it):
    * `SPARK_GRAFT_SCRATCH_DIR` if set, else the fastest writable local
    * volume (`/dev/shm` when present — ephemeral stream scratch belongs on
    * memory/SSD-class storage exactly like shuffle spill under
    * `spark.local.dir`; a synchronous drive's checkpoint needs no
    * durability, its unit of recovery is the whole call), else
    * `java.io.tmpdir`. Anything that scales with the corpus stays on
    * [[tempDir]]: probe corpora, export round-trips, and the input the
    * stream queries stage (q82 and q159 stage a fifth of the corpus, q96
    * all of it). On RAM-backed tmpfs that data would compete with
    * executor heap. Resolved once, so a query's checkpoint and sink never
    * split across volumes.
    *
    * Scope: single node. Both roots are local paths of the machine that
    * runs the session, which the local-mode executors share; a cluster
    * deployment would stage on shared storage instead. */
  private[graft] lazy val scratchRoot: Path =
    scratchRootFor(sys.env.get("SPARK_GRAFT_SCRATCH_DIR").filter(_.nonEmpty))

  /** The scratch root for a configured directory, if any. A configured
    * directory is created when absent; one that cannot be created or
    * written fails with its path, rather than scratch landing silently on
    * another volume. */
  private[core] def scratchRootFor(configured: Option[String]): Path = configured match {
    case Some(dir) =>
      val d = java.nio.file.Paths.get(dir)
      try Files.createDirectories(d)
      catch {
        case e: java.io.IOException => throw new IllegalStateException(
          s"SPARK_GRAFT_SCRATCH_DIR '$dir' cannot be created: $e", e)
      }
      if (!Files.isWritable(d))
        throw new IllegalStateException(s"SPARK_GRAFT_SCRATCH_DIR '$dir' is not writable")
      d
    case None =>
      val tmp = java.nio.file.Paths.get(System.getProperty("java.io.tmpdir"))
      Seq(java.nio.file.Paths.get("/dev/shm"), tmp).find { d =>
        try Files.isDirectory(d) && Files.isWritable(d)
        catch { case _: Exception => false }
      }.getOrElse(tmp)
  }

  /** A fresh SCRATCH directory under [[scratchRoot]], swept at JVM exit —
    * for the streaming work dirs (checkpoint, file sink, and the event
    * streams' staged chunks).
    * Same lifecycle as [[tempDir]]; only the volume differs. */
  def scratchDir(prefix: String): String = {
    val p = Files.createTempDirectory(scratchRoot, prefix)
    dirs.add(p)
    p.toString
  }
}
