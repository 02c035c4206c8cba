package graft.sched

import scala.util.control.NonFatal

import org.apache.spark.sql.SparkSession

/** task_type='index' — the engine's INGEST/index-build step as a
  * first-class scheduled job, completing the production task DAG the
  * scheduler already runs:
  *
  *   index (build the stored artifacts)
  *     └─ admission (incremental dedup against them; task_type='admission')
  *          └─ compact (small-file maintenance on its sinks; task_type='compact')
  *
  * The task row's `scriptPath` slot carries the spec `"<corpusDir>"`: one
  * pass of [[graft.operators.Pipeline.ensureCorpusIndex]] over that
  * corpus — MinHash signature table, duplicate-cluster map, IVF cells,
  * seeded + trained PQ code tables, int8 quantization table, and the LSH
  * bucket table: the corpus-index entries of [[graft.operators.Artifacts]],
  * each built by its entry's recipe, the same call the queries that read
  * it make (fingerprint match ⇒ warm re-attach with zero Spark jobs;
  * corpus or config change ⇒ rebuild). A cadence-scheduled index task is therefore a cheap no-op
  * between corpus refreshes and exactly one rebuild after one — the
  * summary logged to task_logs says which (`built=` vs `warm=`), so an
  * operator reading the log history sees every rebuild with its trigger
  * date.
  *
  * Retry / dependency / cadence semantics apply unchanged: admission
  * tasks declare a dependency on the index task (never-run blocks — an
  * admission pass must not probe artifacts that were never built), retry
  * does not advance next_run, and repeated failures alert through
  * task_alerts. OrchestratorSpec runs the index→admission chain e2e.
  */
object IndexTask {

  def run(spark: SparkSession, spec: String): Either[String, String] = {
    val dir = spec.trim
    if (dir.isEmpty)
      return Left("index task spec must be '<corpusDir>', got an empty spec")
    if (!java.nio.file.Files.isDirectory(java.nio.file.Paths.get(dir)))
      return Left(s"index task: no such corpus directory: $dir")
    try {
      val results = graft.operators.Pipeline.ensureCorpusIndex(spark, dir)
      val (built, warm) = results.partition(_._2)
      Right(s"indexed $dir: built=${built.size} warm=${warm.size}" +
        (if (built.nonEmpty) built.map(_._1).mkString(" [", ", ", "]") else ""))
    } catch { case NonFatal(e) =>
      Left(s"index build failed for $dir: ${e.getMessage}")
    }
  }
}
