package graft
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import scala.jdk.CollectionConverters._
import graft.operators.Artifacts
object Bench {

  /** Synthesize a 10× documents + embeddings corpus (hash-generated: 5k-word
    * vocabulary so shingle/bucket collision statistics resemble the real
    * corpus, not degenerate copies that would plant artificial near-dup
    * mass) and time the dedup/ANN family on it. Catches super-linear growth
    * that the sf0.1 numbers alone cannot show.
    *
    * r2 post-mortem: this probe recorded q24 at 16.5× time for 10× data —
    * which was NOT the band join going quadratic but the probe running last
    * in a session whose pinned checkpoint blocks (since released via
    * core.Mat) crowded the storage pool. With lifecycle management in
    * place the same probe measures ~1.3× time at 10× rows (fixed overheads
    * still dominate at this scale; candidate pairs stay collision-bounded). */
  /** The probe's timed query set (the dedup/ANN/cluster family). */
  private val probeQueries = Seq("q22_exact_dup_groups", "q24_minhash_pairs",
    "q41_embedding_dups", "q57_dup_clusters", "q58_dup_clusters_lsh",
    "q62_semantic_dedup", "q67_release_funnel", "q81_duplicated_spans",
    "q92_contamination_attribution",
    // r7: containment's DF-capped inverted index and the stored-
    // cluster-map build+read path must also hold at 10×
    "q105_dedup_inflation", "q108_containment",
    // r11: the stored-bucket-table incremental embedding probe — the
    // corpus side must stream pre-partitioned at any scale
    "q154_incremental_embedding",
    // r11: int8-quantized retrieval quality — O(panel·n) by construction,
    // so its probe ratio must track the corpus linearly
    "q158_int8_quant_recall",
    // r13: the two-stage IVF-PQ serving path — stage 1 is a cell-probed
    // 4 B/vector code scan, stage 2 a broadcast against the stored int8
    // table; the composition must stay sublinear like q161
    "q163_ivfpq_rerank",
    // r15: filtered ANN — the label predicate must prune AT the code-table
    // scan and the widened fallback must stay a broadcast, so the probe
    // ratio tracks q161's, not a corpus-join blowup
    "q164_filtered_ann",
    // r15: tombstoned serving — the deletion anti-joins ride broadcast on
    // q163's two-stage path, so the ratio must track q163's
    "q165_tombstoned_ann",
    // r16: grown-corpus serving and upsert — the grow fold is prebuilt
    // ingest work; the timed serve must track q163's two-stage ratio —
    // plus the doc-arm grown-signature probe (must track q74's shape)
    "q166_grown_ann", "q167_upsert_ann", "q169_grown_minhash",
    // r17: between-fold deletes (broadcast anti-join on the grown path),
    // grown filtered ANN (labeled code table grows), and hybrid RRF over
    // the grown family (grown term index × grown two-stage ANN) — all
    // three must inherit the serving family's flat ratio
    "q170_grown_tombstoned", "q171_grown_filtered_ann",
    "q172_grown_hybrid_rrf")

  /** Synthesize one probe corpus of `nDocs` documents + `nVecs` embeddings
    * under `dir`. Hash-generated with a 5k-word vocabulary so
    * shingle/bucket collision statistics resemble a real corpus, not
    * degenerate copies that would plant artificial near-dup mass.
    *
    * Planted duplicate families (4% of docs), matched to the VERIFIED
    * q24 contract (exact Jaccard ≥ 0.9): id % 50 == 1 docs are NEAR-DUP
    * mutations of their predecessor — same word stream with exactly ONE
    * position (47) re-hashed, so shingle Jaccard = (n−3)/(n+3) ∈
    * [0.90, 0.95] for the 60–119-token docs; id % 50 == 26 docs are
    * EXACT copies of their predecessor (guaranteed banding recall).
    * Without planted dups the r3 probe returned 0 pairs at 10× — it
    * timed signature + band-join machinery but never pair SCORING.
    * fam 8 copies its predecessor (id%10==7 — an EVAL doc under the
    * q59/q92 holdout convention): plants train->eval contamination so
    * the attribution probe scores real shared-gram mass, not 0 rows. */
  private[graft] def synthProbeCorpus(spark: SparkSession, dir: String,
                               nDocs: Long, nVecs: Long): Unit = {
    val fam = pmod(col("id"), lit(50))
    val base = when((fam === 1 || fam === 26 || fam === 8) && col("id") > 0,
      col("id") - 1).otherwise(col("id"))
    spark.range(nDocs).select(
        col("id").as("doc_id"),
        concat_ws(" ", transform(
          sequence(lit(1), lit(60) + pmod(base, lit(60))),
          j => concat(lit("w"), pmod(
            when(col("id") =!= base && fam === 1 && j === 47, hash(col("id"), j))
              .otherwise(hash(base, j)), lit(5000))))).as("text"),
        lit("en").as("lang"),
        // srcN shape matches the real corpus: the release-funnel probe's
        // domain-mix gate parses the digit suffix as its sampling rate
        concat(lit("src"), pmod(col("id"), lit(10))).as("source"),
        lit(0L).as("n_chars"))
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    spark.range(nVecs).select(
        col("id").as("vec_id"),
        transform(sequence(lit(1), lit(64)),
          j => (pmod(hash(col("id"), j), lit(2000001)).cast("double") / 1000000.0
                - 1.0).cast("float")).as("embedding"),
        // label shape matches the real corpus (~10 classes, ~10% each):
        // the filtered-ANN probe (q164) filters on label — a constant
        // label would either starve EVERY query or filter NOTHING, and
        // neither exercises the narrow-vs-widened split the probe times
        pmod(col("id"), lit(10)).cast("int").as("label"))
      .write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
  }

  private final case class ProbeRun(prebuildSec: Double,
                                    prebuildFailed: Seq[String],
                                    warmByArtifact: Seq[(String, Boolean)],
                                    timed: Seq[(String, Double, Long)],
                                    ccRounds: Map[String, Int],
                                    candPairs: Map[String, Long])

  /** Propagation round counts observed for the cluster queries this run
    * (q57/q58 run live label propagation): ships in the artifacts so a
    * wall-clock drift is attributable — round count grew = plan/convergence
    * regression; same rounds, longer wall = box load. */
  private def ccRoundsFor(name: String): Option[(String, Int)] =
    if (name.startsWith("q57_") || name.startsWith("q58_")) {
      // thread-local register: this thread just ran the query, so the
      // count is ITS run's even under a concurrent bench in the same JVM
      val r = graft.operators.Pipeline.lastCcRounds.get().intValue()
      if (r >= 0) Some(name -> r) else None
    } else None

  /** Prefix-filter candidate-pair counts for the containment query (the
    * q108 analogue of [[ccRoundsFor]]): the r10 fix's invariant is that
    * this count grows LINEARLY in corpus size, so shipping it per probe
    * entry makes a wall-clock drift adjudicable from the artifact alone —
    * count blew up = real candidate-generation regression; same count,
    * longer wall = box load (the r13 q57 / r14 q108 driver-probe class). */
  private def candPairsFor(name: String): Option[(String, Long)] =
    if (name.startsWith("q108_")) {
      val c = graft.operators.Pipeline.lastContainmentCands.get().longValue()
      if (c >= 0) Some(name -> c) else None
    } else None

  /** Build `entries` for the corpus in `dir`, outside any timed section:
    * artifacts are write-once INGEST work at 100 TB, so the bench of record
    * measures the query path against a warm warehouse (r5/r6 comparisons
    * conflated code changes with artifact-cache state); the cold cost is
    * still recorded, once, as the returned seconds. Each distinct builder
    * runs once: a corpus-index entry's ensure, or the query that owns the
    * entry. Failures are printed with their exception and returned by
    * builder name, never swallowed. */
  private[graft] def prebuild(spark: SparkSession, dir: String,
                              entries: Seq[Artifacts.Artifact]): (Double, Seq[String]) = {
    val t0 = System.nanoTime()
    val failed = entries.distinctBy(_.builderName).flatMap { a =>
      try {
        a.builder match {
          case Artifacts.Ensure(run) => run(spark, dir)
          case Artifacts.Query(q) => SparkEntry.queries(q)(spark, dir).count()
        }
        None
      } catch { case t: Throwable =>
        println(s"[bench] PREBUILD FAILED: ${a.builderName}: $t")
        Some(a.builderName)
      } finally graft.core.Mat.releaseAll(blocking = true)
    }
    ((System.nanoTime() - t0) / 1e9, failed)
  }

  /** Freshness of each of `entries` for `dir`, re-derived from the
    * warehouse (never assumed from a prebuild that reported success); the
    * stale ones are printed by name, so a cold flag says which artifact
    * the timed section would pay for. */
  private def freshness(spark: SparkSession, dir: String, what: String,
                        entries: Seq[Artifacts.Artifact]): Seq[(String, Boolean)] = {
    val flags = entries.map(a => a.name -> a.isFresh(spark, dir))
    val stale = flags.collect { case (n, false) => n }
    if (stale.nonEmpty) println(s"[bench] $what: stale artifacts: ${stale.mkString(", ")}")
    flags
  }

  /** Prebuild + time the probe family on one corpus dir. The prebuild
    * covers exactly the registry entries the TIMED set reads (r8
    * post-mortem: a hand list missed the cluster map two timed queries
    * read, so the timed section paid its build at 10× and the warm flag
    * read false), and the per-artifact warm flags cover the same entries.
    *
    * `reps`: the probe's timed section repeats and records per-query
    * MEDIANS, exactly like the main bench — r11 post-mortem: the probe's
    * single-sample timings inherited whatever page-cache state the session
    * left behind (the driver's artifact of record showed q67 at 19.6× for
    * 10× data while the same-head committed snapshot showed 2.2×; the
    * 100× gate showed ≤8× for 100×). A median of 3 cannot be faked by one
    * cold first pass, so back-to-back runs agree. */
  private def probeOneCorpus(spark: SparkSession, dir: String,
                             reps: Int): ProbeRun = {
    val entries = Artifacts.all.filter(_.readers.exists(probeQueries.contains))
    val (prebuildSec, prebuildFailed) = prebuild(spark, dir, entries)
    val warmByArtifact = freshness(spark, dir, "probe corpus", entries)
    val ccRounds = scala.collection.mutable.Map[String, Int]()
    val candPairs = scala.collection.mutable.Map[String, Long]()
    val runs = (1 to math.max(1, reps)).map { _ =>
      probeQueries.map { name =>
        val t0 = System.nanoTime()
        val rows = try SparkEntry.queries(name)(spark, dir).count()
                   catch { case t: Throwable =>
                     println(s"[bench] PROBE QUERY FAILED: $name: $t"); -1L }
        val sec = (System.nanoTime() - t0) / 1e9
        if (rows >= 0) {
          ccRoundsFor(name).foreach { case (n, r) => ccRounds(n) = r }
          candPairsFor(name).foreach { case (n, c) => candPairs(n) = c }
        }
        // result consumed — drop tracked blocks. BLOCKING: a non-blocking
        // unpersist future from the last probe query can outlive the final
        // drain (its queue entry is already gone) and race spark.stop()
        graft.core.Mat.releaseAll(blocking = true)
        (name, sec, rows)
      }
    }
    val timed = runs.head.indices.map { i =>
      val name = runs.head(i)._1
      val secs = runs.map(_(i)._2).sorted
      (name, secs(secs.length / 2), runs.map(_(i)._3).min)
    }
    ProbeRun(prebuildSec, prebuildFailed, warmByArtifact, timed,
      ccRounds.toMap, candPairs.toMap)
  }

  /** Synthetic-growth probe: time the dedup/ANN family on a 1× AND a
    * `factor`× synthetic corpus and report per-query RATIOS between the
    * two. Both points run on the SAME generator, so the ratio is free of
    * the synthetic-vs-real corpus-shape confound the r8 artifact carried
    * (probe 10× timings were only comparable against the main bench's
    * REAL-corpus 1× timings: different dup density, doc length and
    * vector structure — q41/q57/q58 read 7.7×/7.8×/4.8× against the
    * sf1-measured 2.4×/1.6×/1.7× for reasons that were corpus shape and
    * a missing cluster-map prebuild, not plan growth). */
  private def scaleProbe(spark: SparkSession, sfDir: String,
                         factor: Int, reps: Int): String = {
    val nDocs = spark.read.parquet(s"$sfDir/documents.parquet").count()
    val nVecs = spark.read.parquet(s"$sfDir/embeddings.parquet").count()
    val dir1 = graft.core.TempDirs.tempDir("graft-probe-1x")
    val dirN = graft.core.TempDirs.tempDir("graft-probe-Nx")
    synthProbeCorpus(spark, dir1, nDocs, nVecs)
    synthProbeCorpus(spark, dirN, nDocs * factor, nVecs * factor)
    val r1 = probeOneCorpus(spark, dir1, reps)
    val rN = probeOneCorpus(spark, dirN, reps)
    // the probe corpora are throwaway temp dirs, so their ensure*
    // artifacts (keyed by the md5 corpusSuffix of a never-repeating path)
    // would strand in the warehouse forever — sweep them now that the
    // timings are taken; the main corpus's artifacts are untouched
    graft.core.Warehouse.sweepCorpus(spark, dir1)
    graft.core.Warehouse.sweepCorpus(spark, dirN)
    println(f"[bench] probe prebuild (untimed in ratios): " +
      f"1x ${r1.prebuildSec}%.1f s, ${factor}x ${rN.prebuildSec}%.1f s")
    val run1 = r1.timed.map(t => t._1 -> (t._2, t._3)).toMap
    val entries = rN.timed.map { case (name, secN, rowsN) =>
      val (s1, rows1) = run1.getOrElse(name, (-1.0, -1L))
      // a FAILED 1× run's error time must never become a denominator — it
      // would print as a plausible-looking super-linear ratio. Either side
      // failing nulls the ratio; rows_1x ships so the reader sees why.
      val ratio =
        if (s1 > 0 && rows1 >= 0 && rowsN >= 0) (secN / s1).toString else "null"
      val cc = (r1.ccRounds.get(name), rN.ccRounds.get(name)) match {
        case (Some(a), Some(b)) => s""",\"cc_rounds_1x\":$a,\"cc_rounds\":$b"""
        case _ => ""
      }
      val cp = (r1.candPairs.get(name), rN.candPairs.get(name)) match {
        case (Some(a), Some(b)) => s""",\"cand_pairs_1x\":$a,\"cand_pairs\":$b"""
        case _ => ""
      }
      s"""\"$name\":{\"sec_1x\":$s1,\"rows_1x\":$rows1,\"sec\":$secN,\"rows\":$rowsN,\"ratio\":$ratio$cc$cp}"""
    }.mkString(",")
    def warmJson(r: ProbeRun) = r.warmByArtifact
      .map { case (k, v) => s"""\"$k\":$v""" }.mkString("{", ",", "}")
    val failedJson = (r1.prebuildFailed ++ rN.prebuildFailed).distinct
      .map("\"" + _ + "\"").mkString("[", ",", "]")
    val warmAll = (r1.warmByArtifact ++ rN.warmByArtifact).forall(_._2) &&
      r1.prebuildFailed.isEmpty && rN.prebuildFailed.isEmpty
    s""","scale_probe_${factor}x":{$entries},""" +
      s""""scale_probe_${factor}x_prebuild_sec":{"c1x":${r1.prebuildSec},"c${factor}x":${rN.prebuildSec}},""" +
      s""""scale_probe_${factor}x_prebuild_failed":$failedJson,""" +
      s""""scale_probe_${factor}x_warm_by_artifact":{"c1x":${warmJson(r1)},"c${factor}x":${warmJson(rN)}},""" +
      s""""scale_probe_${factor}x_warehouse_warm":$warmAll"""
  }

  /** An empty filter var would bench NOTHING and report a clean value=0
    * success; a typo'd name would silently vanish — both fail loud. */
  private[graft] def validateFilter(f: Set[String]): Unit = {
    require(f.nonEmpty, "SPARK_GRAFT_BENCH_QUERIES is set but names no queries")
    val unknown = f -- SparkEntry.queries.keySet
    require(unknown.isEmpty, s"unknown bench queries: ${unknown.mkString(",")}")
  }

  /** Time each query; rows = -1 marks a FAILED query (never silently
    * folded into a timing — BenchVerifyLoudSpec pins this contract). The
    * fourth field counts the classes Janino compiled while the query ran:
    * the counter is JVM-wide, and queries run one at a time, so the delta
    * is the query's. */
  private[graft] def timeQueries(spark: SparkSession, sfDir: String,
      queries: Seq[(String, (SparkSession, String) => org.apache.spark.sql.DataFrame)])
      : Seq[(String, Double, Long, Long)] =
    queries.map { case (name, fn) =>
      val compiles0 = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
      val t0 = System.nanoTime()
      val rows = try fn(spark, sfDir).count() catch { case t: Throwable =>
        // say WHY, like Verify does — a swallowed message leaves a failed
        // query distinguishable only by rows=-1 with no diagnosis anywhere
        println(s"[bench] QUERY FAILED: $name: " +
          Option(t.getMessage).getOrElse(t.getClass.getName).take(300))
        -1L
      }
      val sec = (System.nanoTime() - t0) / 1e9
      val compiles = CodegenMetrics.METRIC_COMPILATION_TIME.getCount - compiles0
      if (rows >= 0) {
        ccRoundsFor(name).foreach { case (n, r) => mainCcRounds(n) = r }
        candPairsFor(name).foreach { case (n, c) => mainCandPairs(n) = c }
      }
      // the query's RESULT was just consumed (count) — release the blocks
      // its operators tracked, exactly like the scheduler daemon does at
      // tick end. Untimed lifecycle bookkeeping; blocking so no unpersist
      // future can linger past its queue entry into session shutdown.
      graft.core.Mat.releaseAll(blocking = true)
      (name, sec, rows, compiles)
    }

  /** cc-round observations of the MAIN timed set (last rep wins — the
    * count is corpus-deterministic, reps agree). */
  private val mainCcRounds = scala.collection.concurrent.TrieMap[String, Int]()

  /** Containment candidate-pair observations of the MAIN timed set. */
  private val mainCandPairs = scala.collection.concurrent.TrieMap[String, Long]()

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4").toInt
    // one session factory for every entry point (GraftSession) — r6
    // post-mortem: per-main hand-rolled builders diverged on a conf and
    // the drift surfaced only in the entry points that lacked it
    val spark = graft.core.GraftSession.local(cpus)
    spark.sparkContext.setLogLevel("WARN")
    // the bench READS the q108 candidate register, so it opts into the one
    // extra cached-block count that populates it; every other entry point
    // keeps containmentPairs action-free
    graft.operators.Pipeline.benchRegistersEnabled = true
    // warm means: EVERY registry artifact for THIS corpus exists with a
    // fingerprint matching the current source data — exactly what its
    // ensure* will decide. A partial warehouse or a regenerated-in-place
    // corpus (stale sourceStamp) reads as cold, because that run WOULD pay
    // those builds; the flag records which mode this run measured.
    def warm(what: String) =
      freshness(spark, sfDir, what, Artifacts.all).forall(_._2)
    val warmFound = warm("warehouse at start")
    // session warmup: JIT/codegen/scheduler paths + parquet reader init
    // (region is 5 rows — engine machinery, not query data)
    spark.range(1000).selectExpr("sum(id)").collect()
    spark.read.parquet(s"$sfDir/region.parquet").count()
    val (prebuildSec, prebuildFailed) = prebuild(spark, sfDir, Artifacts.all)
    // the artifact of record must not CLAIM warmth it didn't achieve: a
    // prebuild failure means the timed section pays (or fails) the build,
    // so the flag is re-derived from the warehouse, not hardcoded
    val warmAfter = warm("after prebuild") && prebuildFailed.isEmpty
    if (prebuildFailed.nonEmpty)
      println(s"[bench] PREBUILD FAILED (timed section runs cold): " +
        prebuildFailed.sorted.mkString(", "))
    // the box is load-varying (r6: 95–142 s spreads on identical code), so
    // one sample per query is noise: run the timed section REPS times and
    // record per-query MIN (best-case, least-noise) and MEDIAN (value of
    // record — regressions gate on this, a single slow sample can't fake
    // one). `value`/`queries` carry the medians.
    val reps = math.max(1, sys.env.getOrElse("SPARK_GRAFT_BENCH_REPS", "3").toInt)
    // optional query filter (SPARK_GRAFT_BENCH_QUERIES=q22_...,q24_...):
    // the sf10 family runs time just the dedup/ANN/cluster + TPC-H shapes
    // instead of all queries. Unknown names fail loud — a typo must not
    // silently bench nothing.
    val filter = sys.env.get("SPARK_GRAFT_BENCH_QUERIES")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)
    filter.foreach(validateFilter)
    val qlist = SparkEntry.queries.toSeq.sortBy(_._1)
      .filter(q => filter.forall(_.contains(q._1)))
    val runs = (1 to reps).map(_ => timeQueries(spark, sfDir, qlist))
    val results = runs.head.indices.map { i =>
      val name = runs.head(i)._1
      val secs = runs.map(_(i)._2).sorted
      val rows = runs.map(_(i)._3).min // any failed rep (-1) marks it failed
      (name, secs(secs.length / 2), secs.head, rows)
    }
    // r6 post-mortem: a swallowed per-query Throwable let 18 sub-second
    // FAILURES masquerade as query times in the artifact of record. Rows
    // (-1 = failed) and the failed list now ship in the detail JSON, and
    // failures get their own loud stdout line.
    val failed = results.collect { case (name, _, _, rows) if rows < 0 => name }
    val qs = results.map { case (k, med, _, _) => s"\"" + k + "\":" + med }
      .mkString("{", ",", "}")
    val qsMin = results.map { case (k, _, mn, _) => s"\"" + k + "\":" + mn }
      .mkString("{", ",", "}")
    val rowsJson = results.map { case (k, _, _, r) => s"\"" + k + "\":" + r }
      .mkString("{", ",", "}")
    // per query, one count per rep: a rep that compiles again what the
    // rep before it compiled shows the codegen cache evicting
    val compilesJson = runs.head.indices.map { i =>
      s"\"" + runs.head(i)._1 + "\":" + runs.map(_(i)._4).mkString("[", ",", "]")
    }.mkString("{", ",", "}")
    val failedJson = failed.map("\"" + _ + "\"").mkString("[", ",", "]")
    // `value` sums OK queries only: folding a failed query's (often tiny)
    // error time into the total would read a regression-to-failure as a
    // SPEEDUP, betrayed only by n_failed. The failed list still ships.
    val total = results.collect { case (_, med, _, rows) if rows >= 0 => med }
      .sum
    // scale probe for the dedup/ANN family (disable: SPARK_GRAFT_SCALE_PROBE=0;
    // growth factor via SPARK_GRAFT_SCALE_FACTOR, default 10 — larger
    // factors are the "would it survive 100×" evidence run on demand)
    val probeJson =
      if (sys.env.get("SPARK_GRAFT_SCALE_PROBE").contains("0")) ""
      else {
        val factor = sys.env.getOrElse("SPARK_GRAFT_SCALE_FACTOR", "10").toInt
        scaleProbe(spark, sfDir, factor, reps)
      }
    // JSON string escape for interpolated PATHS (sfDir, detail path): a
    // quote or backslash in a path would corrupt the artifact of record;
    // same escaper shape as Verify's q()
    def esc(s: String): String = s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    }
    val ccJson = mainCcRounds.toSeq.sortBy(_._1)
      .map { case (k, v) => s"\"" + k + "\":" + v }.mkString("{", ",", "}")
    val cpJson = mainCandPairs.toSeq.sortBy(_._1)
      .map { case (k, v) => s"\"" + k + "\":" + v }.mkString("{", ",", "}")
    // class metadata of every generated class this run kept: the cost side
    // of the codegen cache size (GraftSession.CodegenCacheEntries)
    val metaspaceMb = java.lang.management.ManagementFactory.getMemoryPoolMXBeans.asScala
      .find(_.getName == "Metaspace").map(_.getUsage.getUsed / 1048576.0)
      .getOrElse(-1.0)
    val detailJson =
      s"""{"metric":"total","value":$total,"unit":"sec","reps":$reps,"queries":$qs,"queries_min":$qsMin,"rows":$rowsJson,"codegen_compiles":$compilesJson,"failed":$failedJson,"cc_rounds":$ccJson,"cand_pairs":$cpJson,"sf":"${esc(sfDir)}","warehouse_warm":$warmAfter,"warehouse_warm_found":$warmFound,"prebuild_failed":${prebuildFailed.map("\"" + _ + "\"").mkString("[", ",", "]")},"prebuild_sec":$prebuildSec,"metaspace_mb":$metaspaceMb$probeJson}"""
    // r3 post-mortem: the metric line printed BEFORE spark.stop() was
    // displaced out of the driver's 2000-char stdout tail by a shutdown
    // stack-trace flood. r4 post-mortem: with 73 queries the single metric
    // line grew to ~3.1 kB and the tail capture clipped its HEAD, so
    // nothing parsed. Order of record now: write the detail FILE first (a
    // completed run's results survive any shutdown throw), drain every
    // scope BLOCKING and stop the session under a try (a shutdown error
    // must not displace the results it follows), print the FULL detail to
    // stdout, then print a COMPACT summary (<500 bytes) as the very last
    // stdout line so any tail window holds a parseable object.
    val detailPath = java.nio.file.Paths.get("bench_detail.json")
    java.nio.file.Files.write(detailPath,
      (detailJson + "\n").getBytes("UTF-8"))
    try {
      graft.core.Mat.releaseAllScopes(blocking = true)
      spark.stop()
    } catch { case t: Throwable =>
      println(s"[bench] shutdown error (results already written): $t")
    }
    println(detailJson)
    if (failed.nonEmpty)
      println(s"[bench] FAILED ${failed.size} queries (excluded from value): " +
        failed.sorted.mkString(", "))
    val compact =
      s"""{"metric":"total","value":$total,"unit":"sec","n_queries":${results.size},"n_failed":${failed.size},"sf":"${esc(sfDir)}","warehouse_warm":$warmAfter,"warehouse_warm_found":$warmFound,"prebuild_sec":$prebuildSec,"detail":"${esc(detailPath.toAbsolutePath.toString)}"}"""
    println(compact)
  }
}
