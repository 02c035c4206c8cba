package graft.streaming

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

import graft.SparkSuite

class StreamsSpec extends SparkSuite {

  test("windowed counts over the events file stream match batch totals") {
    val out = Streams.streamWindowedFromParquet(spark, sfDir)
    val batchTotal = graft.core.Tables.events(spark, sfDir).count()
    assert(out.agg(sum("n_events")).collect().head.getLong(0) == batchTotal)
    // 5-minute windows: every start is aligned and end = start + 5 min
    val misaligned = out.filter(
      expr("minute(window_start) % 5 != 0 OR second(window_start) != 0 OR " +
           "window_end != window_start + INTERVAL 5 MINUTES")).count()
    assert(misaligned == 0)
  }

  test("append-mode file-sink path matches batch for closed windows") {
    val work = tmpDir("stream-append")
    val emitted = Streams.streamWindowedAppendFromParquet(spark, sfDir, work)
      .persist()
    // batch equivalent, same rounding
    val batch = Streams.windowedEventCounts(
        graft.core.Tables.events(spark, sfDir))
      .withColumn("sum_value", round(col("sum_value"), 2))
      .persist()
    val keys = Seq("window_start", "window_end", "event_type")
    // 1) something was emitted (watermark advanced across chunks)
    assert(emitted.count() > 0)
    // 2) no spurious rows: every emitted row appears in the batch result
    //    with identical aggregate values (join on keys + values)
    val spurious = emitted.join(batch,
      keys ++ Seq("n_events", "sum_value"), "left_anti").count()
    assert(spurious == 0)
    // 3) no duplicate windows in the sink (exactly-once append)
    assert(emitted.groupBy(keys.map(col): _*).count()
      .filter(col("count") > 1).count() == 0)
    // 4) the earliest window is definitely closed → must be present
    val first = batch.orderBy("window_start", "event_type").limit(1)
    assert(emitted.join(first, keys, "left_semi").count() == 1)
    emitted.unpersist(); batch.unpersist()
  }

  test("streamDedupFromParquet: a full replay pass dedups to exactly the batch counts") {
    val work = tmpDir("sdedup")
    val out = Streams.streamDedupFromParquet(spark, sfDir, work)
    val got = out.collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val want = graft.core.Tables.events(spark, sfDir)
      .groupBy("event_type").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(got == want, s"streaming dedup diverged: $got vs $want")
    // the staged source really delivered every event twice — the dedup had
    // real work to do (without it, every count above would be doubled)
    val staged = spark.read.parquet(s"$work/stage").count()
    assert(staged == 2 * graft.core.Tables.events(spark, sfDir).count())
  }

  test("streaming incremental dedup emits exactly the batch verified pair set (q65/q74 parity)") {
    val streamed = graft.operators.Pipeline.streamIncrementalDedup(spark, sfDir)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).sorted
    val batch = graft.operators.Pipeline.incrementalMinhash(spark, sfDir)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).sorted
    assert(streamed.toSeq == batch.toSeq,
      s"streamed ${streamed.length} pairs != batch ${batch.length}")
    assert(streamed.nonEmpty, "fixture corpus should contain verified pairs")
    graft.core.Mat.releaseAll()
  }

  test("stream-stream interval join emits exactly the batch interval join") {
    val work = tmpDir("ssjoin")
    // 120-minute window: the sf0.001 event spacing (~tens of minutes)
    // guarantees a non-empty match set, so parity is evidenced, not vacuous
    val out = Streams.streamStreamJoinFromParquet(spark, sfDir, work,
      intervalMinutes = 120)
    val ev = graft.core.Tables.events(spark, sfDir)
    val p = ev.filter(col("event_type") === "purchase")
      .select(col("user_id"), col("event_id").as("purchase_id"), col("ts").as("pts"))
    val c = ev.filter(col("event_type") === "click")
      .select(col("user_id").as("cu"), col("event_id").as("click_id"), col("ts").as("cts"))
    val batch = p.join(c, col("user_id") === col("cu") &&
        col("cts") >= col("pts") - expr("INTERVAL 120 MINUTES") &&
        col("cts") <= col("pts"))
      .select(col("user_id"), col("purchase_id"), col("click_id"))
    val a = out.collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).sorted
    val b = batch.collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).sorted
    assert(a.nonEmpty, "no matches — the parity check is vacuous")
    assert(a.toSeq == b.toSeq)
  }

  test("dedupStreamBatch: a replayed micro-batch is idempotent (batchId-keyed overwrite)") {
    import graft.operators.Pipeline
    val docs = graft.core.Tables.documents(spark, sfDir)
      .select(col("doc_id"), col("text"))
    val table = "q82_replay_sigs"
    graft.core.Warehouse.clear(spark, table)
    try {
      graft.functions.Dedup.ensureSignatureTable(
        docs.filter(pmod(col("doc_id"), lit(5)) =!= 4), "doc_id", "text",
        table, k = 48, bands = 12)
      val out = tmpDir("q82replay") + "/out"
      val batch = docs.filter(pmod(col("doc_id"), lit(5)) === 4)
      def pairs() = spark.read.parquet(out).select("inc_id", "corpus_id")
        .collect().map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq
      Pipeline.dedupStreamBatch(spark, docs, table, batch, batchId = 0L, out)
      val once = pairs()
      assert(once.nonEmpty, "fixture corpus should contain verified pairs")
      // at-least-once replay of the SAME micro-batch: the sink must hold
      // exactly the first attempt's pairs, not two copies
      Pipeline.dedupStreamBatch(spark, docs, table, batch, batchId = 0L, out)
      assert(pairs() == once, "replayed batch duplicated the sink")
      graft.core.Mat.releaseAll()
    } finally graft.core.Warehouse.clear(spark, table)
  }

  test("releaseAdmissionBatch: a replayed micro-batch re-admits exactly its first attempt") {
    import spark.implicits._
    import graft.operators.Pipeline
    val work = tmpDir("q96replay")
    val out = s"$work/out"; val fpDir = s"$work/fps"
    val good = "alpha beta gamma delta epsilon and the of to here"
    val good2 = "omega psi chi phi upsilon tau rho"
    def mk(rows: Seq[(Long, String)]) =
      rows.map { case (id, t) => (id, t, "en", "src9", 0L) }
        .toDF("doc_id", "text", "lang", "source", "n_chars")
    val evalSet = Seq.empty[Long].toDF("gh")
    Pipeline.releaseAdmissionBatch(spark, mk(Seq(5L -> good)), 0L,
      evalSet, out, fpDir)
    // batch 1: 42 is fresh (admit), 400 duplicates batch 0's fingerprint
    val b1 = mk(Seq(42L -> good2, 400L -> good))
    Pipeline.releaseAdmissionBatch(spark, b1, 1L, evalSet, out, fpDir)
    def admitted() = spark.read.parquet(out).select("doc_id")
      .collect().map(_.getLong(0)).toSet
    val first = admitted()
    assert(first == Set(5L, 42L), s"expected {5, 42}, got $first")
    // at-least-once replay of batch 1: its OWN first-attempt fingerprints
    // (including 42's) must not read as seen_before — the strictly-earlier
    // filter is what keeps the replay ≡ the first attempt — and neither
    // the admission sink nor the fingerprint state may double up
    Pipeline.releaseAdmissionBatch(spark, b1, 1L, evalSet, out, fpDir)
    assert(admitted() == first, "replayed batch changed the admission sink")
    val fpCount = spark.read.parquet(fpDir).count()
    assert(fpCount == 3, s"fingerprint state should hold 3 rows, got $fpCount")
  }

  test("streamReleaseAdmission: cross-batch first-arrival dedup equals batch min-id semantics") {
    import spark.implicits._
    import graft.operators.Pipeline
    val dir = tmpDir("q96fix")
    val good = "alpha beta gamma delta epsilon and the of to here"    // passes gopher
    val bad = "a b c d e f"                                           // mean len < 2
    val evalT = (1 to 10).map(i => s"e$i").mkString(" ")              // 10 toks: real 8-grams
    val leaky = evalT + " x1 x2"                                      // shares eval 8-grams
    Seq(
      (5L, good, "en", "src9", 0L),          // admitted (batch 0)
      (7L, evalT, "en", "src9", 0L),         // eval doc: held out
      (10L, bad, "en", "src9", 0L),          // rejected: quality
      (30L, leaky, "en", "src9", 0L),        // rejected: contaminated
      (42L, "omega psi chi phi upsilon tau rho", "en", "src9", 0L), // admitted
      (400L, good, "en", "src9", 0L),        // dup of ADMITTED 5, later batch
      (410L, bad, "en", "src9", 0L))         // dup of REJECTED 10: still out
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.parquet(s"$dir/documents.parquet")
    val got = Pipeline.streamReleaseAdmission(spark, dir)
      .collect().map(_.getLong(0)).toSet
    assert(got == Set(5L, 42L),
      s"expected exactly the batch release set {5, 42}, got $got")
  }

  test("consecutiveErrorAlerts fires at threshold and resets on success") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[Streams.EventIn]
    val alerts = Streams.consecutiveErrorAlerts(input.toDS(), threshold = 3)
    val q = alerts.writeStream.format("memory").queryName("err_alerts")
      .outputMode("append").start()
    try {
      // user 1: three consecutive errors → one alert; user 2: reset in between
      input.addData(
        Streams.EventIn(1, "error", 1), Streams.EventIn(1, "error", 2),
        Streams.EventIn(2, "error", 1), Streams.EventIn(2, "view", 2))
      q.processAllAvailable()
      input.addData(
        Streams.EventIn(1, "error", 3), // streak hits 3 → alert
        Streams.EventIn(2, "error", 3)) // streak restarted at 1 → no alert
      q.processAllAvailable()
      val got = spark.table("err_alerts").collect()
        .map(r => (r.getLong(0), r.getInt(1)))
      assert(got.toSeq == Seq((1L, 3)))
    } finally q.stop()
  }

  test("the corpus-scale stream queries stage their input under tempDir, off the scratch volume") {
    import java.nio.file.{Files, Path, Paths}
    val tmpRoot = Paths.get(System.getProperty("java.io.tmpdir"))
    val scratchRoot = graft.core.TempDirs.scratchRoot
    def dirs(root: Path, prefix: String): Set[Path] = {
      val s = Files.list(root)
      try s.toArray.map(_.asInstanceOf[Path])
        .filter(_.getFileName.toString.startsWith(prefix)).toSet
      finally s.close()
    }
    for (q <- Seq("q82_stream_incremental_dedup", "q96_stream_release_admission",
        "q159_stream_embedding_admission")) {
      val prefix = "graft-" + q.takeWhile(_ != '_')
      val (tmpBefore, scratchBefore) = (dirs(tmpRoot, prefix + "-stage"), dirs(scratchRoot, prefix))
      graft.SparkEntry.queries(q)(spark, sfDir).count()
      graft.core.Mat.releaseAll(blocking = true)
      val staged = dirs(tmpRoot, prefix + "-stage") -- tmpBefore
      assert(staged.size == 1, s"$q: staged dirs $staged")
      val parts = Files.list(staged.head)
      try assert(parts.toArray.exists(_.toString.endsWith(".parquet")), s"$q staged no parquet")
      finally parts.close()
      if (scratchRoot != tmpRoot) assert(!staged.head.startsWith(scratchRoot))
      val work = dirs(scratchRoot, prefix) -- staged -- scratchBefore
      assert(work.size == 1 && Files.isDirectory(work.head.resolve("ckpt")) &&
        !Files.exists(work.head.resolve("stage")), s"$q: scratch dirs $work")
    }
  }
}
