package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
import org.apache.spark.sql.types.StructType

/** Structured Streaming layer. The reference's "streaming" is a 1 s
  * micro-batch scheduler poll (SURVEY.md §2.9) — parity for that lives in
  * graft.sched. This module is the north-star extension (BASELINE.json):
  * event-stream analytics with watermarks, windows, and custom state, built
  * so the same transforms run on a 100 TB/day stream (partition by key,
  * bounded state via watermark eviction).
  *
  * State-store provider: the default HDFS-backed store keeps state on-heap,
  * which is right for the watermark-bounded state sizes here. At 100 TB/day
  * the per-executor state exceeds heap and production should set
  * `spark.sql.streaming.stateStore.providerClass` to
  * `...state.RocksDBStateStoreProvider` (off-heap, incremental
  * checkpointing). Measured locally (q48 shape, 4 chunks ×
  * 8 partitions): 3.1 s HDFS vs 3.2 s RocksDB after warmup — a wash at
  * bench-box state sizes, so the default stays; the knob, not the code,
  * is the scale path.
  */
object Streams {

  /** Shuffle/state partition count for the synchronously-driven streaming
    * queries (conf `spark.graft.stream.statePartitions`, default 8).
    *
    * Stateful streaming operators create one state-store instance per
    * shuffle partition PER MICRO-BATCH, and each store pays an open +
    * commit (delta file write, maintenance bookkeeping) even when its
    * partition holds a handful of keys — at the bench's micro-batch sizes
    * the per-store fixed cost dominates the stateful stages (measured at
    * sf0.1/local[32]: the 9 streaming queries total 42.0 s at 32 state
    * partitions vs 27.3 s at 8, emitted rows identical). State partition
    * count is a property of the STREAM (key cardinality × state volume),
    * not of the batch session's core count, so it is its own conf:
    * production streams at 100 TB/day raise it to hundreds — it is pinned
    * into each checkpoint at first start (Spark persists it in the offset
    * log and ignores later session values), exactly like
    * `spark.sql.shuffle.partitions` would be, but without coupling the
    * batch suite's shuffle sizing to stream state sizing. The default (8)
    * is core-count-independent, so driver bench runs at different
    * `SPARK_GRAFT_CPUS` stay comparable. */
  private[graft] def statePartitions(spark: SparkSession): Int =
    spark.conf.getOption("spark.graft.stream.statePartitions")
      .map(_.toInt).getOrElse(8)

  /** Run a synchronous stream drive with `spark.sql.shuffle.partitions`
    * temporarily set to [[statePartitions]] (the value a fresh checkpoint
    * pins for its state stores), restoring the session conf after. The
    * queries drive to completion inside, so nothing else observes the
    * temporary value. Emitted rows are partition-count-independent (the
    * oracle re-checks them); only the per-micro-batch state-store fan-out
    * changes.
    *
    * SEQUENTIAL-DRIVE ASSUMPTION (r17 ADVICE, made explicit): the conf
    * mutation is session-wide and non-atomic, and the finally-block
    * StateStore.stop() is JVM-wide — a concurrent batch query on the SAME
    * session could observe the temporary partition count, and a
    * concurrent long-lived stream in the same JVM would lose its loaded
    * providers mid-batch (they reload next batch — correct but wasteful;
    * opt out via spark.graft.stream.unloadStateOnStop=false). Every
    * caller here is a synchronously-driven per-call stream (bench, verify,
    * scheduler tick) on a driver that runs queries one at a time.
    * Deployments that multiplex concurrent queries on one session should
    * drive these on a cloned session (spark.newSession()) instead. */
  private[graft] def withStatePartitions[A](spark: SparkSession)(f: => A): A = {
    val prev = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions",
      statePartitions(spark).toString)
    try f finally {
      spark.conf.set("spark.sql.shuffle.partitions", prev)
      // The drive is synchronous and its checkpoint is per-call scratch,
      // so its state-store PROVIDERS are garbage the moment it returns —
      // but StateStore keeps every provider loaded JVM-wide and the
      // 60 s maintenance task iterates all of them forever. In a session
      // that drives many short streams (a bench run, a scheduler daemon's
      // day) the leaked providers compound: measured q71 at 4.5 s in a
      // fresh session vs 13.6-14.3 s late in a 50-stream session.
      // Unload them; the subsystem lazily restarts for the next stream.
      // Deployments running CONCURRENT long-lived streams in one JVM can
      // disable this (their providers would reload next batch — correct
      // but wasteful): spark.graft.stream.unloadStateOnStop=false.
      if (spark.conf.getOption("spark.graft.stream.unloadStateOnStop")
            .forall(_.toBoolean))
        org.apache.spark.sql.execution.streaming.state.StateStore.stop()
    }
  }

  /** Explicit strictly-increasing mtimes (60 s apart) on the staged chunk
    * files, in NAME order — which is range order for a repartitionByRange
    * write. The file source orders by modification time, and back-to-back
    * writes on a coarse-mtime filesystem can TIE, making arrival order
    * (and any first-arrival-wins semantics downstream) nondeterministic;
    * explicit stamps remove the filesystem from the contract. Returns the
    * staged files for callers that add replay copies. */
  private def staggerMtimes(stage: String): Array[java.io.File] = {
    val parts = new java.io.File(stage).listFiles()
      .filter(f => f.getName.startsWith("part-")).sortBy(_.getName)
    val base = System.currentTimeMillis() - parts.length * 60000L
    parts.zipWithIndex.foreach { case (f, i) => f.setLastModified(base + i * 60000L) }
    parts
  }

  /** Batch-load events with `ts` as an INSTANT timestamp, ready for
    * watermarking (watermarks want TimestampType). Delegates the
    * nanos-vs-native parquet mapping to [[graft.core.Tables.load]]
    * (schema-adaptive — r6 post-mortem: an assumed `ts long` explicit
    * schema silently received MICROS under Spark 4.1.2's native
    * TIMESTAMP(NANOS) read, compressing the time axis 1000×). Session TZ
    * is UTC, so the ntz→instant cast is the identity on the clock face. */
  private def eventsWithInstantTs(spark: SparkSession, sfDir: String): DataFrame =
    graft.core.Tables.events(spark, sfDir)
      .withColumn("ts", col("ts").cast("timestamp"))

  /** Streaming schema for the staged event chunks (written by
    * [[eventsWithInstantTs]] → stage parquet, so `ts` is a plain
    * instant-timestamp column there). */
  private val stagedSchema = new StructType()
    .add("event_id", "long").add("ts", "timestamp").add("user_id", "long")
    .add("event_type", "string").add("value", "double").add("props", "string")

  /** Windowed event aggregation with late-data handling: counts + value sums
    * per (window, event_type), watermarked so state is evicted once the
    * watermark passes window end. */
  def windowedEventCounts(events: DataFrame,
                          windowLen: String = "5 minutes",
                          slide: String = "5 minutes",
                          watermark: String = "10 minutes"): DataFrame =
    events
      .withWatermark("ts", watermark)
      .groupBy(window(col("ts"), windowLen, slide), col("event_type"))
      // exact cent longs (r9 sf10 fix — see Relational.pricingSummary):
      // incremental long state sums are order-independent, so the emitted
      // double is identical however micro-batches interleave
      .agg(count(lit(1)).as("n_events"),
           (sum(round(col("value") * 100).cast("long")) / 100.0).as("sum_value"))
      .select(col("window.start").as("window_start"),
              col("window.end").as("window_end"),
              col("event_type"), col("n_events"), col("sum_value"))

  final case class EventIn(user_id: Long, event_type: String, tsMillis: Long)
  final case class FailState(consecutiveFailures: Int)
  final case class FailAlert(userId: Long, consecutiveFailures: Int)

  /** Custom state: consecutive-'error' counting per user — the streaming
    * analogue of the scheduler's consecutive-failure retry window (A3).
    * Emits an alert row whenever a user's error streak reaches `threshold`;
    * any non-error event resets the streak. State is one Int per active key,
    * bounded by processing-time timeout. */
  def consecutiveErrorAlerts(events: Dataset[EventIn], threshold: Int,
                             evictAfter: Option[String] = None): Dataset[FailAlert] = {
    import events.sparkSession.implicits._
    // production sets evictAfter (bounded state); with a processing-time
    // timeout the engine triggers no-data batches to evict, so the
    // synchronous processAllAvailable test path uses NoTimeout
    val timeout = if (evictAfter.isDefined) GroupStateTimeout.ProcessingTimeTimeout
                  else GroupStateTimeout.NoTimeout
    events.groupByKey(_.user_id)
      .flatMapGroupsWithState(OutputMode.Append, timeout)(
        (userId: Long, evs: Iterator[EventIn], state: GroupState[FailState]) => {
          if (state.hasTimedOut) { state.remove(); Iterator.empty }
          else {
            var streak = state.getOption.map(_.consecutiveFailures).getOrElse(0)
            val alerts = scala.collection.mutable.ArrayBuffer.empty[FailAlert]
            evs.toSeq.sortBy(_.tsMillis).foreach { e =>
              if (e.event_type == "error") {
                streak += 1
                if (streak == threshold) alerts += FailAlert(userId, streak)
              } else streak = 0
            }
            state.update(FailState(streak))
            evictAfter.foreach(state.setTimeoutDuration)
            alerts.iterator
          }
        })
  }

  /** File-stream reader for the events schema (streaming ingest of a
    * directory that keeps receiving parquet/json drops). */
  def readEventStream(spark: SparkSession, dir: String, schema: StructType,
                      format: String = "parquet"): DataFrame =
    spark.readStream.schema(schema).format(format).load(dir)

  /** End-to-end streaming windowed aggregation over the events parquet,
    * driven synchronously to completion (complete mode so every window —
    * including the last, which a watermark would still hold — is emitted;
    * batch-equivalent and oracle-checkable). */
  /** Streaming read of the SOURCE events parquet with `ts` as an instant
    * timestamp. The explicit stream schema must match the file's actual
    * ts mapping (streams cannot infer): probe it with a batch read, then
    * either take the native instant read or the raw-nanos long + convert
    * route (r6 post-mortem: an assumed `ts long` schema silently received
    * micros under the native TIMESTAMP(NANOS) read). */
  private def eventStreamWithInstantTs(spark: SparkSession, sfDir: String): DataFrame = {
    val tsIsLong =
      spark.read.parquet(s"$sfDir/events.parquet").schema("ts").dataType ==
        org.apache.spark.sql.types.LongType
    val schema = new StructType()
      .add("event_id", "long").add("ts", if (tsIsLong) "long" else "timestamp")
      .add("user_id", "long")
      .add("event_type", "string").add("value", "double").add("props", "string")
    // file streams need a directory. Driver testdata is one FILE per table
    // (stream the sf dir globbed to it); Spark-written corpora (the
    // ScaleGen sf1 replica) are DIRECTORIES of part files (stream the
    // table dir itself — a file glob there matches nothing and the r8
    // sf1 run returned an empty stream).
    val tablePath = s"$sfDir/events.parquet"
    val raw =
      if (new java.io.File(tablePath).isDirectory)
        spark.readStream.schema(schema).parquet(tablePath)
      else spark.readStream.schema(schema)
        .option("pathGlobFilter", "events.parquet").parquet(sfDir)
    if (tsIsLong) raw.withColumn("ts", expr("timestamp_micros(ts div 1000)"))
    else raw
  }

  def streamWindowedFromParquet(spark: SparkSession, sfDir: String): DataFrame = {
    // watermarks require TIMESTAMP (an instant) — window on that, cast the
    // window bounds to ntz at the output edge (session TZ UTC → identity)
    //
    // Complete MODE is deliberate HERE and only here: its result is the
    // (window × type) dashboard aggregate, whose cardinality is the time
    // axis, not the corpus — so re-emitting the full aggregate each
    // trigger is bounded. The SINK is a foreachBatch distributed parquet
    // overwrite, not the in-memory table: complete mode re-emits the FULL
    // aggregate every trigger, so overwrite-with-the-latest-batch is
    // batch-equivalent, and the result never materializes on the driver
    // (the old memory sink's LocalTableScan carried the ~4M-row aggregate
    // as a ~280 MB task-closure payload into Verify's parquet write at
    // the 100× point — the r11 run flagged it; at 1000× it would be
    // driver-OOM). Anything whose result grows with the CORPUS must take
    // the q48/q109 append-to-file-sink shape instead (the 100× gate
    // OOM'd q109's old complete-mode form — see
    // streamSessionWindowsAppendFromParquet).
    val agg = windowedEventCounts(eventStreamWithInstantTs(spark, sfDir))
      .withColumn("window_start", col("window_start").cast("timestamp_ntz"))
      .withColumn("window_end", col("window_end").cast("timestamp_ntz"))
    val work = graft.core.TempDirs.scratchDir("graft-q35")
    val out = s"$work/result"
    withStatePartitions(spark) {
      val q = agg.writeStream.outputMode("complete")
        .option("checkpointLocation", s"$work/ckpt")
        .foreachBatch { (batch: Dataset[org.apache.spark.sql.Row], _: Long) =>
          batch.write.mode("overwrite").parquet(out)
        }
        .start()
      try q.processAllAvailable() finally q.stop()
    }
    spark.read.parquet(out)
  }

  /** The PRODUCTION streaming shape: the same windowed aggregation in
    * APPEND mode with a watermark, writing a parquet file sink with a
    * checkpoint. Only closed windows (watermark passed) are emitted, so
    * state is bounded and the sink is distributed + exactly-once
    * (checkpoint offsets + sink manifest) — unlike the complete-mode memory
    * sink used for the oracle compare, which materializes all state on the
    * driver and exists only because it is batch-equivalent and therefore
    * DuckDB-checkable.
    *
    * The batch events file is staged into `chunks` time-ordered files and
    * streamed with `maxFilesPerTrigger=1`: watermarks only advance BETWEEN
    * micro-batches, so a single-file source would process everything in one
    * batch and append mode could emit nothing by design. In production data
    * arrives incrementally and this staging step does not exist. Windows
    * newer than the final watermark correctly remain in state (they'd flush
    * when the next day's data arrives). Returns the file-sink contents. */
  def streamWindowedAppendFromParquet(spark: SparkSession, sfDir: String,
                                      workDir: String, chunks: Int = 8): DataFrame = {
    val stage = s"$workDir/stage"; val out = s"$workDir/out"; val ckpt = s"$workDir/ckpt"
    // time-ordered contiguous chunks → file order == event-time order, the
    // arrival pattern a live stream would have
    eventsWithInstantTs(spark, sfDir)
      .repartitionByRange(chunks, col("ts"))
      .write.mode("overwrite").parquet(stage)
    staggerMtimes(stage)
    val raw = spark.readStream.schema(stagedSchema)
      .option("maxFilesPerTrigger", "1").parquet(stage)
    val agg = windowedEventCounts(raw)
    withStatePartitions(spark) {
      val q = agg.writeStream.format("parquet")
        .option("path", out).option("checkpointLocation", ckpt)
        .outputMode("append").start()
      try q.processAllAvailable() finally q.stop()
    }
    spark.read.parquet(out)
  }

  /** Streaming dedup of an at-least-once source: the events file is staged
    * into time-ordered chunks and every chunk is delivered TWICE (a full
    * redelivery pass after the originals — the replay shape of an
    * at-least-once bus after a consumer restart); `dropDuplicates` keyed on
    * (event_id, ts) under a watermark emits each event exactly once to an
    * append parquet sink. Returns per-type counts of the sink contents,
    * which must equal the batch counts over the ORIGINAL events — the
    * DuckDB-oracle-checkable contract (a broken dedup doubles every count).
    *
    * State/scale shape: one state row per event inside the watermark
    * horizon, partitioned by the dedup key; eviction is watermark-driven.
    * The horizon here ("7 days") exceeds the dataset's span so the whole
    * file dedups exactly; production sets it to the bus's redelivery bound
    * (`dropDuplicatesWithinWatermark` relaxes this to per-key windows when
    * redelivered timestamps can drift). The dedup key includes the
    * watermark column, so state eviction applies — without it Spark would
    * keep every key forever. */
  def streamDedupFromParquet(spark: SparkSession, sfDir: String,
                             workDir: String, chunks: Int = 4): DataFrame = {
    val stage = s"$workDir/stage"; val out = s"$workDir/out"; val ckpt = s"$workDir/ckpt"
    eventsWithInstantTs(spark, sfDir)
      .repartitionByRange(chunks, col("ts"))
      .write.mode("overwrite").parquet(stage)
    val parts = new java.io.File(stage).listFiles()
      .filter(_.getName.startsWith("part-")).sortBy(_.getName)
    // redelivery pass: copy every chunk; mtimes order originals first, then
    // the full replay, so replayed rows arrive in LATER micro-batches and
    // the dedup is exercised across batches, not just within one
    val base = System.currentTimeMillis() - parts.length * 2 * 60000L
    parts.zipWithIndex.foreach { case (f, i) =>
      f.setLastModified(base + i * 60000L)
      val dup = new java.io.File(stage, s"replay-${f.getName}")
      java.nio.file.Files.copy(f.toPath, dup.toPath)
      dup.setLastModified(base + (parts.length + i) * 60000L)
    }
    val raw = spark.readStream.schema(stagedSchema)
      .option("maxFilesPerTrigger", chunks.toString).parquet(stage)
    val deduped = raw.withWatermark("ts", "7 days")
      .dropDuplicates("event_id", "ts")
    withStatePartitions(spark) {
      val q = deduped.writeStream.format("parquet")
        .option("path", out).option("checkpointLocation", ckpt)
        .outputMode("append").start()
      try q.processAllAvailable() finally q.stop()
    }
    // min/max ts make the TIME AXIS oracle-visible: a timestamp-unit
    // regression (r6: micros read as millis compressed the axis 1000×)
    // turns this row red instead of hiding behind count-only output
    spark.read.parquet(out)
      .groupBy("event_type").agg(count(lit(1)).as("n_events"),
        min(col("ts").cast("timestamp_ntz")).as("min_ts"),
        max(col("ts").cast("timestamp_ntz")).as("max_ts"))
  }

  /** Stream-stream interval join: purchases joined to the same user's
    * clicks within the preceding 10 minutes — both sides are live streams
    * (the attribution query a 100 TB/day event bus runs continuously).
    * Inner joins emit a match as soon as both rows have arrived; the
    * watermarks + time-range condition bound the join STATE (a click is
    * droppable once the watermark passes its ts + 10 min), so state size
    * tracks the interval, not the stream. The staged time-ordered chunks
    * make matches span micro-batches (a purchase in batch N joins clicks
    * buffered from batch N-1), exercising cross-batch state. The emitted
    * SET is deterministic and equals the batch interval join — the DuckDB
    * oracle. */
  def streamStreamJoinFromParquet(spark: SparkSession, sfDir: String,
                                  workDir: String, chunks: Int = 4,
                                  intervalMinutes: Int = 10): DataFrame = {
    val stage = s"$workDir/stage"; val out = s"$workDir/out"; val ckpt = s"$workDir/ckpt"
    eventsWithInstantTs(spark, sfDir)
      .repartitionByRange(chunks, col("ts"))
      .write.mode("overwrite").parquet(stage)
    staggerMtimes(stage)
    // 2 files per trigger → 2 micro-batches over 4 chunks: batch 2's
    // purchases must match batch 1's buffered clicks, so cross-batch join
    // state is exercised, while per-batch state-commit cost stays halved
    // (state-store commits dominate micro-batches on a bench box)
    def read() = spark.readStream.schema(stagedSchema)
      .option("maxFilesPerTrigger", "2").parquet(stage)
    val purchases = read().filter(col("event_type") === "purchase")
      .select(col("user_id"), col("event_id").as("purchase_id"),
              col("ts").as("purchase_ts"))
      .withWatermark("purchase_ts", "30 minutes")
    val clicks = read().filter(col("event_type") === "click")
      .select(col("user_id").as("click_user"), col("event_id").as("click_id"),
              col("ts").as("click_ts"))
      .withWatermark("click_ts", "30 minutes")
    val joined = purchases.join(clicks,
      col("user_id") === col("click_user") &&
      col("click_ts") >= col("purchase_ts") - expr(s"INTERVAL $intervalMinutes MINUTES") &&
      col("click_ts") <= col("purchase_ts"))
      .select(col("user_id"), col("purchase_id"), col("click_id"))
    withStatePartitions(spark) {
      val q = joined.writeStream.format("parquet")
        .option("path", out).option("checkpointLocation", ckpt)
        .outputMode("append").start()
      try q.processAllAvailable() finally q.stop()
    }
    spark.read.parquet(out)
  }

  final case class LocfEvent(event_id: Long, user_id: Long, tsMicros: Long,
                             event_type: String, value: Double)
  final case class LocfState(lastValue: Double, hasValue: Boolean)

  /** Streaming last-observation-carried-forward (the q107 batch window as
    * a stateful stream): per-user custom state carries the most recent
    * purchase value across micro-batches via flatMapGroupsWithState —
    * each event is emitted annotated with it (a purchase sees its own
    * value, matching the batch window's CURRENT-row bound). The staged
    * time-ordered chunks guarantee a user's earlier events arrive in
    * earlier batches (range partitioning on ts), and events inside a
    * batch are sorted per user, so the carried value is exactly the batch
    * window's. State is ONE (double, bool) per active user — at 100 TB/day
    * production adds a processing-time timeout to evict idle users
    * (consecutiveErrorAlerts documents the same pattern). */
  def streamLocfFromParquet(spark: SparkSession, sfDir: String,
                            workDir: String, chunks: Int = 4): DataFrame = {
    import spark.implicits._
    val stage = s"$workDir/stage"
    eventsWithInstantTs(spark, sfDir)
      .repartitionByRange(chunks, col("ts"))
      .write.mode("overwrite").parquet(stage)
    staggerMtimes(stage)
    val raw = spark.readStream.schema(stagedSchema)
      .option("maxFilesPerTrigger", "1").parquet(stage)
      .select(col("event_id"), col("user_id"), unix_micros(col("ts")).as("tsMicros"),
              col("event_type"), col("value")).as[LocfEvent]
    val annotated = raw.groupByKey(_.user_id)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.NoTimeout)(
        (uid: Long, evs: Iterator[LocfEvent], state: GroupState[LocfState]) => {
          var st = state.getOption.getOrElse(LocfState(0.0, hasValue = false))
          val out = evs.toSeq.sortBy(e => (e.tsMicros, e.event_id)).map { e =>
            if (e.event_type == "purchase") st = LocfState(e.value, hasValue = true)
            (e.event_id, uid, e.tsMicros, e.event_type, e.value,
             if (st.hasValue) Some(st.lastValue) else None)
          }
          state.update(st)
          out.iterator
        })
      .toDF("event_id", "user_id", "tsMicros", "event_type", "value",
            "last_purchase_value")
    // parquet sink, not the in-memory table: this query emits one row PER
    // EVENT, so a memory sink is O(corpus) DRIVER heap — the same class
    // of failure the 100× gate caught on q109 (r11). The file sink keeps
    // the driver at O(1); only the per-user scalar state lives in memory.
    val out = s"$workDir/out"; val ckpt = s"$workDir/ckpt"
    withStatePartitions(spark) {
      val q = annotated.writeStream.format("parquet")
        .option("path", out).option("checkpointLocation", ckpt)
        .outputMode("append").start()
      try q.processAllAvailable() finally q.stop()
    }
    spark.read.parquet(out).select(col("event_id"), col("user_id"),
      expr("cast(timestamp_micros(tsMicros) as timestamp_ntz)").as("ts"),
      col("event_type"), col("value"), col("last_purchase_value"))
  }

  /** Streaming sessionization, PRODUCTION shape (r11): the q44
    * 30-minute-gap `session_window` aggregation under a watermark in
    * APPEND mode to a parquet file sink — closed sessions emit
    * incrementally, and state is bounded by the sessions still open
    * inside the watermark horizon, never the session history. (The r10
    * form ran complete mode into the in-memory sink; the 100× gate
    * OOM'd it — 10M events make 9.5M sessions over a 100×-longer time
    * axis, and complete mode re-materializes ALL of them in state and on
    * the driver every trigger. Complete mode over session windows is
    * inherently O(total-sessions); append is the only shape that
    * scales.) Staging is range-partitioned by ts (q48's convention), so
    * no event is ever late and the final sink holds exactly the sessions
    * the final watermark closed: session_end ≤ max(ts) − 10 min — the
    * predicate the DuckDB oracle applies to the batch gaps-and-islands
    * sessions. Session merging across micro-batches (an event arriving
    * within the gap extends the open session) is the engine's own state
    * merge, exercised by every session that spans a chunk boundary. */
  def streamSessionWindowsAppendFromParquet(spark: SparkSession, sfDir: String,
                                            workDir: String,
                                            chunks: Int = 4): DataFrame = {
    val stage = s"$workDir/stage"; val out = s"$workDir/out"; val ckpt = s"$workDir/ckpt"
    eventsWithInstantTs(spark, sfDir)
      .repartitionByRange(chunks, col("ts"))
      .write.mode("overwrite").parquet(stage)
    staggerMtimes(stage)
    val raw = spark.readStream.schema(stagedSchema)
      .option("maxFilesPerTrigger", "1").parquet(stage)
    val agg = raw.withWatermark("ts", "10 minutes")
      .groupBy(col("user_id"), session_window(col("ts"), "30 minutes"))
      // long-cents state: micro-batch-order-independent (the cross-engine
      // float rule all streaming sums follow); ONE division at the edge
      .agg(count(lit(1)).as("n_events"),
           sum(round(col("value") * 100).cast("long")).as("cents"))
      .select(col("user_id"),
              col("session_window.start").as("session_start"),
              col("session_window.end").as("session_end"),
              col("n_events"), (col("cents") / 100.0).as("sum_value"))
    withStatePartitions(spark) {
      val q = agg.writeStream.format("parquet")
        .option("path", out).option("checkpointLocation", ckpt)
        .outputMode("append").start()
      try q.processAllAvailable() finally q.stop()
    }
    spark.read.parquet(out)
      .withColumn("session_start", col("session_start").cast("timestamp_ntz"))
      .withColumn("session_end", col("session_end").cast("timestamp_ntz"))
  }

  /** Drive a streaming DataFrame synchronously into an in-memory table and
    * return the result — used by tests and the local smoke path (the guide's
    * `processAllAvailable` pattern). */
  def runToMemory(df: DataFrame, queryName: String,
                  outputMode: String = "append"): DataFrame = {
    val q = df.writeStream.format("memory").queryName(queryName)
      .outputMode(outputMode).start()
    try q.processAllAvailable() finally q.stop()
    df.sparkSession.table(queryName)
  }
}
