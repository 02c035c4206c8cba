package graft.operators

import graft.SparkSuite

/** r17 optimization contracts of the gate-step markers and the stored
  * whole-corpus signature table:
  *  - a replayed gate serve (marker present) returns bit-identical rows
  *    while skipping its idempotent state step;
  *  - sweeping the namespace state out from under a standing marker does
  *    NOT break the serve — the guards detect row-less state and re-run
  *    the (idempotent) step;
  *  - a step that leaves one of its guard groups empty keeps the row
  *    guard on for the groups that did land rows;
  *  - the self band-join from the stored signature table emits exactly
  *    minhashCandidates' pair set. */
class GateStepSpec extends SparkSuite {

  test("q166 replay skips the admit but serves bit-identical rows; a swept namespace self-heals") {
    val dir = tmpDir("gatestep-corpus")
    graft.Bench.synthProbeCorpus(spark, dir, nDocs = 300, nVecs = 300)
    val sfx = graft.core.Warehouse.corpusSuffix(dir)
    def rows() = Pipeline.grownAnnServe(spark, dir)
      .collect().map(_.toString).sorted.toSeq

    val first = rows()
    assert(first.nonEmpty)
    val grow = s"graft_vecbkt_grow_q166_$sfx"
    val stampAfterFirst = graft.core.Warehouse.tableStamp(spark, grow)
    // replay: marker says the admit ran for this corpus stamp — the
    // growable state must not be touched (stamp unchanged) and the serve
    // must be bit-identical
    val second = rows()
    assert(second == first, "replayed gate serve diverged")
    assert(graft.core.Warehouse.tableStamp(spark, grow) == stampAfterFirst,
      "replayed serve mutated the growable state despite the step marker")

    // out-of-band sweep: empty the standing state while the marker still
    // claims the step ran — the guard must detect row-less state, re-run
    // the idempotent admit, and serve the same rows
    graft.core.Warehouse.truncateGrowable(spark, grow)
    graft.core.Warehouse.truncateGrowable(spark, s"graft_vecadm_fold_q166_$sfx")
    val third = rows()
    assert(third == first, "swept namespace did not self-heal")

    graft.core.Warehouse.sweepCorpus(spark, dir)
    graft.core.Mat.releaseAll(blocking = true)
  }

  test("a step that fills one of two guard groups keeps the row guard on for that group") {
    val dir = tmpDir("gatestep-groups")
    graft.Bench.synthProbeCorpus(spark, dir, nDocs = 20, nVecs = 20)
    val sfx = graft.core.Warehouse.corpusSuffix(dir)
    val (filled, left) = (s"graft_gs_filled_$sfx", s"graft_gs_left_$sfx")
    Seq(filled, left).foreach(graft.core.Warehouse.ensureGrowableTable(spark, _,
      "gatestep v1", new org.apache.spark.sql.types.StructType().add("id", "long"), null, 0))
    Pipeline.resetGateNamespaceIfStale(spark, dir, "gs")
    var runs = 0
    // the step lands rows in the first group only; the second stays empty
    def serve(): Unit = Pipeline.gateStepOnce(spark, dir, "gs", "fill-one",
        guards = Seq(Seq(filled), Seq(left))) {
      runs += 1
      if (!graft.core.Warehouse.growableHasRows(spark, filled))
        spark.range(3).write.mode("append").format("parquet").saveAsTable(filled)
    }
    serve()
    assert(runs == 1)
    serve()
    assert(runs == 1, "a replay with the filled group intact must skip the step")
    // out-of-band sweep of the group that did land rows: its row guard
    // must still be on, so the step runs again and restores the rows
    graft.core.Warehouse.truncateGrowable(spark, filled)
    serve()
    assert(runs == 2, "the swept group's row guard was off: the step did not run again")
    assert(graft.core.Warehouse.growableHasRows(spark, filled))
    serve()
    assert(runs == 2)
    graft.core.Warehouse.sweepCorpus(spark, dir)
  }

  test("stored-signature self candidates equal the live minhashCandidates pair set") {
    val dir = tmpDir("sigall-corpus")
    graft.Bench.synthProbeCorpus(spark, dir, nDocs = 400, nVecs = 50)
    val docs = graft.core.Tables.documents(spark, dir)
      .select(org.apache.spark.sql.functions.col("doc_id"),
              org.apache.spark.sql.functions.col("text"))
    val live = graft.functions.Dedup.minhashCandidates(docs, "doc_id", "text",
        k = 48, bands = 12, threshold = 0.2)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
      .sorted.toSeq
    val table = s"graft_sig_all_${graft.core.Warehouse.corpusSuffix(dir)}"
    graft.functions.Dedup.ensureSignatureTable(docs, "doc_id", "text", table,
      k = 48, bands = 12,
      tag = graft.core.Warehouse.sourceStamp(s"$dir/documents.parquet"))
    val stored = graft.functions.Dedup
      .minhashSelfCandidatesFromTable(spark, table, k = 48, bands = 12,
        threshold = 0.2)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
      .sorted.toSeq
    assert(live.nonEmpty, "degenerate spec corpus: no candidates at all")
    assert(stored == live,
      s"stored-table self candidates diverged: live=${live.size} stored=${stored.size}")
    graft.core.Warehouse.sweepCorpus(spark, dir)
    graft.core.Mat.releaseAll(blocking = true)
  }
}
