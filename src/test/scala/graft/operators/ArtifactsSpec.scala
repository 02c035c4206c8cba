package graft.operators

import java.nio.file.{Files, Path, Paths}

import graft.SparkSuite
import graft.core.Warehouse

/** The artifact registry against a warehouse built from it. The corpus is
  * a copy of the gate corpus in a fresh directory, so it gets its own
  * corpus suffix and starts with no artifact. */
class ArtifactsSpec extends SparkSuite {

  private def copyCorpus(prefix: String): String = {
    val d = tmpDir(prefix)
    val src = Paths.get(sfDir)
    val walk = Files.walk(src)
    try walk.toArray.map(_.asInstanceOf[Path]).foreach { p =>
      val to = Paths.get(d).resolve(src.relativize(p).toString)
      if (Files.isDirectory(p)) Files.createDirectories(to) else Files.copy(p, to)
    } finally walk.close()
    d
  }

  private lazy val dir: String = copyCorpus("artifacts-corpus")

  /** Fingerprint of every `graft_*` table of this corpus whose fingerprint
    * carries the corpus's document or embedding stamp. */
  private def stamped(): Map[String, String] = {
    val stamps = Seq(Artifacts.Documents, Artifacts.Embeddings)
      .map(s => Warehouse.sourceStamp(s"$dir/${s.file}"))
    val sfx = "_" + Warehouse.corpusSuffix(dir)
    val names = Option(Warehouse.warehousePath(spark).toFile.list()).toSeq.flatten
      .filter(n => n.startsWith("graft_") && n.contains(sfx))
    names.flatMap(t => Warehouse.fingerprintOf(spark, t).map(t -> _))
      .filter { case (t, _) => stamps.exists(s => Warehouse.isFresh(spark, t, Seq(s))) }
      .toMap
  }

  private lazy val firstBuild = graft.Bench.prebuild(spark, dir, Artifacts.all)

  override protected def afterAll(): Unit = {
    Warehouse.sweepCorpus(spark, dir)
    super.afterAll()
  }

  test("every builder and reader is a SparkEntry query") {
    val names = Artifacts.all.flatMap { a =>
      a.readers ++ (a.builder match {
        case Artifacts.Query(q) => Seq(q)
        case Artifacts.Ensure(_) => Nil
      })
    }.distinct
    assert((names.toSet -- graft.SparkEntry.queries.keySet).isEmpty)
    assert(Artifacts.all.map(_.name).distinct.size == Artifacts.all.size,
      "an artifact is declared twice")
    assert(Artifacts.all.forall(_.readers.nonEmpty))
  }

  test("after the registry's prebuild every entry is fresh and no builder failed") {
    val (_, failed) = firstBuild
    assert(failed.isEmpty, s"failed builders: $failed")
    assert(Artifacts.all.filterNot(_.isFresh(spark, dir)).isEmpty)
  }

  test("every stamped table of the corpus is declared") {
    firstBuild
    val declared = Artifacts.all.flatMap(_.tables(dir)).toSet
    val undeclared = stamped().keySet -- declared
    assert(undeclared.isEmpty, s"stamped tables no registry entry declares: $undeclared")
  }

  test("declared readers build nothing once the registry is built") {
    firstBuild
    val before = stamped()
    for (q <- Artifacts.all.flatMap(_.readers).distinct.sorted) {
      graft.SparkEntry.queries(q)(spark, dir).count()
      graft.core.Mat.releaseAll(blocking = true)
      val after = stamped()
      assert(after == before, s"$q built or rebuilt: " +
        (after.toSet diff before.toSet).map(_._1).toSeq.sorted.mkString(", "))
    }
  }

  test("a second prebuild changes no fingerprint") {
    firstBuild
    val before = stamped()
    val (_, failed) = graft.Bench.prebuild(spark, dir, Artifacts.all)
    assert(failed.isEmpty)
    assert(stamped() == before)
  }

  test("readers first: one declared reader per corpus-index entry leaves the index task nothing to build") {
    val readers = Seq("q74_incremental_stored", "q52_ivf_topk", "q152_ivf_partial_probe",
      "q160_pq_adc_recall", "q164_filtered_ann", "q162_pq_trained_audit",
      "q158_int8_quant_recall", "q154_incremental_embedding", "q58_dup_clusters_lsh")
    val index = Artifacts.all.filter(_.builder.isInstanceOf[Artifacts.Ensure])
    assert(index.forall(_.readers.exists(readers.contains)))
    val d = copyCorpus("artifacts-readers-first")
    try {
      for (q <- readers) {
        graft.SparkEntry.queries(q)(spark, d).count()
        graft.core.Mat.releaseAll(blocking = true)
      }
      val built = Pipeline.ensureCorpusIndex(spark, d)
      assert(built.map(_._1) == index.map(_.table(d)))
      assert(built.forall(!_._2), s"rebuilt after its readers: ${built.filter(_._2).map(_._1)}")
    } finally Warehouse.sweepCorpus(spark, d)
  }

  test("the fold view of an empty fold is the plain corpus: building every entry over it changes nothing") {
    firstBuild
    val before = stamped()
    val fold = Pipeline.ensureFoldedTable(spark, dir, "emptyfold")
    for (Artifacts.Artifact(_, source, _, Artifacts.Ensure(recipe), _) <- Artifacts.all)
      recipe(Pipeline.foldView(spark, dir, fold,
        if (source == Artifacts.Embeddings) "vec" else "doc")._2)
    assert(stamped() == before)
  }

  test("a grow fold with nothing admitted or removed yields the plain family's rows") {
    firstBuild
    val ns = "emptygrow"
    val (cells, pq, int8) = Pipeline.promoteAdmittedVectors(spark, dir, ns)
    def t(name: String) = s"graft_${name}_${Warehouse.corpusSuffix(dir)}"
    def same(a: String, b: String): Unit = {
      val (x, y) = (spark.table(a), spark.table(b))
      assert(x.count() == y.count() && x.exceptAll(y).isEmpty && y.exceptAll(x).isEmpty,
        s"$a differs from $b")
    }
    val lsh = t(s"vecbkt_grown_$ns")
    for ((grown, plain) <- Seq(cells -> t("ivf_seed"), pq.table -> t("pq_seed"),
        int8 -> t("int8"), lsh -> t("vecbkt_adm"));
        sibling <- Seq("", "_centroids", "_codebook", "_cfg")
        if Files.isDirectory(Warehouse.tableDir(spark, plain + sibling)))
      same(grown + sibling, plain + sibling)
    // the cell and int8 fingerprints match too; the codes' names its cell table
    for ((grown, plain) <- Seq(cells -> t("ivf_seed"), int8 -> t("int8"), lsh -> t("vecbkt_adm")))
      assert(Warehouse.fingerprintOf(spark, grown) == Warehouse.fingerprintOf(spark, plain))
  }
}
