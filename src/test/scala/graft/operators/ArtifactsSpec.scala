package graft.operators

import java.nio.file.{Files, Path, Paths}

import graft.SparkSuite
import graft.core.Warehouse

/** The artifact registry against a warehouse built from it. The corpus is
  * a copy of the gate corpus in a fresh directory, so it gets its own
  * corpus suffix and starts with no artifact. */
class ArtifactsSpec extends SparkSuite {

  private lazy val dir: String = {
    val d = tmpDir("artifacts-corpus")
    val src = Paths.get(sfDir)
    val walk = Files.walk(src)
    try walk.toArray.map(_.asInstanceOf[Path]).foreach { p =>
      val to = Paths.get(d).resolve(src.relativize(p).toString)
      if (Files.isDirectory(p)) Files.createDirectories(to) else Files.copy(p, to)
    } finally walk.close()
    d
  }

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
}
