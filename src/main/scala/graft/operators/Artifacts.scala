package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions.{col, lit, pmod}

import graft.core.{Tables, Warehouse}
import graft.expressions.VectorExpressions
import graft.functions.{Dedup, Ivf, Vectors}

/** The registry of stored corpus artifacts: one entry per
  * `graft_<name>_<corpusSuffix>` table whose fingerprint carries a corpus
  * source stamp. Everything that enumerates artifacts derives from it:
  * [[Pipeline.ensureCorpusIndex]] (the [[Ensure]] entries, in declaration
  * order), and Bench's prebuilds and warm flags (every entry for the main
  * bench, the entries its probe queries read for the scale probe).
  * ArtifactsSpec checks the declarations against a built warehouse: every
  * stamped table is declared, and no declared reader builds anything once
  * the registry's builders ran.
  *
  * A corpus-index entry is also the only place its artifact is built: its
  * [[Recipe]] holds the corpus slice, the config, the tag format and the
  * table name, and every builder (the index task, the readers, the vacuum
  * fold, the grow fold) calls it with a [[View]] that carries only what
  * differs for that builder. Adding an artifact is one entry here;
  * building it is one call. */
object Artifacts {

  /** The corpus file whose `sourceStamp` an artifact's fingerprint carries. */
  sealed abstract class Source(val file: String) {
    def stamp(dir: String): String = Warehouse.sourceStamp(s"$dir/$file")
    /** The whole corpus as the source's recipes read it. */
    def corpus(spark: SparkSession, dir: String): DataFrame
  }
  case object Documents extends Source("documents.parquet") {
    def corpus(spark: SparkSession, dir: String): DataFrame =
      Tables.documents(spark, dir).select(col("doc_id"), col("text"))
  }
  case object Embeddings extends Source("embeddings.parquet") {
    // every column: pq_lbl carries `label` on its code rows
    def corpus(spark: SparkSession, dir: String): DataFrame = Tables.embeddings(spark, dir)
  }

  /** What one build of a declared artifact varies: the corpus frame it
    * reads, a suffix to the entry's fingerprint tag (a fold's
    * fingerprint), and the table qualifier that replaces the entry's own
    * (a grown namespace's `_grown_<ns>`). The frame is taken by name and
    * constructed at most once, so a warm re-attach builds no DataFrame and
    * starts no Spark job. */
  final class View(val spark: SparkSession, val dir: String, frame: => DataFrame,
                   val tagSuffix: String = "", val qualifier: Option[String] = None) {
    lazy val corpus: DataFrame = frame
  }

  /** The build recipe of a corpus-index artifact. Its table is
    * `graft_<stem><qualifier>_<corpusSuffix>`, its fingerprint tag the
    * source stamp plus the view's suffix. `slice` is the part of a corpus
    * the entry indexes; a grown base ([[whole]]) has no increment split.
    * `build(view, frame, table, tag)` runs the artifact's `ensure*`; the
    * frame thunk is for its by-name corpus argument. */
  final class Recipe[R] private[Artifacts] (stem: String, qualifier: String,
      val source: Source, slice: Option[Column] = None)(
      build: (View, () => DataFrame, String, String) => R) {
    val name: String = stem + qualifier
    def table(v: View): String =
      s"graft_${v.qualifier.fold(name)(stem + _)}_${Warehouse.corpusSuffix(v.dir)}"
    /** Build (or re-attach) over the entry's slice of the view. */
    def apply(v: View): R = run(v, slice)
    /** Build (or re-attach) over the corpus itself: the index task's and the readers' call. */
    def apply(spark: SparkSession, dir: String): R =
      apply(new View(spark, dir, source.corpus(spark, dir)))
    /** Build (or re-attach) over all of the view, with no slice. */
    def whole(v: View): R = run(v, None)
    private def run(v: View, s: Option[Column]): R = {
      lazy val frame = s.fold(v.corpus)(v.corpus.filter)
      build(v, () => frame, table(v), source.stamp(v.dir) + v.tagSuffix)
    }
  }

  /** A stored PQ code table and the codebook its codes were encoded
    * against. Scoring goes through it, so ADC always uses the shape the
    * table was built with. */
  final case class Pq(table: String, codebook: Array[Int]) {
    def adc(q: Column, codes: Column): Column =
      VectorExpressions.adc_score(q, codes, codebook, PqM, PqK, PqDsub)
    def distortion(qv: Column, codes: Column): Column =
      Vectors.pqDistortion(qv, codes, codebook, PqM, PqK, PqDsub)
  }

  // 8 subspaces × 8 dims, 16 centroids each: 4-bit codes, 4 B per vector
  private val PqM = 8
  private val PqK = 16
  private val PqDsub = 8
  private val LloydIters = 10
  private val LloydMaxSample = 100000

  /** The standing split: the rows an incremental admission probes against.
    * The rest (`id % 5 == 4`) is its increment. */
  def standing(id: String): Column = pmod(col(id), lit(5)) =!= 4
  def increment(id: String): Column = pmod(col(id), lit(5)) === 4

  /** MinHash config of the stored signature tables. The probe side must
    * band with the same k and bands. */
  val SigK = 48
  val SigBands = 12

  /** Banded MinHash signatures of the standing documents. Its grown copies
    * (sig_grown, sig_panel) sign their whole view. */
  val sigCorpus: Recipe[String] = new Recipe("sig", "_corpus", Documents, Some(standing("doc_id")))(
    (_, docs, t, tag) => {
      Dedup.ensureSignatureTable(docs(), "doc_id", "text", t, k = SigK, bands = SigBands, tag = tag)
      t
    })

  /** The stored duplicate-cluster map (q57's components). */
  val clusters: Recipe[DataFrame] = new Recipe("clusters", "", Documents)(
    (v, _, _, _) => Pipeline.ensureClusterMap(v.spark, v.dir))

  /** Trained IVF cells, dim 64 and 16 lists. */
  val ivfCells: Recipe[String] = new Recipe("ivf", "_cells", Embeddings)((_, emb, t, tag) => {
    Ivf.ensureCellTable(emb(), "vec_id", "embedding", dim = 64, nlist = 16, t, tag = tag)
    t
  })

  /** IVF cells of the seed quantizer (the 16 lowest ids as centroids):
    * the coarse layer every PQ code table co-locates with. */
  val ivfSeed: Recipe[String] = new Recipe("ivf", "_seed", Embeddings)((_, emb, t, tag) => {
    Ivf.ensureCellTable(emb(), "vec_id", "embedding", dim = 64, nlist = 16, t,
      tag = "seed-centroids " + tag,
      model = Some(Ivf.seedModel(emb(), "vec_id", "embedding", nlist = 16)))
    t
  })

  private def pqCodes(stem: String, qualifier: String,
                      codebookId: String = "seed-lowest-id",
                      codebook: DataFrame => Option[Array[Int]] = _ => None,
                      attrs: Seq[String] = Nil): Recipe[Pq] =
    new Recipe(stem, qualifier, Embeddings)((v, emb, t, tag) =>
      Pq(t, Vectors.ensurePqCodes(emb(), "vec_id", "embedding", ivfSeed.table(v), t,
        PqM, PqK, PqDsub, tag = tag, codebookId = codebookId,
        codebook = () => codebook(emb()), attrs = attrs)))

  /** PQ codes against [[ivfSeed]]'s cells (which must exist) with the
    * seeded codebook. */
  val pqSeed: Recipe[Pq] = pqCodes("pq", "_seed")
  /** [[pqSeed]] with the label on every code row, so a label filter
    * prunes in the scan. */
  val pqLbl: Recipe[Pq] = pqCodes("pq_lbl", "", attrs = Seq("label"))
  /** PQ codes with a Lloyd-trained codebook; the cache id derives from the
    * training params. */
  val pqTrain: Recipe[Pq] = pqCodes("pq", "_train",
    codebookId = s"trained-lloyd iters=$LloydIters maxSample=$LloydMaxSample",
    codebook = emb => Some(Vectors.trainedPqCodebook(emb, "vec_id", "embedding",
      PqM, PqK, PqDsub, iters = LloydIters, maxSample = LloydMaxSample)))

  /** int8-quantized vectors with cached squared norms. */
  val int8: Recipe[String] = new Recipe("int8", "", Embeddings)((_, emb, t, tag) => {
    Vectors.ensureInt8Table(emb(), "vec_id", "embedding", t, tag = tag)
    t
  })

  /** LSH buckets, dim 64, of the standing vectors. Over the whole corpus
    * it is vecbkt_adm, the admission paths' frozen probe table; its grown
    * copies bucket their whole view too. */
  val vecbktCorpus: Recipe[String] = new Recipe("vecbkt", "_corpus", Embeddings,
      Some(standing("vec_id")))((_, emb, t, tag) => {
    Vectors.ensureBucketTable(emb(), "vec_id", "embedding", dim = 64, table = t, tag = tag)
    t
  })

  /** How an artifact is built: its own [[Recipe]] (a corpus-index entry,
    * also run by the scheduler's index task), or the query that owns it
    * and builds it on its first run. */
  sealed trait Builder
  final case class Ensure(recipe: Recipe[_]) extends Builder
  final case class Query(name: String) extends Builder

  /** One stored artifact.
    * @param siblings suffixes of the companion tables its ensure writes and
    *   re-attaches with it (`_centroids`, `_codebook`, `_cfg`, `_df`); each
    *   carries the same fingerprint and must be fresh too
    * @param readers the `SparkEntry` queries that read it */
  final case class Artifact(name: String, source: Source, siblings: Seq[String],
                            builder: Builder, readers: Seq[String]) {
    def table(dir: String): String = s"graft_${name}_${Warehouse.corpusSuffix(dir)}"
    def tables(dir: String): Seq[String] = table(dir) +: siblings.map(table(dir) + _)
    /** The query that builds it, or for a corpus-index entry its own name. */
    def builderName: String = builder match {
      case Query(q) => q
      case Ensure(_) => name
    }
    /** Every table holds a fingerprint with the source's current stamp:
      * what the artifact's `ensure*` decides before re-attaching. */
    def isFresh(spark: SparkSession, dir: String): Boolean =
      tables(dir).forall(Warehouse.isFresh(spark, _, Seq(source.stamp(dir))))
  }

  private val Cells = Seq("_centroids")
  private val Codes = Seq("_codebook")
  private val Buckets = Seq("_cfg")
  private val Terms = Seq("_df")

  private def index(r: Recipe[_], siblings: Seq[String], readers: String*) =
    Artifact(r.name, r.source, siblings, Ensure(r), readers)

  /** The corpus index, in build order: PQ codes co-locate with (and
    * fingerprint against) the seeded coarse cells, so the cells come first. */
  private val corpusIndex = Seq(
    index(sigCorpus, Nil, "q74_incremental_stored", "q82_stream_incremental_dedup"),
    index(clusters, Nil, "q58_dup_clusters_lsh", "q77_cluster_best",
      "q79_leakage_safe_split", "q105_dedup_inflation"),
    index(ivfCells, Cells, "q52_ivf_topk"),
    index(ivfSeed, Cells, "q152_ivf_partial_probe", "q160_pq_adc_recall", "q161_ivfpq_topk",
      "q162_pq_trained_audit", "q163_ivfpq_rerank", "q164_filtered_ann",
      "q165_tombstoned_ann", "q168_hybrid_rrf"),
    index(pqSeed, Codes, "q160_pq_adc_recall", "q161_ivfpq_topk", "q162_pq_trained_audit",
      "q163_ivfpq_rerank", "q165_tombstoned_ann", "q168_hybrid_rrf"),
    index(pqLbl, Codes, "q164_filtered_ann"),
    index(pqTrain, Codes, "q162_pq_trained_audit"),
    index(int8, Nil, "q158_int8_quant_recall", "q163_ivfpq_rerank", "q165_tombstoned_ann",
      "q168_hybrid_rrf"),
    index(vecbktCorpus, Buckets, "q154_incremental_embedding",
      "q159_stream_embedding_admission"))

  /** Artifacts that stay owned by the query that builds them, with the
    * query's own config: variants whose config derives from the query
    * (q62's cells, q112's incremental cells), whole-corpus signature tables
    * sized for their query's recall bar and term indexes, and the families
    * the gate queries grow from their admitted state (each a [[Recipe]]
    * over its namespace's grown view). */
  private val queryOwned = Seq(
    Artifact("semdedup_cells", Embeddings, Cells, Query("q62_semantic_dedup"),
      Seq("q62_semantic_dedup")),
    Artifact("ivf_inc", Embeddings, Cells, Query("q112_ivf_incremental"),
      Seq("q112_ivf_incremental")),
    Artifact("sig_all", Documents, Nil, Query("q24_minhash_pairs"),
      Seq("q24_minhash_pairs", "q66_simhash_pairs", "q90_cross_source_dups")),
    Artifact("sig_all32", Documents, Nil, Query("q58_dup_clusters_lsh"),
      Seq("q58_dup_clusters_lsh")),
    Artifact("terms", Documents, Terms, Query("q130_term_retrieval"),
      Seq("q130_term_retrieval", "q168_hybrid_rrf")),
    // the frozen probe table every vector admit path ensures
    Artifact("vecbkt_adm", Embeddings, Buckets, Query("q166_grown_ann"),
      Seq("q166_grown_ann", "q167_upsert_ann", "q170_grown_tombstoned",
        "q171_grown_filtered_ann", "q172_grown_hybrid_rrf")),
    Artifact("pq_lbl_grown_q171", Embeddings, Codes, Query("q171_grown_filtered_ann"),
      Seq("q171_grown_filtered_ann")),
    Artifact("sig_grown_q169", Documents, Nil, Query("q169_grown_minhash"),
      Seq("q169_grown_minhash")),
    Artifact("sig_panel_q169", Documents, Nil, Query("q169_grown_minhash"),
      Seq("q169_grown_minhash")),
    // q172 grows the term index over q169's admitted documents
    Artifact("terms_grown_q169", Documents, Terms, Query("q172_grown_hybrid_rrf"),
      Seq("q172_grown_hybrid_rrf"))) ++
    // each vector gate query grows its own IVF/PQ/int8/LSH family; q172's
    // hybrid serve reads q166's
    (for {
      (owner, readers) <- Seq(
        "q166_grown_ann" -> Seq("q166_grown_ann", "q172_grown_hybrid_rrf"),
        "q167_upsert_ann" -> Seq("q167_upsert_ann"),
        "q170_grown_tombstoned" -> Seq("q170_grown_tombstoned"),
        "q171_grown_filtered_ann" -> Seq("q171_grown_filtered_ann"))
      (base, siblings) <- Seq("ivf_grown" -> Cells, "pq_grown" -> Codes,
        "int8_grown" -> Nil, "vecbkt_grown" -> Buckets)
    } yield Artifact(s"${base}_${owner.takeWhile(_ != '_')}", Embeddings, siblings,
      Query(owner), readers))

  val all: Seq[Artifact] = corpusIndex ++ queryOwned
}
