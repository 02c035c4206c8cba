package graft.operators

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.{col, lit, pmod}

import graft.core.{Tables, Warehouse}
import graft.functions.{Dedup, Ivf, Vectors}

/** The registry of stored corpus artifacts: one entry per
  * `graft_<name>_<corpusSuffix>` table whose fingerprint carries a corpus
  * source stamp. Everything that enumerates artifacts derives from it:
  * [[Pipeline.ensureCorpusIndex]] (the [[Ensure]] entries, in declaration
  * order), and Bench's prebuilds and warm flags (every entry for the main
  * bench, the entries its probe queries read for the scale probe).
  * ArtifactsSpec checks the declarations against a built warehouse: every
  * stamped table is declared, and no declared reader builds anything once
  * the registry's builders ran. Adding an artifact is one entry here. */
object Artifacts {

  /** The corpus file whose `sourceStamp` an artifact's fingerprint carries. */
  sealed abstract class Source(val file: String)
  case object Documents extends Source("documents.parquet")
  case object Embeddings extends Source("embeddings.parquet")

  /** How an artifact is built: its own idempotent `ensure*` (a corpus-index
    * entry, also run by the scheduler's index task), or the query that
    * owns it and builds it on its first run. */
  sealed trait Builder
  final case class Ensure(run: (SparkSession, String) => Unit) extends Builder
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
      tables(dir).forall(Warehouse.isFresh(spark, _, Seq(stamp(dir, source))))
  }

  private val Cells = Seq("_centroids")
  private val Codes = Seq("_codebook")
  private val Buckets = Seq("_cfg")
  private val Terms = Seq("_df")

  private def docs(spark: SparkSession, dir: String) =
    Tables.documents(spark, dir).select(col("doc_id"), col("text"))
  private def emb(spark: SparkSession, dir: String) =
    Tables.embeddings(spark, dir).select(col("vec_id"), col("embedding"))
  private def stamp(dir: String, s: Source) = Warehouse.sourceStamp(s"$dir/${s.file}")

  /** The corpus index, in build order: PQ codes co-locate with (and
    * fingerprint against) the seeded coarse cells, so the cells come first.
    * Every ensure takes its corpus DataFrame by name, so a warm pass
    * constructs none and starts no Spark job. */
  private val corpusIndex = Seq(
    Artifact("sig_corpus", Documents, Nil, Ensure((spark, dir) =>
        Dedup.ensureSignatureTable(
          docs(spark, dir).filter(pmod(col("doc_id"), lit(5)) =!= 4), "doc_id", "text",
          s"graft_sig_corpus_${Warehouse.corpusSuffix(dir)}", k = 48, bands = 12,
          tag = stamp(dir, Documents))),
      Seq("q74_incremental_stored", "q82_stream_incremental_dedup")),
    Artifact("clusters", Documents, Nil,
      Ensure((spark, dir) => { Pipeline.ensureClusterMap(spark, dir); () }),
      Seq("q58_dup_clusters_lsh", "q77_cluster_best", "q79_leakage_safe_split",
        "q105_dedup_inflation")),
    Artifact("ivf_cells", Embeddings, Cells, Ensure((spark, dir) =>
        Ivf.ensureCellTable(emb(spark, dir), "vec_id", "embedding", dim = 64, nlist = 16,
          s"graft_ivf_cells_${Warehouse.corpusSuffix(dir)}", tag = stamp(dir, Embeddings))),
      Seq("q52_ivf_topk")),
    Artifact("ivf_seed", Embeddings, Cells,
      Ensure((spark, dir) => { Pipeline.ensureSeededPq(spark, dir, 8, 16, 8); () }),
      Seq("q152_ivf_partial_probe", "q160_pq_adc_recall", "q161_ivfpq_topk",
        "q162_pq_trained_audit", "q163_ivfpq_rerank", "q164_filtered_ann",
        "q165_tombstoned_ann", "q168_hybrid_rrf")),
    Artifact("pq_seed", Embeddings, Codes,
      Ensure((spark, dir) => { Pipeline.ensureSeededPq(spark, dir, 8, 16, 8); () }),
      Seq("q160_pq_adc_recall", "q161_ivfpq_topk", "q162_pq_trained_audit",
        "q163_ivfpq_rerank", "q165_tombstoned_ann", "q168_hybrid_rrf")),
    // the label rides on every code row, so q164's filter prunes in the scan
    Artifact("pq_lbl", Embeddings, Codes, Ensure { (spark, dir) =>
        val sfx = Warehouse.corpusSuffix(dir)
        Vectors.ensurePqCodes(Tables.embeddings(spark, dir), "vec_id", "embedding",
          s"graft_ivf_seed_$sfx", s"graft_pq_lbl_$sfx", 8, 16, 8,
          tag = stamp(dir, Embeddings), attrs = Seq("label"))
        () },
      Seq("q164_filtered_ann")),
    Artifact("pq_train", Embeddings, Codes,
      Ensure((spark, dir) => { Pipeline.ensureTrainedPq(spark, dir); () }),
      Seq("q162_pq_trained_audit")),
    Artifact("int8", Embeddings, Nil, Ensure((spark, dir) =>
        Vectors.ensureInt8Table(emb(spark, dir), "vec_id", "embedding",
          s"graft_int8_${Warehouse.corpusSuffix(dir)}", tag = stamp(dir, Embeddings))),
      Seq("q158_int8_quant_recall", "q163_ivfpq_rerank", "q165_tombstoned_ann",
        "q168_hybrid_rrf")),
    Artifact("vecbkt_corpus", Embeddings, Buckets, Ensure((spark, dir) =>
        Vectors.ensureBucketTable(emb(spark, dir).filter(pmod(col("vec_id"), lit(5)) =!= 4),
          "vec_id", "embedding", dim = 64,
          table = s"graft_vecbkt_corpus_${Warehouse.corpusSuffix(dir)}",
          tag = stamp(dir, Embeddings))),
      Seq("q154_incremental_embedding", "q159_stream_embedding_admission")))

  /** Artifacts that stay owned by the query that builds them: variants
    * whose config derives from the query (q62's cells, q112's incremental
    * cells), whole-corpus signature tables and term indexes, and the
    * families the gate queries grow from their admitted state. */
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
