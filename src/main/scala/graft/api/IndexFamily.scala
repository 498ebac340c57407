package graft.api

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.col

/** How [[GraftCollection.compactIndexes]] folds one index artifact
  * into a single fresh segment. */
private[api] sealed trait Fold

private[api] object Fold {
  /** A trained model table (centroids, codebooks, bounds, term stats):
    * not segmented, compaction leaves it alone. */
  case object Model extends Fold

  /** Per-document rows keyed by `rowId`: the ledger-masked live rows
    * are rewritten as one segment, clustered by `layout` and
    * partitioned further by `subPartition`. `surrogate` = the rows are
    * keyed by the xxhash64 surrogate of a string PK (the coded
    * families), so the ledger's real ids are hashed before masking. */
  final case class Rows(rowId: String, surrogate: Boolean = false,
                        layout: DataFrame => DataFrame = identity,
                        subPartition: Seq[String] = Nil) extends Fold

  /** Per-cell ball radii: max-folded per cell, not masked — deletes
    * only shrink cells, so the max over all generations stays an upper
    * bound. */
  case object CellStats extends Fold

  /** Per-segment HNSW graphs: the tiered merge of `compactHnsw`. */
  case object Graph extends Fold
}

/** One artifact collection of a family, stored as
  * `<coll>__<tag>_<role>`. */
private[api] final case class Artifact(role: String, fold: Fold = Fold.Model)

/** One derived-index family, declared once. Liveness, post-mutation
  * invalidation, segment-debt accounting, compaction and the coded
  * search routes all read these entries, so a family's meta keys and
  * artifacts cannot drift between those paths.
  *
  *  - every meta key of the family lives under `prefix`
  *    (`index.<tag>.`); dropping the family drops all of them;
  *  - `presenceKey` is the key a build writes and serving requires;
  *  - the FIRST artifact is the liveness witness, and for the coded
  *    families (`rebuild` set) the code table their routes scan;
  *  - `baseSegKey` records the segment a rebuild or compaction wrote
  *    (segmented families only).
  *
  * `defaultMetric` is the metric of a legacy build that predates the
  * `metric` key. */
private[api] final class IndexFamily(val name: String, tag: String,
                                     presence: String,
                                     val artifacts: Seq[Artifact],
                                     val vector: Boolean,
                                     val rebuild: String = "",
                                     val defaultMetric: String = "l2") {
  val prefix: String = s"index.$tag."
  val presenceKey: String = prefix + presence
  val baseSegKey: String = prefix + "base_seg"
  def segmented: Boolean = artifacts.exists(_.fold != Fold.Model)
  def primary: Artifact = artifacts.head
  def has(role: String): Boolean = artifacts.exists(_.role == role)

  /** Every artifact collection of the family for collection `coll`. */
  def collections(coll: String): Seq[String] = artifacts.map(a => at(coll, a.role))

  /** The collection holding artifact `role` of collection `coll`. */
  def at(coll: String, role: String): String = {
    require(has(role), s"$name declares no '$role' artifact")
    s"${coll}__${tag}_$role"
  }
}

private[api] object IndexFamily {
  private val termClustered: DataFrame => DataFrame =
    _.repartition(col("term")).sortWithinPartitions("term")
  /** Coded rows partitioned by IVF cell inside each segment. */
  private val cellCodes = Fold.Rows("id", surrogate = true,
    _.repartition(col("cell")), Seq("cell"))

  val Ft = new IndexFamily("fulltext", "ft", "text_col", Seq(
    Artifact("postings", Fold.Rows("doc_id", layout = termClustered)),
    Artifact("terms")), vector = false)
  val Lsh = new IndexFamily("LSH", "lsh", "nbits", Seq(
    Artifact("buckets", Fold.Rows("id"))), vector = true)
  /** Plain IVF keeps its assignments in the data layout: no segments. */
  val Ivf = new IndexFamily("IVF", "ivf", "nlist", Seq(
    Artifact("centroids")), vector = true)
  val Mh = new IndexFamily("minhash", "mh", "text_col", Seq(
    Artifact("sig", Fold.Rows("doc_id")),
    Artifact("bkt", Fold.Rows("doc_id",
      layout = _.repartitionByRange(col("h")).sortWithinPartitions("h")))),
    vector = false)
  val Sh = new IndexFamily("simhash", "sh", "text_col", Seq(
    Artifact("sig", Fold.Rows("doc_id"))), vector = false)
  val Pq = new IndexFamily("PQ", "pq", "m", Seq(
    Artifact("codes", Fold.Rows("id", surrogate = true)),
    Artifact("codebooks")), vector = true, rebuild = "rebuildPqIndex")
  val IvfPq = new IndexFamily("IVF_PQ", "ivfpq", "nlist", Seq(
    Artifact("codes", cellCodes), Artifact("centroids"),
    Artifact("codebooks"), Artifact("stats", Fold.CellStats)),
    vector = true, rebuild = "rebuildIvfPqIndex")
  val IvfSq = new IndexFamily("IVF_SQ8", "ivfsq", "nlist", Seq(
    Artifact("codes", cellCodes), Artifact("centroids"),
    Artifact("bounds"), Artifact("stats", Fold.CellStats)),
    vector = true, rebuild = "rebuildIvfSqIndex")
  val Hnsw = new IndexFamily("HNSW", "hnsw", "m", Seq(
    Artifact("graph", Fold.Graph)), vector = true)
  val Bq = new IndexFamily("BQ", "bq", "dim", Seq(
    Artifact("words", Fold.Rows("id", surrogate = true)),
    Artifact("thresholds")), vector = true, rebuild = "rebuildBqIndex",
    defaultMetric = "cosine")
  val Sv = new IndexFamily("sparse vector", "sv", "field", Seq(
    Artifact("postings", Fold.Rows("doc_id", layout = termClustered))),
    vector = false)

  val all: Seq[IndexFamily] = Seq(Ft, Lsh, Ivf, Mh, Sh, Pq, IvfPq, IvfSq, Hnsw, Bq, Sv)
  /** The families a vector-index rebuild leaves in place. */
  val textual: Set[IndexFamily] = all.filterNot(_.vector).toSet
}
