package graft.operators.vector

import org.apache.spark.sql.{Column, DataFrame}

/** Registry/YAML form of [[AnnSearch.mutualKnnLshOr]] (r16, VERDICT r15
  * #5): mines the OR-amplified mutual-kNN ANCHOR PAIR table from an
  * embedding corpus — contrastive-pair / hard-negative mining for
  * training-data pipelines. The output REPLACES the frame with the
  * `(a, b, cosine)` pair set (the SequencePackMaterializer convention
  * for frame-replacing stages), so a config can mine pairs and write
  * them as a table in one pipeline.
  *
  * Band geometry comes from config as `num_bands` (L) contiguous
  * coordinate bands of `band_width` coordinates each, `[b·w, (b+1)·w)`
  * — `num_bands` is exactly the tuned L a pipeline reads off
  * [[AnnSearch.mutualKnnOrOperatingPoint]]'s `chosen` row
  * (gate `mutual_knn_or_operating_point`), which evaluates the same
  * contiguous geometry. Candidate mass stays bounded by
  * L·n·`max_bucket_size` (the per-band hot cap), measured per band by
  * [[AnnSearch.mutualKnnBandStats]].
  */
final class MutualKnnAnchorMiner(
    vecCol: String = "embedding",
    idCol: String = "id",
    k: Int = 5,
    numBands: Int = 4,
    bandWidth: Int = 4,
    maxBucketSize: Int = 1000) extends graft.core.FitsOnInput {
  require(numBands >= 1, s"num_bands must be >= 1, got $numBands")
  require(bandWidth >= 1, s"band_width must be >= 1, got $bandWidth")

  val name = "mutual_knn_anchor_miner"

  /** The contiguous coordinate bands the config geometry denotes. */
  val bands: Seq[Seq[Int]] =
    (0 until numBands).map(b => b * bandWidth until (b + 1) * bandWidth)

  def apply(df: DataFrame): DataFrame =
    AnnSearch.mutualKnnLshOr(df, vecCol, idCol, k, bands, maxBucketSize)

  /** Disposition mode: mine only over alive rows; the output is a fresh
    * pair table, so the disposition chain restarts (the materializer
    * convention — a pair has no single source row to carry flags for).
    */
  override def applyGated(df: DataFrame, alive: Column): DataFrame =
    graft.core.Disposition.init(apply(df.filter(alive)))
}
