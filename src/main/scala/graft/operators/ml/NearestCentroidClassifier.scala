package graft.operators.ml

import graft.functions.HashFunctions
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Nearest-centroid (Rocchio) classifier over an embedding column —
  * the third cheap-classifier family (logreg = discriminative, NB =
  * generative over tokens, this = prototype-based over vectors; it is
  * the standard "label a corpus from a few labeled seeds" baseline for
  * embedding spaces).
  *
  * Fit: per-class mean embedding over the TRAIN split (portable
  * hash%mod != 0) via floor-scaled exact BIGINT component sums (the
  * Lloyd's-update discipline, [[KMeansBuckets.updateCentroids]]) with
  * the means rounded to the 1e-6 grid — so the fitted prototypes are
  * bit-identical across partitionings and engines, and the DuckDB twin
  * REFITS them from scratch. The class-count-bounded centroid table is
  * the one driver collect (the frozen-centroid-literals shape).
  *
  * Classify: argmin squared-L2 against the ≤ k prototypes via the
  * codegen'd NearestCentroid kernel (ties → lowest label, the kernel's
  * lowest-index policy over a label-ascending list). Eval on the
  * held-out slice: the confusion matrix and accuracy are EXACT
  * integers.
  *
  * Scale shape: fit = one partial-aggregated scan shipping
  * (classes × dims) longs per partition; classify = a pure projection
  * (prototypes ride the closure); eval = one (label, pred) aggregate.
  */
final class NearestCentroidClassifier(
    vecCol: String = "embedding",
    idCol: String = "vec_id",
    labelCol: String = "label",
    dims: Int,
    scale: Double = 1e7,
    holdoutMod: Int = 4) {

  require(dims >= 1, "ncc: at least one dimension")
  require(holdoutMod >= 2, "ncc: holdout mod >= 2")

  val name = "nearest_centroid_classifier"

  private def hash: Column = HashFunctions.portableHash64(col(idCol))
  private def hashSql: String =
    HashFunctions.portableHash64Sql(s"CAST($idCol AS VARCHAR)")

  /** Label-ascending `(label, mean)` prototypes from the train split —
    * exact scaled-integer sums, means on the 1e-6 grid. Bounded by the
    * class count (the one driver collect).
    */
  def fitCentroids(df: DataFrame): Seq[(Long, Seq[Double])] =
    fitCentroidsOn(df.filter(hash % holdoutMod =!= 0L))

  /** Prototypes over an arbitrary fit frame (the registry's
    * fit-on-labeled-seeds shape bypasses the hash split).
    */
  def fitCentroidsOn(fitDf: DataFrame): Seq[(Long, Seq[Double])] = {
    val v = col(vecCol).cast("array<double>")
    val sums = (1 to dims).map(i =>
      sum(floor(element_at(v, i) * lit(scale)).cast("long")).as(s"_s$i"))
    val means = (1 to dims).map(i =>
      round(col(s"_s$i").cast("double") / (col("_n").cast("double") * lit(scale)), 6)
        .as(s"_c$i"))
    // null labels never fit a prototype (the twin filters identically —
    // a bare null group used to NPE here while the twin happily fitted
    // a NULL-label centroid)
    val rows = fitDf.filter(col(labelCol).isNotNull)
      .groupBy(col(labelCol).cast("long").as("_lab"))
      .agg(count(lit(1)).as("_n"), sums: _*)
      .select(col("_lab") +: means: _*)
      .orderBy(col("_lab"))
      // the collect is bounded by the CLASS count, not the data — but a
      // misconfigured labelCol (an id column) would make it data-sized;
      // fail loudly past any plausible class cardinality instead
      .limit(maxClasses + 1)
      .collect()
    require(rows.length <= maxClasses,
      s"ncc: more than $maxClasses distinct labels in '$labelCol' — " +
        "is this really a class column?")
    rows.map(r => r.getLong(0) -> (1 to dims).map(i => r.getDouble(i)).toSeq)
      .toSeq
  }

  /** Prototype-table bound: the fit collects one row per class. */
  private val maxClasses = 10000

  /** Held-out rows with `(idCol, label, pred_label)` — classification
    * is a pure projection against the fitted prototypes.
    */
  def predictions(df: DataFrame): DataFrame = {
    val cents = fitCentroids(df)
    require(cents.nonEmpty, "ncc: train split is empty")
    df.filter(hash % holdoutMod === 0L)
      .select(col(idCol),
        col(labelCol).cast("long").as("label"),
        predictExprWith(cents).as("pred_label"))
  }

  /** Held-out confusion matrix `(label, pred_label, n)` — exact. */
  def confusion(df: DataFrame): DataFrame =
    predictions(df)
      .groupBy(col("label"), col("pred_label"))
      .agg(count(lit(1)).as("n"))
      .orderBy(col("label"), col("pred_label"))

  /** One row `(n_eval, n_correct, accuracy)`. */
  def accuracy(df: DataFrame): DataFrame =
    predictions(df).agg(
      count(lit(1)).as("n_eval"),
      sum(when(col("label") === col("pred_label"), 1L).otherwise(0L)).as("n_correct"))
      .select(col("n_eval"), col("n_correct"),
        when(col("n_eval") > 0L,
          round(col("n_correct").cast("double") / col("n_eval").cast("double"), 6))
          .as("accuracy"))

  // ---- DuckDB twins (independent refit) ----

  /** Shared CTEs: `_nccm` the refitted prototypes (as a list column),
    * `_ncca` the held-out argmin assignments. Distances ride the
    * BOUNDED l2sq twin (fold over `least(len,len)`, the kernel's min
    * loop — the unbounded form folds a NULL when a vector is wider
    * than `dims`, which would poison every distance and silently
    * predict the lowest label). Contract: `idCol` is unique (the
    * engine-wide dedup-id contract) — the argmin window partitions on
    * it.
    */
  private def baseCtes(table: String): String = {
    def l2sq(a: String, b: String): String =
      graft.functions.VectorFunctions.l2sqBoundedSql(a, b)
    val comps = (1 to dims).map { i =>
      s"""round(CAST(sum(CAST(floor(CAST($vecCol[$i] AS DOUBLE) * ${scale.toString}) AS BIGINT)) AS DOUBLE)
         |      / (CAST(count(*) AS DOUBLE) * ${scale.toString}), 6)""".stripMargin
    }.mkString(",\n|      ")
    s"""_nccm AS MATERIALIZED (SELECT CAST($labelCol AS BIGINT) AS _lab,
       |    [$comps] AS _ce
       |  FROM $table WHERE $hashSql % $holdoutMod <> 0 AND $labelCol IS NOT NULL
       |  GROUP BY CAST($labelCol AS BIGINT)),
       |_ncca AS MATERIALIZED (SELECT $idCol, label, pred_label FROM (
       |    SELECT t.$idCol, CAST(t.$labelCol AS BIGINT) AS label,
       |      c._lab AS pred_label,
       |      row_number() OVER (PARTITION BY t.$idCol
       |        ORDER BY ${l2sq(s"t.$vecCol", "c._ce")}, c._lab) AS _rn
       |    FROM (SELECT * FROM $table WHERE $hashSql % $holdoutMod = 0) t
       |    CROSS JOIN _nccm c)
       |  WHERE _rn = 1)""".stripMargin
  }

  /** Twin of [[confusion]]. */
  def confusionSql(table: String): String =
    s"""WITH ${baseCtes(table)}
       |SELECT label, pred_label, count(*) AS n
       |FROM _ncca GROUP BY label, pred_label
       |ORDER BY label, pred_label""".stripMargin

  /** The prediction expression for arbitrary frames: nearest fitted
    * prototype, ties → lowest label (the registry refiner's scorer).
    */
  def predictExprWith(cents: Seq[(Long, Seq[Double])]): Column = {
    require(cents.nonEmpty, "ncc: no prototypes (empty fit frame)")
    element_at(typedLit(cents.map(_._1)),
      graft.plans.kernels.nearest_centroid(col(vecCol), cents.map(_._2)) + 1)
  }

  /** Twin of [[accuracy]]. */
  def accuracySql(table: String): String =
    s"""WITH ${baseCtes(table)}
       |SELECT CAST(count(*) AS BIGINT) AS n_eval,
       |  CAST(sum(CASE WHEN label = pred_label THEN 1 ELSE 0 END) AS BIGINT) AS n_correct,
       |  CASE WHEN count(*) > 0 THEN
       |    round(CAST(sum(CASE WHEN label = pred_label THEN 1 ELSE 0 END) AS DOUBLE)
       |      / CAST(count(*) AS DOUBLE), 6) END AS accuracy
       |FROM _ncca""".stripMargin
}

/** Registry face: semi-supervised corpus labeling from seeds. Fit
  * per-class prototypes on the rows whose `labelCol` is NOT NULL (the
  * labeled seed set), then stamp every row's `outputCol` with the
  * nearest prototype's label — the standard "propagate a few labels
  * over an embedding space" baseline. One fit per frame (single-slot
  * cache); disposition fits on alive seeds only.
  */
final class CentroidLabelRefiner(
    vecCol: String = "embedding",
    idCol: String = "id",
    labelCol: String = "label",
    outputCol: String = "pred_label",
    dims: Int) extends graft.core.FitsOnInput {

  val name = "centroid_label"

  private[graft] val classifier = new NearestCentroidClassifier(
    vecCol, idCol, labelCol, dims = dims)

  // fit cache keyed by the FIT frame (the LogregQualityRefiner
  // discipline: sequential flows share one fit, a gated call's fresh
  // alive-filtered frame always refits — no cross-mode mix-up)
  @volatile private var cachedFit: (DataFrame, Seq[(Long, Seq[Double])]) = null
  /** Test hook: number of fits this instance has run. */
  private[graft] val fitCount = new java.util.concurrent.atomic.AtomicInteger(0)

  private def centsFor(fitFrame: DataFrame): Seq[(Long, Seq[Double])] =
    synchronized {
      val c = cachedFit
      if (c != null && (c._1 eq fitFrame)) c._2
      else {
        fitCount.incrementAndGet()
        val cents = classifier.fitCentroidsOn(fitFrame)
        cachedFit = (fitFrame, cents)
        cents
      }
    }

  def apply(df: DataFrame): DataFrame =
    df.withColumn(outputCol, classifier.predictExprWith(centsFor(df)))

  override def applyGated(df: DataFrame, alive: Column): DataFrame =
    df.withColumn(outputCol,
      classifier.predictExprWith(centsFor(df.filter(alive))))
}
