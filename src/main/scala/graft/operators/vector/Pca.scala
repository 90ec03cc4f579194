package graft.operators.vector

import graft.functions.VectorFunctions
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.trees.UnaryLike
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftshim.Shim
import org.apache.spark.sql.types.{ArrayType, DataType, LongType}

/** Exact second-moment accumulator for PCA: one pass over INTEGER-SCALED
  * vectors collecting n, per-dimension sums, and the upper-triangle sum
  * of products — every entry an exact BIGINT, so the moment table is
  * cross-engine hash-checkable (the covariance gate) and
  * partition-order invariant by construction (integer addition
  * commutes; no float-sum nondeterminism reaches the record). Buffer
  * layout: [n, sums(0..d-1), prods(i-major upper triangle)]. Partials
  * merge by element-wise add; the exchange carries one
  * (1 + d + d(d+1)/2)-long array per partition — at d = 64 that is
  * 17 KB regardless of corpus size, the classic map-reduce moments
  * shape (same contract as [[graft.operators.ml.KMeansBuckets]]'s
  * update step and the sketch aggregates).
  *
  * The child must be the ALREADY-SCALED `array<long>` ([[Pca.scaled]]):
  * scaling stays in the codegen'd scan projection, and the aggregate
  * only ever adds longs. Null vectors are skipped; a wrong-length
  * vector is a loud error (silently ragged moments would corrupt the
  * covariance).
  */
final case class VectorMomentsAgg(
    child: Expression,
    d: Int,
    override val mutableAggBufferOffset: Int = 0,
    override val inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[Array[Long]]
  with UnaryLike[Expression] {

  require(d >= 1 && d <= 4096, s"d must be in [1,4096], got $d")

  private val len = 1 + d + d * (d + 1) / 2

  override def prettyName: String = "vector_moments"
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullable: Boolean = false

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    child.dataType match {
      case ArrayType(LongType, _) =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case other =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
          s"vector_moments expects the pre-scaled ARRAY<BIGINT>, got ${other.catalogString}")
    }

  override def createAggregationBuffer(): Array[Long] = new Array[Long](len)

  override def update(buf: Array[Long], input: InternalRow): Array[Long] = {
    val v = child.eval(input)
    if (v != null) {
      val arr = v.asInstanceOf[ArrayData]
      require(arr.numElements() == d,
        s"vector has ${arr.numElements()} dims, moments configured for $d")
      buf(0) += 1L
      var i = 0
      var p = 1 + d
      // addExact/multiplyExact: a silent wrap would corrupt the
      // covariance (and so the whole PCA model) with no symptom — the
      // overflow must THROW, pointing at the `scale` sizing rule in
      // [[Pca.DefaultScale]]'s doc, never launder into garbage moments
      while (i < d) {
        val xi = arr.getLong(i)
        buf(1 + i) = Math.addExact(buf(1 + i), xi)
        var j = i
        while (j < d) {
          buf(p) = Math.addExact(buf(p), Math.multiplyExact(xi, arr.getLong(j)))
          j += 1; p += 1
        }
        i += 1
      }
    }
    buf
  }

  override def merge(buf: Array[Long], other: Array[Long]): Array[Long] = {
    var i = 0
    while (i < len) { buf(i) = Math.addExact(buf(i), other(i)); i += 1 }
    buf
  }

  override def eval(buf: Array[Long]): Any = new GenericArrayData(buf)

  override def serialize(buf: Array[Long]): Array[Byte] = {
    val bb = java.nio.ByteBuffer.allocate(8 * len)
    var i = 0
    while (i < len) { bb.putLong(buf(i)); i += 1 }
    bb.array()
  }

  override def deserialize(bytes: Array[Byte]): Array[Long] = {
    val bb = java.nio.ByteBuffer.wrap(bytes)
    val buf = new Array[Long](len)
    var i = 0
    while (i < len) { buf(i) = bb.getLong; i += 1 }
    buf
  }

  override def withNewMutableAggBufferOffset(newOffset: Int): VectorMomentsAgg =
    copy(mutableAggBufferOffset = newOffset)
  override def withNewInputAggBufferOffset(newOffset: Int): VectorMomentsAgg =
    copy(inputAggBufferOffset = newOffset)
  override protected def withNewChildInternal(newChild: Expression): VectorMomentsAgg =
    copy(child = newChild)
}

/** Registry/YAML surface for the PCA projection: fits on the input
  * frame (one exact-moment pass + driver Jacobi — [[Pca.fit]]) and
  * projects it, with the fitted model cached per input frame (the
  * [[AutoBucketedCosineDedup]] discipline: a runner flow touching
  * apply and a sibling branch over the SAME frame must train once).
  */
final class PcaProjection(
    vecCol: String = "embedding",
    dims: Int = 64,
    q: Int = 8,
    scale: Long = Pca.DefaultScale,
    outputCol: String = "embedding_pca",
    whiten: Boolean = false) extends graft.core.FitsOnInput {

  require(q >= 1 && q <= dims, s"q must be in [1,$dims], got $q")
  val name = "pca_projection"

  // weak key: the cache must not pin the last frame's plan (and its
  // closure graph) for the operator's lifetime — a dropped frame's
  // model is simply refit on the next distinct input
  @volatile private var cachedFit: (java.lang.ref.WeakReference[DataFrame], Option[Pca.PcaModel]) = null

  // None = no fittable rows (empty or all-null vector column): the
  // refiner degrades to a NULL output column instead of a loud fit
  // error — the BigramLm freeze-on-empty discipline (an all-rejected
  // upstream stage is not exceptional in a disposition pipeline)
  private def fitOrNone(corpus: DataFrame): Option[Pca.PcaModel] = {
    val r = Pca.moments(corpus, vecCol, dims, scale).head()
    if (r.getLong(0) == 0L) None
    else Some(Pca.fitFromMoments(r.getLong(0), r.getSeq[Long](1),
      r.getSeq[Long](2), dims, q, scale))
  }

  private def modelFor(df: DataFrame): Option[Pca.PcaModel] = {
    val c = cachedFit
    if (c != null && (c._1.get eq df)) c._2
    else {
      val m = fitOrNone(df)
      cachedFit = (new java.lang.ref.WeakReference(df), m)
      m
    }
  }

  private def projectWith(df: DataFrame, m: Option[Pca.PcaModel]): DataFrame =
    m match {
      case Some(model) =>
        Pca.project(df, vecCol, if (whiten) Pca.whitened(model) else model, outputCol)
      case None =>
        df.withColumn(outputCol, lit(null).cast("array<double>"))
    }

  def apply(df: DataFrame): DataFrame = projectWith(df, modelFor(df))

  /** Disposition mode: the basis fits on ALIVE rows only — a document
    * rejected upstream never contributed moments in the sequential
    * chain, so it must not rotate the basis here either (the
    * BigramLmScoreRefiner contract). Dead rows keep a NULL projection.
    */
  override def applyGated(df: DataFrame, alive: org.apache.spark.sql.Column): DataFrame =
    projectWith(df, fitOrNone(df.filter(alive)))
      .withColumn(outputCol, when(alive, col(outputCol)))
}

/** PCA over an embedding column — the data-adaptive companion to
  * [[RandomProjection]] (JL preserves distances obliviously; PCA packs
  * the corpus's actual variance into the leading dimensions, which is
  * what semantic-dedup pipelines reduce with before clustering).
  *
  * Split into the two shapes a 100 TB run needs:
  *
  *  1. FIT — one distributed pass of exact integer moments
  *     ([[VectorMomentsAgg]]; the only corpus scan), then an O(d³)
  *     Jacobi eigendecomposition of the d×d covariance on the DRIVER
  *     (d ≤ a few hundred for embedding columns — microseconds, and
  *     deterministic: fixed cyclic sweep order, threshold convergence,
  *     canonical eigenvector sign). The moments are exact BIGINTs, so
  *     the fit is reproducible to the bit from the same corpus.
  *  2. PROJECT — a stateless per-row map: the components become typed
  *     literals in the plan (the [[RandomProjection]] discipline), each
  *     output is the shared left-to-right double dot fold minus a
  *     precomputed mean offset, and the DuckDB twin applies the SAME
  *     literal matrix — so the projection gate hash-checks end to end.
  */
object Pca {

  /** Default fixed-point scale for the exact moments: 2^20 per unit.
    * Sizing rule: a moment sum stays inside a signed 64-bit long while
    * n · (scale·maxAbs)² < 2^63 — at 2^20 with per-dim |x| ≤ 1 that is
    * ~8·10⁸ worst-case rows (unit-NORM embeddings spread E[x²] = 1/d,
    * buying another ~d×, but the bound must hold for the worst
    * dimension). For corpora beyond it, lower `scale`: halving it buys
    * 4× the rows and costs one bit of quantization — far below the
    * float32 input noise floor down to ~2^12. The aggregate adds with
    * `Math.addExact`, so an overflow THROWS loudly instead of wrapping
    * into silently-garbage covariance.
    */
  val DefaultScale: Long = 1L << 20

  final case class PcaModel(
      mean: Array[Double],
      components: Array[Array[Double]], // q × d, orthonormal rows
      eigenvalues: Array[Double]) {      // descending, length q
    def d: Int = mean.length
    def q: Int = components.length
    /** Per-component mean offset: project(x) = x·c − mean·c. */
    lazy val offsets: Array[Double] = components.map { c =>
      var s = 0.0; var i = 0
      while (i < c.length) { s += mean(i) * c(i); i += 1 }
      s
    }
  }

  /** The vector integer-scaled for the moments pass: floor(x · scale)
    * per element, in the codegen'd projection.
    */
  def scaled(vec: Column, scale: Long = DefaultScale): Column =
    transform(vec.cast("array<double>"), x => floor(x * lit(scale.toDouble)).cast("long"))

  /** One-row exact moment frame `(n, sums, prods)` (see
    * [[VectorMomentsAgg]] layout, here unpacked into three columns).
    */
  def moments(df: DataFrame, vecCol: String, d: Int,
      scale: Long = DefaultScale): DataFrame = {
    val agg = Shim.column(VectorMomentsAgg(
      Shim.expression(scaled(col(vecCol), scale)), d).toAggregateExpression())
    df.filter(col(vecCol).isNotNull)
      .agg(agg.as("_m"))
      .select(element_at(col("_m"), 1).as("n"),
        slice(col("_m"), 2, d).as("sums"),
        slice(col("_m"), 2 + d, d * (d + 1) / 2).as("prods"))
  }

  /** Per-key exact moment rows `(_mkey, n, sums, prods)` — the epoch
    * artifact shape for the incremental fit: each key's row is the
    * complete moment state of its slice (17 KB at d = 64), and
    * [[mergeMomentRows]] folds any subset into the exact corpus
    * moments without touching the data again.
    */
  def momentsBy(df: DataFrame, vecCol: String, d: Int, key: Column,
      scale: Long = DefaultScale): DataFrame = {
    val agg = Shim.column(VectorMomentsAgg(
      Shim.expression(scaled(col(vecCol), scale)), d).toAggregateExpression())
    df.filter(col(vecCol).isNotNull)
      .groupBy(key.as("_mkey"))
      .agg(agg.as("_m"))
      .select(col("_mkey"), element_at(col("_m"), 1).as("n"),
        slice(col("_m"), 2, d).as("sums"),
        slice(col("_m"), 2 + d, d * (d + 1) / 2).as("prods"))
  }

  /** Upper-triangle index arrays (i-major, 0-based) for exploding the
    * packed `prods` array into (i, j) rows.
    */
  def pairIndices(d: Int): (Array[Int], Array[Int]) = {
    val is = Array.newBuilder[Int]; val js = Array.newBuilder[Int]
    var i = 0
    while (i < d) { var j = i; while (j < d) { is += i; js += j; j += 1 }; i += 1 }
    (is.result(), js.result())
  }

  /** Fit on the driver from one collected moment row. */
  def fit(df: DataFrame, vecCol: String, d: Int, q: Int,
      scale: Long = DefaultScale): PcaModel = {
    val row = moments(df, vecCol, d, scale).head()
    fitFromMoments(row.getLong(0), row.getSeq[Long](1), row.getSeq[Long](2),
      d, q, scale)
  }

  /** Merge exact moment rows `(n, sums, prods)` — the INCREMENTAL fit
    * path: per-epoch moment artifacts (each one `(1 + d + d(d+1)/2)`
    * longs, written next to the epoch's data) sum element-wise into the
    * corpus moments, so a PCA refit after epoch N touches N tiny rows
    * instead of rescanning 100 TB. Integer addition commutes and
    * associates, so merged == one-pass to the bit ([[VectorMomentsAgg]]
    * merges its partials with the same adds); `addExact` keeps the
    * overflow-throws contract.
    */
  def mergeMomentRows(rows: Seq[(Long, Seq[Long], Seq[Long])], d: Int):
      (Long, Array[Long], Array[Long]) = {
    require(rows.nonEmpty, "no moment rows to merge")
    var n = 0L
    val sums = new Array[Long](d)
    val prods = new Array[Long](d * (d + 1) / 2)
    rows.foreach { case (rn, rs, rp) =>
      require(rs.length == d && rp.length == prods.length,
        s"moment row shaped (${rs.length}, ${rp.length}), expected ($d, ${prods.length})")
      n = Math.addExact(n, rn)
      var i = 0
      while (i < d) { sums(i) = Math.addExact(sums(i), rs(i)); i += 1 }
      i = 0
      while (i < prods.length) { prods(i) = Math.addExact(prods(i), rp(i)); i += 1 }
    }
    (n, sums, prods)
  }

  /** The driver half of [[fit]] over an already-collected (or
    * [[mergeMomentRows]]-merged) moment row.
    */
  def fitFromMoments(n: Long, sums: Seq[Long], prods: Seq[Long],
      d: Int, q: Int, scale: Long = DefaultScale): PcaModel = {
    require(q >= 1 && q <= d, s"q must be in [1,$d], got $q")
    require(n > 0, "PCA fit over an empty (or all-null) vector column")
    val sc = scale.toDouble
    val mean = Array.tabulate(d)(i => sums(i) / sc / n)
    val cov = Array.ofDim[Double](d, d)
    var p = 0
    var i = 0
    while (i < d) {
      var j = i
      while (j < d) {
        val e = prods(p) / (sc * sc) / n - mean(i) * mean(j)
        cov(i)(j) = e; cov(j)(i) = e
        j += 1; p += 1
      }
      i += 1
    }
    val (vals, vecs) = jacobiEigen(cov)
    // order descending by eigenvalue, ties by original index (stable)
    val order = vals.indices.sortBy(k => (-vals(k), k)).take(q)
    val comps = order.map { k =>
      val v = Array.tabulate(d)(r => vecs(r)(k))
      // canonical sign: the largest-|component| entry (first on ties)
      // is made positive — eigenvectors are defined up to sign and the
      // projection gate needs ONE answer
      var best = 0
      var bi = 1
      while (bi < d) { if (math.abs(v(bi)) > math.abs(v(best))) best = bi; bi += 1 }
      if (v(best) < 0) { var r = 0; while (r < d) { v(r) = -v(r); r += 1 } }
      v
    }.toArray
    PcaModel(mean, comps, order.map(vals).toArray)
  }

  /** Cyclic Jacobi eigendecomposition of a symmetric matrix —
    * deterministic: fixed (p,q) sweep order, rotation threshold 1e-14
    * relative, max 64 sweeps (d ≤ a few hundred converges in < 10).
    * Returns (eigenvalues, column-eigenvector matrix).
    */
  private[graft] def jacobiEigen(a0: Array[Array[Double]]): (Array[Double], Array[Array[Double]]) = {
    val d = a0.length
    val a = Array.tabulate(d, d)((i, j) => a0(i)(j))
    val v = Array.tabulate(d, d)((i, j) => if (i == j) 1.0 else 0.0)
    var sweep = 0
    var off = Double.MaxValue
    val norm = math.max(1e-300, a0.map(_.map(x => x * x).sum).sum)
    while (sweep < 64 && off > 1e-28 * norm) {
      off = 0.0
      var p = 0
      while (p < d - 1) {
        var q = p + 1
        while (q < d) {
          val apq = a(p)(q)
          off += 2 * apq * apq
          if (math.abs(apq) > 1e-300) {
            val theta = (a(q)(q) - a(p)(p)) / (2 * apq)
            val t = math.signum(theta) match {
              case 0.0 => 1.0 / (theta + math.sqrt(theta * theta + 1))
              case s   => s / (math.abs(theta) + math.sqrt(theta * theta + 1))
            }
            val c = 1.0 / math.sqrt(t * t + 1)
            val s = t * c
            var k = 0
            while (k < d) {
              val akp = a(k)(p); val akq = a(k)(q)
              a(k)(p) = c * akp - s * akq
              a(k)(q) = s * akp + c * akq
              k += 1
            }
            k = 0
            while (k < d) {
              val apk = a(p)(k); val aqk = a(q)(k)
              a(p)(k) = c * apk - s * aqk
              a(q)(k) = s * apk + c * aqk
              k += 1
            }
            k = 0
            while (k < d) {
              val vkp = v(k)(p); val vkq = v(k)(q)
              v(k)(p) = c * vkp - s * vkq
              v(k)(q) = s * vkp + c * vkq
              k += 1
            }
          }
          q += 1
        }
        p += 1
      }
      sweep += 1
    }
    (Array.tabulate(d)(i => a(i)(i)), v)
  }

  /** Stateless projection onto the model's components: literal-matrix
    * dots minus the precomputed mean offsets — no shuffle, output is
    * q-wide, shrinking every downstream exchange.
    */
  def project(df: DataFrame, vecCol: String, model: PcaModel,
      outputCol: String = "embedding_pca"): DataFrame =
    df.withColumn(outputCol, array(model.components.zipWithIndex.map {
      case (c, j) =>
        VectorFunctions.dot(col(vecCol), typedlit(c.toSeq)) - lit(model.offsets(j))
    }: _*))

  /** The PCA-WHITENING model: each component row scaled by
    * `1/sqrt(max(λ_k, eps))`, so [[project]] under it emits coordinates
    * with (sample) unit variance and zero covariance — the standard
    * embedding preprocessing before cosine thresholds and k-means
    * (dominant directions stop drowning the tail; distances become
    * Mahalanobis in the fitted basis). A rank-deficient direction
    * (λ ≤ eps) keeps the eps floor instead of exploding to 1/0 — a
    * documented clamp, not a silent NaN. Both the gate and its twin
    * consume the SAME driver-computed scaled model (components AND the
    * derived offsets are spliced as literals), so whitening inherits
    * [[project]]'s bit-exact oracle discipline for free.
    */
  def whitened(model: PcaModel, eps: Double = 1e-12): PcaModel =
    PcaModel(
      model.mean,
      model.components.zipWithIndex.map { case (c, k) =>
        val s = 1.0 / math.sqrt(math.max(model.eigenvalues(k), eps))
        c.map(_ * s)
      },
      model.eigenvalues)

  /** DuckDB twin of [[project]]: CTE `_pca(id, projected)`. Component
    * literals ride as `CAST('…' AS DOUBLE)` (shortest-round-trip text —
    * the [[RandomProjection]] discipline) and the fold order matches
    * [[VectorFunctions.dotSql]].
    */
  def projectSql(table: String, idExpr: String, vecCol: String,
      model: PcaModel): String = {
    val comps = model.components.zipWithIndex.map { case (c, j) =>
      val clit = c.map(x => s"CAST('${x.toString}' AS DOUBLE)")
        .mkString("([", ", ", "])")
      s"(${VectorFunctions.dotSql(vecCol, clit)} - CAST('${model.offsets(j).toString}' AS DOUBLE))"
    }.mkString("[", ", ", "]")
    s"""_pca AS (SELECT $idExpr AS id, $comps AS projected FROM $table
       |  WHERE $vecCol IS NOT NULL)""".stripMargin
  }

  /** The q-selection OPERATING POINT (r18, the tuner-family recipe):
    * one moments pass fits `maxQ` components, and the report prices
    * every candidate width — per-component and cumulative explained-
    * variance ratio against the TOTAL variance (the covariance trace),
    * with one `chosen` row: the smallest k whose cumulative ratio
    * reaches `targetVar`, falling back to `maxQ` (keep everything
    * offered) when no candidate reaches it — the conservative default,
    * like the recall tuners' cheapest-level fallback but pointing the
    * safe direction for a LOSSY reduction.
    *
    * Exactness: the trace is an ORDER-INVARIANT exact integer — each
    * dimension's variance floor-scales to 1e12 micro-units on the
    * driver (one fixed double expression per dimension, replayed
    * op-for-op by the twin over the hash-checked moment rows) and the
    * 64 integers sum exactly; eigenvalues ride as shortest-round-trip
    * literals with their prefix sums as exact integers, so every ratio
    * is ONE double division in both engines and `chosen` decides on
    * identical doubles.
    */
  def qOperatingPoint(df: DataFrame, vecCol: String, d: Int, maxQ: Int,
      targetVar: Double, scale: Long = DefaultScale): DataFrame = {
    val row = moments(df, vecCol, d, scale).head()
    val n = row.getLong(0)
    val sums = row.getSeq[Long](1); val prods = row.getSeq[Long](2)
    val model = fitFromMoments(n, sums, prods, d, maxQ, scale)
    val trace12 = traceMicro(n, sums, prods, d, scale)
    val lam12 = model.eigenvalues.map(micro12)
    val cum12 = lam12.scanLeft(0L)(Math.addExact).tail
    val chosenK = (1 to maxQ).find(k =>
      cum12(k - 1).toDouble / trace12.toDouble >= targetVar).getOrElse(maxQ)
    // a zero-variance corpus (every vector identical) has no spectrum
    // to ratio against: ratios read NULL — matching DuckDB's x/0 —
    // and chosen keeps the conservative maxQ fallback in both engines
    // (NULL/NaN >= target is false either way)
    def ratio(v12: Long): Option[Double] =
      if (trace12 == 0L) None
      else Some(BigDecimal(v12.toDouble / trace12.toDouble)
        .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble)
    val spark = df.sparkSession
    import spark.implicits._
    (1 to maxQ).map { k =>
      (k.toLong, model.eigenvalues(k - 1),
        ratio(lam12(k - 1)), ratio(cum12(k - 1)), k == chosenK)
    }.toDF("q_components", "eigenvalue", "var_ratio", "cum_var_ratio", "chosen")
  }

  /** floor(x·1e12) as an exact long — LOUD on overflow (Double.toLong
    * would silently clamp at Long.MaxValue while the twin's DuckDB CAST
    * throws: the engine-asymmetry class the OPH borrow encoding hit).
    */
  private def micro12(x: Double): Long = {
    val m = math.floor(x * 1e12)
    require(math.abs(m) < 9.0e18,
      s"1e12 micro-unit overflow for $x — lower the variance scale " +
        "(normalize the vectors or reduce the fixed-point `scale`)")
    m.toLong
  }

  /** Exact order-invariant trace in 1e12 micro-units: per-dimension
    * variance as ONE fixed double expression over the exact moments,
    * floor-scaled and summed as integers (the lm_smoothing micro-bit
    * discipline — a double SUM would be partition/engine-order
    * sensitive in the last ulp).
    */
  private def traceMicro(n: Long, sums: Seq[Long], prods: Seq[Long],
      d: Int, scale: Long): Long = {
    val sc = scale.toDouble
    var t = 0L
    var i = 0
    var p = 0
    while (i < d) {
      val mean = sums(i) / sc / n
      val v = prods(p) / (sc * sc) / n - mean * mean
      t = Math.addExact(t, micro12(v))
      p += d - i // diagonal stride in the i-major upper triangle
      i += 1
    }
    t
  }

  /** DuckDB twin of [[qOperatingPoint]]: the trace re-derives from the
    * moment CTEs (`momentsSql`), eigenvalues and their exact prefix
    * sums ride as literals — the [[projectSql]] discipline.
    */
  def qOperatingPointSql(table: String, idExpr: String, vecCol: String,
      model: PcaModel, targetVar: Double,
      scale: Long = DefaultScale): String = {
    val sc = scale.toDouble
    val lam12 = model.eigenvalues.map(micro12)
    val cum12 = lam12.scanLeft(0L)(Math.addExact).tail
    val rows = model.eigenvalues.zipWithIndex.map { case (l, i) =>
      s"(${i + 1}, CAST('${l.toString}' AS DOUBLE), " +
        s"CAST(${lam12(i)} AS BIGINT), CAST(${cum12(i)} AS BIGINT))"
    }.mkString(",\n    ")
    s"""WITH ${momentsSql(table, idExpr, vecCol, scale)},
       |_tr AS (SELECT CAST(sum(CAST(floor(
       |      (CAST(sp AS DOUBLE) / (${(sc * sc).toString}) / n
       |        - (CAST(sum_i AS DOUBLE) / ${sc.toString} / n)
       |          * (CAST(sum_i AS DOUBLE) / ${sc.toString} / n)) * 1e12)
       |    AS BIGINT)) AS BIGINT) AS t12
       |  FROM _pmout WHERE i = j),
       |_lam(q_components, eigenvalue, lam12, cum12) AS (VALUES
       |    $rows),
       |_ch AS (SELECT coalesce(
       |    (SELECT min(q_components) FROM _lam CROSS JOIN _tr
       |     WHERE CAST(cum12 AS DOUBLE) / CAST(t12 AS DOUBLE) >= $targetVar),
       |    ${model.eigenvalues.length}) AS ck)
       |SELECT CAST(q_components AS BIGINT) AS q_components, eigenvalue,
       |  round(CAST(lam12 AS DOUBLE) / CAST(t12 AS DOUBLE), 6) AS var_ratio,
       |  round(CAST(cum12 AS DOUBLE) / CAST(t12 AS DOUBLE), 6) AS cum_var_ratio,
       |  q_components = ck AS chosen
       |FROM _lam CROSS JOIN _tr CROSS JOIN _ch
       |ORDER BY q_components""".stripMargin
  }

  /** DuckDB twin of the exploded moment table: rows
    * `(i, j, n, sum_i, sum_j, sp)` over the 0-based upper triangle —
    * the covariance gate's oracle. Parallel UNNESTs zip in DuckDB, so
    * the per-element rows carry their subscript without ordinality
    * syntax.
    */
  def momentsSql(table: String, idExpr: String, vecCol: String,
      scale: Long = DefaultScale): String =
    s"""_pm_x AS (SELECT _pmid, CAST(i - 1 AS BIGINT) AS i,
       |    CAST(floor(CAST(x AS DOUBLE) * $scale) AS BIGINT) AS xi
       |  FROM (SELECT $idExpr AS _pmid, UNNEST($vecCol) AS x,
       |          UNNEST(range(1, len($vecCol) + 1)) AS i
       |        FROM $table WHERE $vecCol IS NOT NULL)),
       |_pm_s AS (SELECT i, CAST(sum(xi) AS BIGINT) AS s, count(*) AS n
       |  FROM _pm_x GROUP BY 1),
       |_pm AS (SELECT a.i AS i, b.i AS j, CAST(sum(a.xi * b.xi) AS BIGINT) AS sp
       |  FROM _pm_x a JOIN _pm_x b ON a._pmid = b._pmid AND a.i <= b.i
       |  GROUP BY 1, 2),
       |_pmout AS (SELECT p.i, p.j, s1.n, s1.s AS sum_i, s2.s AS sum_j, p.sp
       |  FROM _pm p JOIN _pm_s s1 ON s1.i = p.i JOIN _pm_s s2 ON s2.i = p.j)""".stripMargin
}
