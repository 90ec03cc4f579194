package graft.operators.ml

import graft.core.FitsOnInput
import graft.functions.{HashFunctions, TextFunctions}
import graft.ml.ClassifierWeights
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** DSIR — Data Selection via Importance Resampling (Xie et al.,
  * NeurIPS 2023): score every raw document by how much more likely its
  * hashed n-gram bag is under a TARGET domain's bag-of-ngrams model
  * than under the raw corpus's own model,
  * `log w(x) = Σ_b c_x[b] · (log p_target[b] − log q_raw[b])`,
  * then keep the top-k by score (+ optional Gumbel noise for the
  * paper's sampled variant). The standard method for "give me the 5%
  * of the crawl that looks like Wikipedia/textbooks" (beyond the
  * reference's operator set, like the rest of the training-data
  * family).
  *
  * Spark shape at corpus scale: both model fits are one
  * `explode(bucket ids) → groupBy(bucket).count()` over a 64-bit-hash
  * bucket space — map-side-combined, at most `buckets` rows out, safe
  * to collect (the bucket space is the model, 2^12–2^21 doubles). The
  * smoothed log-ratio table then rides to executors inside the scoring
  * kernel exactly like the quality classifier's weight table
  * ([[ClassifierWeights]] — broadcast it for 2^21-slot production
  * models), and scoring is a stateless one-JVM-pass-per-row map at
  * scan speed. Nothing about the fit depends on this corpus pass being
  * the same job: fit once, reuse the table across runs.
  *
  * Determinism: the portable 60-bit hash buckets both fits and the
  * scorer, so the DuckDB twin recomputes the identical model in SQL.
  */
final class DsirScoreRefiner(
    targetOf: SparkSession => DataFrame, // one text column (targetTextCol)
    textCol: String = "text",
    outputCol: String = "dsir_logw",
    buckets: Int = 1 << 12,
    bigrams: Boolean = true,
    alpha: Double = 1.0,
    targetTextCol: String = "text") extends FitsOnInput {

  require(buckets > 0, s"buckets $buckets must be positive")
  require(alpha > 0.0, s"smoothing alpha $alpha must be positive")
  val name = "dsir_score"

  /** (bucket → count) of one corpus, as a dense local array plus the
    * gram total. At most `buckets` rows cross the wire. */
  private def fitCounts(df: DataFrame, c: String): (Array[Long], Long) = {
    val rows = df
      .select(explode(graft.plans.kernels.hashed_ngram_buckets(
        TextFunctions.tokensOf(coalesce(col(c), lit(""))), buckets, bigrams)).as("_b"))
      .groupBy(col("_b")).agg(count(lit(1)).as("_c"))
      .collect()
    val arr = new Array[Long](buckets)
    var tot = 0L
    rows.foreach { r =>
      val b = r.getInt(0); val n = r.getLong(1)
      arr(b) = n; tot += n
    }
    (arr, tot)
  }

  /** Smoothed log-ratio table: fit target and raw, take
    * `log((t[b]+α)/(T+αd)) − log((q[b]+α)/(Q+αd))`. */
  def fittedWeights(raw: DataFrame): ClassifierWeights = {
    val (tc, tt) = fitCounts(targetOf(raw.sparkSession), targetTextCol)
    val (qc, qt) = fitCounts(raw, textCol)
    val d = buckets.toDouble
    val tDen = tt + alpha * d
    val qDen = qt + alpha * d
    ClassifierWeights.Local(Array.tabulate(buckets)(b =>
      math.log((tc(b) + alpha) / tDen) - math.log((qc(b) + alpha) / qDen)))
  }

  def apply(df: DataFrame): DataFrame =
    df.withColumn(outputCol,
      graft.plans.kernels.hashed_ngram_logweight(
        TextFunctions.tokensOf(coalesce(col(textCol), lit(""))),
        buckets, bigrams, fittedWeights(df)))

  /** Top-k selection over the scores. `gumbelSalt` non-empty gives the
    * paper's Gumbel-top-k sampled variant (deterministic: the noise is
    * a salted-hash uniform, so the sample is reproducible across runs
    * and partition layouts); empty takes the argmax-k. Rank ties break
    * by id. */
  def selectTopK(df: DataFrame, k: Int, idCol: String,
      gumbelSalt: String = ""): DataFrame = {
    val scored = apply(df)
    val key: Column =
      if (gumbelSalt.isEmpty) col(outputCol)
      else {
        val u = (pmod(HashFunctions.hashByName("portable")(
          concat(col(idCol).cast("string"), lit(gumbelSalt))), lit(1000000L))
          .cast("double") + lit(0.5)) / lit(1000000.0)
        col(outputCol) - log(-log(u))
      }
    scored.orderBy(key.desc, col(idCol)).limit(k)
  }

  // ---- DuckDB twin ----

  /** CTE chain exposing `_dsir(id, logw)` over `table` given the
    * target as a SQL query selecting one `text` column. Compose with
    * `WITH`. The twin refits both models from scratch in SQL. */
  def scoreCteSql(table: String, idExpr: String, targetSql: String): String = {
    val d = buckets
    // `tk` is a staged list column; gram strings match the kernel's
    // exactly (space-joined adjacent pairs over the same tokenization)
    def bucketList(tk: String) = {
      val uni = s"list_transform($tk, x -> " +
        s"(((${HashFunctions.portableHash64Sql("x")} % $d) + $d) % $d))"
      if (!bigrams) uni
      else {
        val bi = s"list_transform(${TextFunctions.shinglesSql(tk, 2)}, x -> " +
          s"(((${HashFunctions.portableHash64Sql("x")} % $d) + $d) % $d))"
        s"list_concat($uni, $bi)"
      }
    }
    val a = s"CAST($alpha AS DOUBLE)"
    s"""_dqt AS (SELECT $idExpr AS id,
       |    ${TextFunctions.tokensOfSql(s"coalesce($textCol, '')")} AS tk FROM $table),
       |_dq AS (SELECT id, ${bucketList("tk")} AS bs FROM _dqt),
       |_dqb AS (SELECT id, unnest(bs) AS b FROM _dq),
       |_dtt AS (SELECT ${TextFunctions.tokensOfSql(s"coalesce($targetTextCol, '')")} AS tk
       |  FROM ($targetSql)),
       |_dtb AS (SELECT unnest(${bucketList("tk")}) AS b FROM _dtt),
       |_dqc AS (SELECT b, count(*) AS c FROM _dqb GROUP BY b),
       |_dtc AS (SELECT b, count(*) AS c FROM _dtb GROUP BY b),
       |_dtot AS (SELECT (SELECT count(*) FROM _dqb) AS qt,
       |                 (SELECT count(*) FROM _dtb) AS tt),
       |_dlr AS (SELECT r.b,
       |    ln((coalesce(t.c, 0) + $a) / (tt + $a * $d))
       |      - ln((coalesce(q.c, 0) + $a) / (qt + $a * $d)) AS lr
       |  FROM (SELECT unnest(range(0, $d)) AS b) r
       |  CROSS JOIN _dtot
       |  LEFT JOIN _dqc q ON r.b = q.b
       |  LEFT JOIN _dtc t ON r.b = t.b),
       |_dsir AS (SELECT dq.id, coalesce(s.logw, 0.0) AS logw
       |  FROM _dq dq LEFT JOIN (
       |    SELECT qb.id, sum(lr) AS logw FROM _dqb qb JOIN _dlr l ON qb.b = l.b
       |    GROUP BY qb.id) s
       |  ON dq.id = s.id)""".stripMargin
  }
}

object DsirScoreRefiner {
  /** Target corpus loaded lazily from a path (the YAML/registry path). */
  def fromPath(path: String, format: String,
      textCol: String = "text", outputCol: String = "dsir_logw",
      buckets: Int = 1 << 12, bigrams: Boolean = true, alpha: Double = 1.0,
      targetTextCol: String = "text"): DsirScoreRefiner =
    new DsirScoreRefiner(
      spark => format match {
        case "parquet" => spark.read.parquet(path)
        case "jsonl"   => spark.read.json(path)
        case "csv"     => spark.read.option("header", "true").csv(path)
        case other     => throw new IllegalArgumentException(s"unknown target format: $other")
      },
      textCol, outputCol, buckets, bigrams, alpha, targetTextCol)
}
