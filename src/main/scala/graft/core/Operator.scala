package graft.core

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Rejection provenance envelope.
  *
  * Mirrors the reference's `_rejection_details` record annotation
  * (reference: mega_data_factory/framework/operator.py:259-262,345-353):
  * `{reason: "filtered"|"duplicate", operator, dedup_key?, representative_id?}`.
  */
object Rejection {
  val ColName = "_rejection_details"

  def filtered(op: String): Column = struct(
    lit("filtered").as("reason"),
    lit(op).as("operator"),
    lit(null).cast("string").as("dedup_key"),
    lit(null).cast("string").as("representative_id"))

  def duplicate(op: String, dedupKey: Column, representativeId: Column): Column = struct(
    lit("duplicate").as("reason"),
    lit(op).as("operator"),
    dedupKey.cast("string").as("dedup_key"),
    representativeId.cast("string").as("representative_id"))
}

/** A dataflow operator: `DataFrame => DataFrame`, fully declarative so
  * Catalyst can fuse chains into whole-stage codegen (the reference fuses
  * manually via CombinedOperator, framework/operator.py:385-430 — Spark
  * does this for free).
  */
trait Operator {
  def name: String
  def apply(df: DataFrame): DataFrame

  /** Disposition-mode apply: `alive` is the chain's survival flag.
    * Operators with expensive per-row work (decode, inference) override
    * this to gate that work with `when(alive, …)` — a row rejected
    * upstream never reached this operator in the sequential chain, so
    * skipping it both restores sequential semantics (null enrichment on
    * rejects) and avoids the compute; CaseWhen short-circuits per row in
    * interpreted and codegen paths alike. Default: ungated.
    */
  def applyGated(df: DataFrame, alive: Column): DataFrame = apply(df)
}

/** Adds columns, never drops rows (reference Refiner,
  * framework/operator.py:206-223). `added` returns (columnName, expression)
  * pairs; expressions must be total (decode/parse failures yield defaults,
  * never throw — reference behavior, e.g. image_metadata.py:49-53).
  */
trait Refiner extends Operator {
  def added(df: DataFrame): Seq[(String, Column)]
  final def apply(df: DataFrame): DataFrame =
    added(df).foldLeft(df) { case (d, (n, c)) => d.withColumn(n, c) }
}

/** Marks an operator that FITS on its input: its disposition step
  * ([[Disposition.step]]) runs Spark jobs over the frame while the
  * chain is being built — a centroid collect, a moments pass, a k-means
  * fit. Every such job replays the whole upstream lineage (an image
  * decode, a dedup shuffle) unless that lineage is cached, so
  * [[graft.metrics.MeteredPipeline.dispositionChain]] stages the chain
  * once before each marked operator and the fits, and the terminal
  * write, read cached rows. Adds no behavior of its own: rows, flags
  * and provenance are the same either way.
  */
trait FitsOnInput extends Operator {
  /** False when this instance's configuration runs no such job (an
    * operator whose fit is switched on by a parameter).
    */
  def fitsOnInput: Boolean = true
}

object FitsOnInput {
  /** Whether `op`'s disposition step runs Spark jobs over its input. */
  def apply(op: Operator): Boolean = op match {
    case f: FitsOnInput => f.fitsOnInput
    case _ => false
  }
}

/** Mark-don't-drop result of one [[RejectingOperator]] in disposition
  * mode: `stillAlive` / `newlyRejected` are flags local to this operator
  * (the chain guards them with the accumulated alive flag), `details` is
  * the provenance struct to stamp on newly rejected rows, and
  * `internalCols` are scratch columns the chain drops after consuming the
  * flag expressions.
  */
final case class Marked(
    df: DataFrame,
    stillAlive: Column,
    newlyRejected: Column,
    details: Column,
    internalCols: Seq[String] = Nil)

/** Any operator that drops rows and can produce the annotated complement
  * (§2.8 of SURVEY.md) — filters, window dedups, and the pairwise
  * near-dup family all route their rejects through this.
  */
trait RejectingOperator extends Operator {
  def rejected(df: DataFrame): DataFrame

  /** Disposition twin of `apply`/`rejected`: mark rows instead of dropping
    * them, so passed AND every operator's rejects come out of ONE scan
    * (the runner's single-pass reject routing). `alive` is the accumulated
    * survival flag — only alive rows may compete or be rejected; `tag`
    * uniquifies any scratch columns.
    */
  def mark(df: DataFrame, alive: Column, tag: String): Marked
}

/** Keeps rows matching a predicate (reference Filter,
  * framework/operator.py:226-238); `rejected` is the annotated complement
  * (§2.8 of SURVEY.md).
  */
trait RowFilter extends RejectingOperator {
  def keep(df: DataFrame): Column
  final def apply(df: DataFrame): DataFrame = df.filter(keep(df))
  final def rejected(df: DataFrame): DataFrame =
    df.filter(!keep(df)).withColumn(Rejection.ColName, Rejection.filtered(name))

  final def mark(df: DataFrame, alive: Column, tag: String): Marked = {
    val k = keep(df)
    Marked(df, k, !k, Rejection.filtered(name))
  }
}

/** Global first-wins deduplication (reference Deduplicator +
  * bucketed-set-actor backend, framework/operator.py:271-382,
  * framework/backend.py:77-226).
  *
  * Spark mapping: the hash-partitioned shuffle on the dedup key IS the
  * reference's bucketed distributed state (16→10,000 buckets for 1B→100B
  * keys, backend.py:83-88 — here `spark.sql.shuffle.partitions` plays that
  * role and AQE resizes it at runtime). `row_number` over
  * (key, explicit arrival order) gives deterministic first-wins; the
  * reference's arrival order is racy under parallel loaders, ours is
  * reproducible (SURVEY.md §7.4, intentional upgrade).
  *
  * Scale note (100 TB): the key should be a fixed-width hash (64-bit long),
  * never raw text, so shuffle volume stays bounded; pass a hashed key
  * expression. Skewed keys (e.g. empty text) are handled by AQE skew-join /
  * partition splitting.
  */
trait Deduplicator extends RejectingOperator {
  /** Dedup key per row — first row (by `order`) with a given key wins. */
  def key(df: DataFrame): Column
  /** Arrival-order column (deterministic total order, e.g. a source id). */
  def order(df: DataFrame): Column
  /** Id of the row, recorded on rejects as `representative_id` of the kept row. */
  def representative(df: DataFrame): Column

  private def annotated(df: DataFrame): DataFrame = {
    val w = Window.partitionBy(col("_dedup_key")).orderBy(col("_dedup_order"))
    df.withColumn("_dedup_key", key(df))
      .withColumn("_dedup_order", order(df))
      .withColumn("_dedup_rn", row_number().over(w))
      .withColumn("_dedup_rep", first(col("_dedup_rep_src")).over(w))
      .drop("_dedup_rep_src")
  }

  private def withRepSrc(df: DataFrame): DataFrame =
    df.withColumn("_dedup_rep_src", representative(df))

  private val internal = Seq("_dedup_key", "_dedup_order", "_dedup_rn", "_dedup_rep")

  final def apply(df: DataFrame): DataFrame =
    annotated(withRepSrc(df)).filter(col("_dedup_rn") === 1).drop(internal: _*)

  /** Rows dropped as duplicates, annotated with key + first-seen representative. */
  final override def rejected(df: DataFrame): DataFrame =
    annotated(withRepSrc(df)).filter(col("_dedup_rn") > 1)
      .withColumn(Rejection.ColName,
        Rejection.duplicate(name, col("_dedup_key"), col("_dedup_rep")))
      .drop(internal: _*)

  /** Disposition mode: dead rows stay in the frame, so the first-wins
    * window sorts alive rows first — the winner is the first ALIVE row by
    * arrival order, exactly the sequential semantics where rows rejected
    * upstream never reached this operator.
    */
  final def mark(df: DataFrame, alive: Column, tag: String): Marked = {
    val aC = s"_dal$tag"; val kC = s"_dk$tag"; val oC = s"_do$tag"
    val rnC = s"_drn$tag"; val repC = s"_drep$tag"; val repSrcC = s"_dreps$tag"
    var d = df.withColumn(aC, alive)
    d = d.withColumn(kC, key(d)).withColumn(oC, order(d))
      .withColumn(repSrcC, representative(d))
    val w = Window.partitionBy(col(kC)).orderBy(col(aC).desc, col(oC))
    d = d.withColumn(rnC, row_number().over(w))
      .withColumn(repC, first(col(repSrcC)).over(w))
    Marked(d, col(rnC) === 1, col(rnC) > 1,
      Rejection.duplicate(name, col(kC), col(repC)),
      Seq(aC, kC, oC, rnC, repC, repSrcC))
  }
}

/** Disposition `mark` for the pairwise drop-set dedup family (MinHash
  * LSH, n-gram Jaccard, SimHash-near, embedding-cosine): duplicate pairs
  * are computed over the ALIVE subset only — rows rejected upstream never
  * compete, exactly the sequential semantics — then one left join stamps
  * the representative back onto the chain.
  */
object PairwiseMark {
  def apply(
      df: DataFrame, alive: Column, tag: String, idCol: String, opName: String,
      pairs: DataFrame => DataFrame): Marked = {
    val repC = s"_prep$tag"
    val reps = pairs(df.filter(alive)).groupBy(col("d2"))
      .agg(min(col("d1")).as(repC))
      .withColumnRenamed("d2", idCol)
    val d = df.join(reps, Seq(idCol), "left")
    Marked(d, col(repC).isNull, col(repC).isNotNull,
      Rejection.duplicate(opName, lit(null).cast("string"), col(repC)), Seq(repC))
  }
}

/** Single-pass reject disposition (SURVEY.md §2.8's own disposition): the
  * chain carries an alive flag plus the FIRST rejecting operator's
  * provenance instead of dropping rows, so the passed output and every
  * operator's annotated rejects are two filters over one lineage — one
  * source scan total. The reference replays the chain per stage
  * (framework/executor.py:100-124); at 100 TB that multiplies full scans
  * by the stage count, which is the one scale-killer this avoids.
  */
object Disposition {
  val AliveCol = "_graft_alive"
  private val DetailsType =
    "struct<reason:string,operator:string,dedup_key:string,representative_id:string>"

  def init(df: DataFrame): DataFrame =
    df.withColumn(AliveCol, lit(true))
      .withColumn(Rejection.ColName, lit(null).cast(DetailsType))

  /** Apply one operator in mark-don't-drop mode. Rejecting operators
    * only update flags for currently-alive rows. Refiner columns are
    * guarded with `when(alive, …)` — a row rejected upstream never
    * reached this refiner in the sequential chain, so its enrichment is
    * null AND the (possibly decode/inference-heavy) expression is never
    * evaluated for dead rows; CaseWhen short-circuits per row in both
    * interpreted and codegen paths.
    */
  def step(df: DataFrame, op: Operator, tag: String): DataFrame = op match {
    case r: RejectingOperator =>
      val m = r.mark(df, col(AliveCol), tag)
      m.df.withColumns(Map(
        Rejection.ColName -> when(col(AliveCol) && m.newlyRejected, m.details)
          .otherwise(col(Rejection.ColName)),
        AliveCol -> (col(AliveCol) && m.stillAlive)))
        .drop(m.internalCols: _*)
    case r: Refiner =>
      r.added(df).foldLeft(df) { case (d, (n, c)) =>
        d.withColumn(n, when(col(AliveCol), c))
      }
    case o => o.applyGated(df, col(AliveCol))
  }

  /** The surviving rows, with disposition scaffolding removed. */
  def passed(df: DataFrame): DataFrame =
    df.filter(col(AliveCol)).drop(AliveCol, Rejection.ColName)

  /** Every operator's annotated complement in one frame (route it with a
    * single write partitioned by `_rejection_details.operator`).
    */
  def rejected(df: DataFrame): DataFrame =
    df.filter(!col(AliveCol)).drop(AliveCol)
}

/** Result of running a pipeline: the passed rows plus each row-dropping
  * operator's annotated reject branch (written separately, partitioned by
  * operator — reference framework/executor.py:100-124).
  */
final case class PipelineResult(passed: DataFrame, rejected: Seq[(String, DataFrame)])

/** An ordered operator chain. Order is execution order, exactly like the
  * reference's config order (framework/executor.py:145-158) — narrow
  * transforms fuse into one Spark stage; only dedups introduce a shuffle.
  */
final case class Pipeline(name: String, ops: Seq[Operator]) {
  def run(input: DataFrame): PipelineResult = {
    var df = input
    val rejects = Seq.newBuilder[(String, DataFrame)]
    ops.foreach {
      case r: RejectingOperator => rejects += r.name -> r.rejected(df); df = r(df)
      case o                    => df = o(df)
    }
    PipelineResult(df, rejects.result())
  }
}
