package graft.metrics

import graft.core.{Deduplicator, Operator, RowFilter}
import org.apache.spark.sql.{DataFrame, Observation, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Three-level metrics (operator / stage / run) with the reference's
  * rollup semantics (framework/metrics/collector.py:75-217,
  * aggregator.py:109-174):
  *  - operators in a stage run serially → stage input = FIRST operator's
  *    input, stage output = LAST operator's output (not sums);
  *  - stages in a run run serially → run input = first stage input, run
  *    output = last stage output;
  *  - stage time = MAX over operators (bottleneck), pass_rate =
  *    100·out/in guarded on in>0.
  *
  * Counting rides `df.observe` (CollectMetrics): every operator boundary
  * gets an observation and ONE terminal action fills them all in a single
  * pass — the Spark-native form of the reference's per-worker counters
  * summed by the aggregator (executor.py:760-823; the shuffle-free
  * cross-task sum IS the cross-worker aggregation, SURVEY.md §2.5 A2).
  *
  * Per-operator wall-clock latency percentiles are a record-batch concept
  * that does not survive whole-stage codegen fusion (operators fuse into
  * one stage by design); latency fields are populated only by the
  * separate [[MeteredPipeline.timedRun]] mode, which executes one action
  * per boundary to attribute wall time, and are 0.0 in fused mode.
  */
final case class OperatorCounts(
    opIndex: Int, name: String, input: Long, output: Long, timeSec: Double) {
  def passRate: Double = if (input > 0) 100.0 * output / input else 0.0
}

final case class StageRollup(
    stageName: String, numOperators: Int, input: Long, output: Long,
    timeSec: Double, operators: Seq[OperatorCounts]) {
  def passRate: Double = if (input > 0) 100.0 * output / input else 0.0
}

final case class RunRollup(
    runId: String, stages: Seq[StageRollup], durationSec: Double) {
  def input: Long = stages.headOption.map(_.input).getOrElse(0L)
  def output: Long = stages.lastOption.map(_.output).getOrElse(0L)
  def passRate: Double = if (input > 0) 100.0 * output / input else 0.0
  def avgThroughput: Double = if (durationSec > 0) input / durationSec else 0.0
}

object MetricsRollup {
  /** Stage rollup from serial operator counts (first-in / last-out / max-time). */
  def stage(stageName: String, counts: Seq[OperatorCounts]): StageRollup =
    StageRollup(
      stageName,
      counts.size,
      counts.headOption.map(_.input).getOrElse(0L),
      counts.lastOption.map(_.output).getOrElse(0L),
      if (counts.isEmpty) 0.0 else counts.map(_.timeSec).max,
      counts)

  def run(runId: String, stages: Seq[StageRollup], durationSec: Double): RunRollup =
    RunRollup(runId, stages, durationSec)
}

/** One pipeline stage with observation-instrumented operator boundaries. */
final class MeteredPipeline(val stageName: String, val ops: Seq[Operator]) {

  /** Instrument the chain: returns the output DataFrame plus a thunk that
    * yields per-operator counts AFTER the caller runs exactly one action
    * on the returned frame. Single pass, no extra jobs.
    */
  def instrument(input: DataFrame): (DataFrame, () => Seq[OperatorCounts]) = {
    val inObs = Observation()
    var df = input.observe(inObs, count(lit(1)).as("n"))
    val boundary = ops.map { op =>
      df = op(df)
      val obs = Observation()
      df = df.observe(obs, count(lit(1)).as("n"))
      op.name -> obs
    }
    def counts(): Seq[OperatorCounts] = {
      var prev = inObs.get("n").asInstanceOf[Long]
      boundary.zipWithIndex.map { case ((name, obs), i) =>
        val out = obs.get("n").asInstanceOf[Long]
        val c = OperatorCounts(i, name, prev, out, 0.0)
        prev = out
        c
      }
    }
    (df, counts)
  }

  /** Fused-mode run: one `count()` action fills every boundary. */
  def run(input: DataFrame): (Seq[OperatorCounts], StageRollup) = {
    val (df, counts) = instrument(input)
    df.write.format("noop").mode("overwrite").save()
    val cs = counts()
    (cs, MetricsRollup.stage(stageName, cs))
  }

  /** Disposition-mode twin of `instrument`: operators MARK rows dead
    * (graft.core.Disposition) instead of dropping them, so boundary
    * counts are alive-row counts. Phase 1 of two (r17): step the ops,
    * SNAPSHOTTING the alive flag at each boundary into an
    * `_ob<tagPrefix><i>` column — counting is deferred to
    * [[MeteredPipeline.observeBoundaries]], attached ONCE after the
    * whole run's chain is built. A per-boundary Observation attached
    * here could be fired — and frozen — with a zero-row `[null]` fill
    * by a LATER operator that runs its own eager Spark actions on the
    * chained frame during construction (a k-means fit in
    * `AutoBucketedCosineDedup.mark` fires every upstream CollectMetrics
    * that way — the tuned-semantic-dedup config read `input=0`); the
    * deferred single observation is only ever filled by the run's
    * terminal write. Disposition never drops rows, so every boundary
    * flag survives to the terminal frame by construction.
    *
    * Staging rule: before each operator that fits on its input
    * ([[graft.core.FitsOnInput]]) the chain so far is staged
    * ([[graft.core.Staging.stage]], registered with the caller's
    * `Staging.scoped` block), so that operator's fit jobs — and the
    * terminal write — read cached rows instead of replaying the
    * upstream (an image decode, a dedup shuffle) once per job. This is
    * the one place that decision is made. The staging `count()` runs
    * here, before [[MeteredPipeline.observeBoundaries]] attaches the
    * run's observation, so it cannot fire that observation early.
    * `stageFits = false` builds the same chain with no staging (the
    * runner's zero-cache-storage `materialize: recompute` contract).
    */
  def dispositionChain(input: DataFrame, tagPrefix: String, stageFits: Boolean = true)
      : (DataFrame, Seq[(String, String)]) = {
    import graft.core.{Disposition, FitsOnInput, Staging}
    var df = input
    val bounds = ops.zipWithIndex.map { case (op, i) =>
      if (stageFits && FitsOnInput(op)) df = Staging.stage(df)
      df = Disposition.step(df, op, s"$tagPrefix$i")
      val c = s"_ob$tagPrefix$i"
      df = df.withColumn(c, col(Disposition.AliveCol))
      op.name -> c
    }
    (df, bounds)
  }

  /** Instrumented-mode run: one action per boundary so wall time is
    * attributable per operator (the reference's per-operator total_time).
    * Costs recomputation — use for profiling, not production.
    */
  def timedRun(input: DataFrame): (Seq[OperatorCounts], StageRollup) = {
    val (_, cs, rollup) = timedRunThrough(input)
    (cs, rollup)
  }

  /** [[timedRun]] that also returns the stage's output frame, so a
    * runner can continue the chain (profiling mode).
    */
  def timedRunThrough(input: DataFrame): (DataFrame, Seq[OperatorCounts], StageRollup) = {
    var df = input
    var prev = df.count()
    val cs = ops.zipWithIndex.map { case (op, i) =>
      val t0 = System.nanoTime()
      df = op(df)
      val out = df.count()
      val dt = (System.nanoTime() - t0) / 1e9
      val c = OperatorCounts(i, op.name, prev, out, dt)
      prev = out
      c
    }
    (df, cs, MetricsRollup.stage(stageName, cs))
  }
}

object MeteredPipeline {

  /** Phase 2 of disposition instrumentation (see
    * [[MeteredPipeline.dispositionChain]]): ONE observation over every
    * stage's boundary flags plus the run total, attached after the
    * whole chain is built — nothing can fire it but the run's terminal
    * write. Snapshot columns are dropped from the returned frame. The
    * per-stage thunks are valid after one action on the returned
    * frame; op input = the previous boundary's alive count, serial
    * across stages (the first op's input is the run total).
    */
  def observeBoundaries(df: DataFrame,
      stages: Seq[(String, Seq[(String, String)])])
      : (DataFrame, Seq[(String, () => Seq[OperatorCounts])]) = {
    val cols = stages.flatMap(_._2.map(_._2))
    val obs = Observation()
    val aggs = count(lit(1)).as("_n_in") +:
      cols.map(c => sum(when(col(c), 1L).otherwise(0L)).as(c))
    val observed = df.observe(obs, aggs.head, aggs.tail: _*).drop(cols: _*)
    lazy val all: Map[String, Long] = obs.get.map { case (k, v) =>
      k -> (v match { case null => 0L; case n => n.asInstanceOf[Long] })
    }
    def stageCounts(si: Int): Seq[OperatorCounts] = {
      var prev = stages.take(si).flatMap(_._2.map(_._2))
        .lastOption.map(all).getOrElse(all("_n_in"))
      stages(si)._2.zipWithIndex.map { case ((name, c), i) =>
        val out = all(c)
        val oc = OperatorCounts(i, name, prev, out, 0.0)
        prev = out
        oc
      }
    }
    (observed, stages.indices.map(si => stages(si)._1 -> (() => stageCounts(si))))
  }
}

/** W3: the three metrics parquet datasets with the reference's exact
  * column sets (framework/metrics/writer.py:28-82): `runs/`, `stages/`,
  * `operators/`. Latency/custom fields the fused engine cannot observe
  * are written as 0.0 / NULL, schema-compatible.
  */
object MetricsWriter {

  val operatorSchema: StructType = StructType(Seq(
    StructField("run_id", StringType), StructField("stage_name", StringType),
    StructField("operator_name", StringType), StructField("worker_id", StringType),
    StructField("timestamp", TimestampType), StructField("input_records", LongType),
    StructField("output_records", LongType), StructField("pass_rate", DoubleType),
    StructField("total_time", DoubleType), StructField("avg_latency", DoubleType),
    StructField("min_latency", DoubleType), StructField("max_latency", DoubleType),
    StructField("p50_latency", DoubleType), StructField("p95_latency", DoubleType),
    StructField("p99_latency", DoubleType), StructField("throughput", DoubleType),
    StructField("error_count", LongType), StructField("custom_metrics", StringType)))

  val stageSchema: StructType = StructType(Seq(
    StructField("run_id", StringType), StructField("stage_name", StringType),
    StructField("timestamp", TimestampType), StructField("num_workers", LongType),
    StructField("input_records", LongType), StructField("output_records", LongType),
    StructField("pass_rate", DoubleType), StructField("total_time", DoubleType),
    StructField("avg_throughput", DoubleType), StructField("min_throughput", DoubleType),
    StructField("max_throughput", DoubleType), StructField("error_count", LongType)))

  val runSchema: StructType = StructType(Seq(
    StructField("run_id", StringType), StructField("start_time", TimestampType),
    StructField("end_time", TimestampType), StructField("duration", DoubleType),
    StructField("num_stages", LongType), StructField("total_input_records", LongType),
    StructField("total_output_records", LongType), StructField("overall_pass_rate", DoubleType),
    StructField("avg_throughput", DoubleType), StructField("total_errors", LongType),
    StructField("config", StringType)))

  def newRunId(): String = {
    val ts = java.time.format.DateTimeFormatter.ofPattern("yyyyMMdd_HHmmss")
      .withZone(java.time.ZoneOffset.UTC).format(java.time.Instant.now())
    s"run_${ts}_${java.util.UUID.randomUUID.toString.take(8)}"
  }

  def operatorRows(spark: SparkSession, run: RunRollup, at: java.sql.Timestamp): DataFrame = {
    val rows = for (s <- run.stages; c <- s.operators) yield Row(
      run.runId, s.stageName, c.name, "spark", at, c.input, c.output, c.passRate,
      c.timeSec, 0.0, 0.0, 0.0, 0.0, 0.0, 0.0,
      if (c.timeSec > 0) c.input / c.timeSec else 0.0, 0L, null)
    spark.createDataFrame(spark.sparkContext.parallelize(rows, 1), operatorSchema)
  }

  def stageRows(spark: SparkSession, run: RunRollup, at: java.sql.Timestamp): DataFrame = {
    val rows = run.stages.map { s =>
      val tps = s.operators.map(c => if (c.timeSec > 0) c.input / c.timeSec else 0.0).filter(_ > 0)
      Row(run.runId, s.stageName, at, 1L, s.input, s.output, s.passRate, s.timeSec,
        if (tps.nonEmpty) tps.sum / tps.size else 0.0,
        if (tps.nonEmpty) tps.min else 0.0,
        if (tps.nonEmpty) tps.max else 0.0, 0L)
    }
    spark.createDataFrame(spark.sparkContext.parallelize(rows, 1), stageSchema)
  }

  def runRows(spark: SparkSession, run: RunRollup,
      start: java.sql.Timestamp, end: java.sql.Timestamp, configJson: String): DataFrame = {
    val rows = Seq(Row(run.runId, start, end, run.durationSec, run.stages.size.toLong,
      run.input, run.output, run.passRate, run.avgThroughput, 0L, configJson))
    spark.createDataFrame(spark.sparkContext.parallelize(rows, 1), runSchema)
  }

  /** Write runs/ stages/ operators/ under `path` (append mode — one file
    * set per run, like the reference's per-timestamp files). */
  def write(spark: SparkSession, run: RunRollup, path: String,
      configJson: String = "{}"): Unit = {
    val now = new java.sql.Timestamp(System.currentTimeMillis())
    runRows(spark, run, now, now, configJson)
      .write.mode("append").parquet(s"$path/runs")
    stageRows(spark, run, now).write.mode("append").parquet(s"$path/stages")
    operatorRows(spark, run, now).write.mode("append").parquet(s"$path/operators")
  }
}
