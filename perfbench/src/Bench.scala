package perfbench

import java.io.File
import graft.runner.{CorpusReports, OperatorRegistry, Params, PipelineConf, PipelineRunner}
import org.apache.spark.BenchAccess
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator
import org.apache.spark.sql.functions.col
import scala.collection.mutable

/** Pipeline-run benchmark: one caller, closed loop, `local[4]`.
  *
  *   Bench --workload <name> --seed <n> --input <dir> --seconds <s> --trace <0|1>
  *
  * `<dir>` holds the inputs `Stage` wrote for the seed. Each pass is one
  * `PipelineRunner.run` of a YAML config parsed by `PipelineConf.fromYaml`,
  * into a fresh output root that is checked and deleted afterwards. The
  * last stdout line is the JSON result.
  */
object Bench {

  /** One pass; `startMs`/`endMs` bound the timed call in wall-clock time. */
  final case class Pass(index: Int, wallS: Double, startMs: Long, endMs: Long, errors: Seq[String],
      digest: Option[String], rejectedKinds: Map[String, Int], rejectedOps: Map[String, Int],
      run: Option[graft.metrics.RunRollup])

  def main(args: Array[String]): Unit = {
    val a = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = a.getOrElse("workload", sys.error("--workload is required"))
    val seed = a.getOrElse("seed", "1").toLong
    val seconds = a.getOrElse("seconds", "10").toDouble
    val trace = a.getOrElse("trace", "0") == "1"
    val input = new File(a.getOrElse("input", sys.error("--input is required"))).getAbsolutePath
    val work = new File(".bench_build/work").getAbsoluteFile
    val w = Workloads(workload, seed)
    deleteTree(work)
    work.mkdirs()
    val spark = graft.core.GraftSession.builder("local[4]", 4)
      .config("spark.local.dir", new File(work, "spark-local").getPath)
      .config("spark.sql.warehouse.dir", new File(work, "warehouse").getPath)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val sessionReadyS = java.lang.management.ManagementFactory.getRuntimeMXBean.getUptime / 1000.0
    println(f"setup: session ready at $sessionReadyS%.3f s after JVM start")
    try {
      val r = new Runner(spark, w, seed, input, work)
      val (metrics, passes) = if (trace) r.traced() else r.timed(seconds, sessionReadyS)
      r.report(passes)
      val failed = passes.count(_.errors.nonEmpty)
      val m = metrics.map { case (k, (v, unit)) =>
        s""""$k": {"value": ${fmt(v)}, "unit": "$unit"}""" }.mkString(", ")
      println(s"""{"correct": ${failed == 0}, "attempted": ${passes.size}, "failed": $failed, "metrics": {$m}}""")
    } finally {
      spark.stop()
      deleteTree(work)
    }
  }

  def fmt(v: Double): String =
    if (v.isNaN || v.isInfinite) "null" else java.math.BigDecimal.valueOf(v).toPlainString

  def deleteTree(f: File): Unit = {
    if (f.isDirectory) Option(f.listFiles()).foreach(_.foreach(deleteTree))
    f.delete()
  }

  def treeBytes(f: File): Long =
    if (f.isDirectory) Option(f.listFiles()).map(_.map(treeBytes).sum).getOrElse(0L) else f.length()

  def peakRssMb(): Double = {
    val line = scala.io.Source.fromFile("/proc/self/status").getLines().find(_.startsWith("VmHWM:"))
    line.map(_.split("\\s+")(1).toDouble / 1024).getOrElse(Double.NaN)
  }
}

final class Runner(spark: SparkSession, w: Workload, seed: Long, inputDir: String, work: File) {
  import Bench._

  private val committed: Option[String] = Digests.committed(w.name, seed)
  private var seen: Option[String] = None

  /** One pass: parse + run into a fresh root, check, delete the root unless
    * `keep`. Each pass starts from a collected heap, so one pass's garbage
    * does not land in the next one's time.
    */
  def pass(i: Int, keep: Boolean = false): Pass = {
    val root = new File(work, s"pass-$i")
    deleteTree(root)
    System.gc()
    val yaml = w.config(inputDir, root.getPath, i)
    val startMs = System.currentTimeMillis()
    val t0 = System.nanoTime()
    val result = try Right(PipelineRunner.run(spark, PipelineConf.fromYaml(yaml)))
      catch { case e: Exception => Left(e) }
    val wall = (System.nanoTime() - t0) / 1e9
    val endMs = System.currentTimeMillis()
    val p = result match {
      case Left(e) => Pass(i, wall, startMs, endMs, Seq(s"pass threw: $e"), None, Map.empty, Map.empty, None)
      case Right(res) =>
        try {
          val out = w.outcome(spark, root.getPath)
          val rejectedBy = out.rejected.toMap
          val digest = Checks.digest(out.passed)
          val errs = Checks.verify(w.kinds(i).keys.toSeq, out, w.mustReject(i, rejectedBy), committed) ++
            seen.filter(_ != digest).map(d => s"digest: $digest differs from an earlier pass ($d)")
          if (seen.isEmpty) seen = Some(digest)
          val kinds = w.kinds(i)
          val rk = out.rejected.groupBy(r => kinds(r._1)).view.mapValues(_.size).toMap
          val ro = out.rejected.groupBy(_._2).view.mapValues(_.size).toMap
          Pass(i, wall, startMs, endMs, errs, Some(digest), rk, ro, Some(res.run))
        } catch { case e: Exception => Pass(i, wall, startMs, endMs, Seq(s"output check threw: $e"), None, Map.empty, Map.empty, None) }
    }
    if (!keep) deleteTree(root)
    p.errors.foreach(e => println(s"pass $i FAILED: $e"))
    p
  }

  /** Untraced timed run: a cold pass, then warm passes for `seconds` (at
    * least one). Throughput is the median over the last two warm passes: the
    * warm passes still speed up while the JIT compiles (a text run's fall
    * from about 8 s to 5.5 s over three passes), and the last two are the
    * most settled.
    */
  def timed(seconds: Double, setupS: Double): (Seq[(String, (Double, String))], Seq[Pass]) = {
    w.kinds(0) // generate the check's expectations before the cold pass, untimed
    val cold = pass(0)
    val warm = mutable.ArrayBuffer.empty[Pass]
    val t0 = System.nanoTime()
    while (warm.isEmpty || (System.nanoTime() - t0) / 1e9 < seconds) warm += pass(warm.size + 1)
    val lat = warm.map(_.wallS).toSeq
    val rates = warm.takeRight(2).map(p => w.records(p.index) / p.wallS).toSeq
    val (tailV, tailP, n) = Checks.tail(lat)
    val tail = if (n < 11) s"no tail ($n samples, a tail needs 11)" else f"tail p$tailP%.1f = $tailV%.3f s over $n samples"
    println(f"passes: cold ${cold.wallS}%.3f s; ${warm.size} warm: " + warm.map(p => f"${p.wallS}%.3f").mkString(" ") +
      f" s; median ${Checks.median(lat)}%.3f s, $tail")
    val metrics = Seq(
      "setup_s" -> (setupS, "s"),
      "cold_run_s" -> (cold.wallS, "s"),
      "records_per_s" -> (Checks.median(rates), "1/s"),
      "peak_rss_mb" -> (peakRssMb(), "MB"))
    (metrics, cold +: warm.toSeq)
  }

  /** Print the planted share of each property beside the share removed. */
  def report(passes: Seq[Pass]): Unit = {
    passes.find(_.errors.isEmpty).foreach { p =>
      val kinds = w.kinds(p.index)
      val n = kinds.size.toDouble
      val line = kinds.values.groupBy(identity).toSeq.sortBy(_._1).map { case (k, v) =>
        f"$k ${100 * v.size / n}%.2f%%/${100 * p.rejectedKinds.getOrElse(k, 0) / n}%.2f%%"
      }.mkString(", ")
      println(s"planted/removed share of input (pass ${p.index}): $line")
      println(s"rejected by operator: " + p.rejectedOps.toSeq.sortBy(_._1).map { case (o, c) => s"$o $c" }.mkString(", "))
    }
    passes.flatMap(_.digest).headOption.foreach { d =>
      val state = committed match {
        case Some(c) if c == d => "matches committed"
        case Some(c) => s"DIFFERS from committed $c"
        case None => "not committed for this seed"
      }
      println(s"digest ${w.name} $seed $d ($state)")
    }
  }

  // ---------------- traced run ----------------

  private val modules = Modules.scan(new File("src/main/scala/graft"))

  /** Traced run: a cold pass (codegen compile delta), a traced and an
    * untraced warm pass (tracing overhead), then each layer's public call
    * timed alone on staged input.
    */
  def traced(): (Seq[(String, (Double, String))], Seq[Pass]) = {
    val sc = spark.sparkContext
    val rec = new Recorder(modules)
    def attach(): Unit = { sc.addSparkListener(rec); spark.listenerManager.register(rec) }
    def detach(): Unit = {
      BenchAccess.drain(sc); sc.removeSparkListener(rec); spark.listenerManager.unregister(rec)
    }
    val out = mutable.LinkedHashMap.empty[String, Double]
    val passes = mutable.ArrayBuffer.empty[Pass]

    val cg0 = CodeGenerator.compileTime
    passes += pass(0)
    out("plans.codegen_compile_ms") = (CodeGenerator.compileTime - cg0) / 1e6

    attach()
    rec.takePeakStorage()
    val tp = pass(1, keep = true)
    detach()
    out("exec.peak_storage_mb") = rec.takePeakStorage() / 1e6
    val untraced = pass(2)
    passes ++= Seq(tp, untraced)
    val (ps, pe) = (tp.startMs, tp.endMs)
    val passJobs = rec.jobsBetween(ps, pe)
    out("plans.planning_ms") = rec.planningBetween(ps, pe)
    out("trace.pass_s") = tp.wallS
    // the untraced pass runs later, further warmed up: an upper bound
    out("trace.overhead_frac") = tp.wallS / untraced.wallS - 1
    val spans = Timeline.split(ps, pe, passJobs)
    out("trace.unattributed_s") = spans.getOrElse("unattributed", 0L) / 1e3
    println(s"traced pass ${fmt(tp.wallS)} s = " + spans.toSeq.sortBy(-_._2)
      .map { case (m, ms) => s"$m ${ms / 1e3}" }.mkString(" + "))
    out("exec.jobs") = passJobs.size
    out("exec.unattributed_jobs") = passJobs.count(_.module.isEmpty)
    val unknownSites = passJobs.filter(_.module.isEmpty).groupBy(_.site).view.mapValues(_.size)
    if (unknownSites.nonEmpty) println("unattributed jobs by call site: " +
      unknownSites.toSeq.sortBy(-_._2).map { case (site, n) => s"$n × '$site'" }.mkString(", "))
    out("runner.eager_jobs") = passJobs.count(j => !j.module.exists(m => m == "io" || m == "metrics"))
    out("exec.shuffle_write_mb") = passJobs.map(_.shuffleWriteBytes).sum / 1e6
    out("exec.spill_mb") = passJobs.map(_.spillBytes).sum / 1e6
    out("exec.gc_s") = passJobs.map(_.gcMs).sum / 1e3
    out("exec.task_skew") = if (passJobs.isEmpty) 1.0 else passJobs.map(_.maxSkew).max
    Layers.Modules.foreach { m =>
      val js = passJobs.filter(_.module.contains(m))
      out(s"exec.$m.jobs") = js.size
      out(s"exec.$m.executor_s") = js.map(_.executorMs).sum / 1e3
      out(s"exec.$m.wall_s") = spans.getOrElse(m, 0L) / 1e3
    }
    val passExecutorMs = passJobs.map(_.executorMs).sum

    // ---- each layer's public call, alone ----
    attach()
    val isolatedExecMs = layers(rec, out, tp.run, new File(work, "pass-1"))
    detach()
    out("exec.recompute_ratio") = passExecutorMs.toDouble / math.max(1L, isolatedExecMs)
    // how much of a pass the operators themselves account for; the rest is
    // per-pass fixed cost (planning, eager jobs, driver work, writes)
    out("trace.operator_share") = out.collect { case (k, v) if k.startsWith("op.") && k.endsWith(".self_s") => v }
      .sum / tp.wallS
    println(f"operators alone: ${out("trace.operator_share") * 100}%.1f%% of the traced pass")

    val metrics = Layers.all.map { case (k, unit) => k -> (out.getOrElse(k, 0.0), unit) }
    (metrics, passes.toSeq)
  }

  /** Time each layer's call on staged input; returns the summed executor ms.
    * The rejects writer gets the rejected rows `tracedRoot`'s pass wrote.
    */
  private def layers(rec: Recorder, out: mutable.Map[String, Double],
      run: Option[graft.metrics.RunRollup], tracedRoot: File): Long = {
    val sc = spark.sparkContext
    val root = new File(work, "layers")
    deleteTree(root)
    var execMs = 0L
    /** Run `body`, returning its value, its seconds and the jobs it ran. */
    def span[T](body: => T): (T, Double, Seq[JobRec]) = {
      val s = System.currentTimeMillis(); val t0 = System.nanoTime()
      val v = body
      val secs = (System.nanoTime() - t0) / 1e9
      val e = System.currentTimeMillis()
      BenchAccess.drain(sc)
      val js = rec.jobsBetween(s, e)
      execMs += js.map(_.executorMs).sum
      (v, secs, js)
    }
    def noop(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()
    val yaml = w.config(inputDir, new File(root, "pass").getPath, 0)

    val parses = (0 until 5).map { _ => val t0 = System.nanoTime(); PipelineConf.fromYaml(yaml)
      (System.nanoTime() - t0) / 1e6 }
    out("runner.parse_ms") = Checks.median(parses)
    val conf = PipelineConf.fromYaml(yaml)

    val (loaded, scanS, _) = span { val df = PipelineRunner.load(spark, conf.loader); noop(df); df }
    out("sources.scan_s") = scanS
    // the files a full scan reads; task input metrics miss the bytes that
    // Parquet's vectored reads fetch on other threads
    out("sources.read_mb") = loaded.inputFiles.map(f => new File(new java.net.URI(f)).length).sum / 1e6

    // tuner pre-stage: each from_report param's report over the loaded input
    var tunerS = 0.0
    def resolve(p: Params): Params = Params(p.m.map {
      case (k, jm: java.util.Map[_, _]) if jm.containsKey("from_report") =>
        val name = jm.get("from_report").toString
        val column = Option(jm.get("column")).map(_.toString).getOrElse(k)
        val dir = new File(root, "reports").getPath
        val (_, s, _) = span(CorpusReports.run(spark, name, loaded, dir))
        tunerS += s
        k -> spark.read.parquet(s"$dir/$name").filter(col("chosen")).head().getAs[Any](column)
      case kv => kv
    })
    val ops = conf.stages.flatMap(_.operators).map(o => o.name -> resolve(o.params))
    out("runner.tuner_s") = tunerS

    var in: DataFrame = loaded
    var buildTotal = 0.0
    ops.zipWithIndex.foreach { case ((name, params), k) =>
      var built: DataFrame = null
      var buildS = 0.0
      val (_, selfS, js) = span {
        val t0 = System.nanoTime()
        built = OperatorRegistry.create(name, params)(in)
        buildS = (System.nanoTime() - t0) / 1e9
        noop(built)
      }
      buildTotal += buildS
      out(s"op.$name.self_s") = selfS
      out(s"op.$name.build_s") = buildS
      out(s"op.$name.jobs") = js.size
      out(s"op.$name.executor_s") = js.map(_.executorMs).sum / 1e3
      out(s"op.$name.shuffle_write_mb") = js.map(_.shuffleWriteBytes).sum / 1e6
      val dir = new File(root, s"staged-$k").getPath
      built.write.parquet(dir)
      in = spark.read.parquet(dir)
    }
    out("runner.build_s") = buildTotal

    // writers on staged frames
    val wp = conf.writer.params
    val table = wp.str("table_name", "default")
    val outPath = new File(root, "write").getPath
    val write: DataFrame => Unit = conf.writer.tpe match {
      case "JsonlDataWriter" => new graft.io.JsonlDataWriter(outPath, table).write
      case _ => new graft.io.ParquetDataWriter(outPath, table, partitionBy = wp.str("partition_by")).write
    }
    val (_, writeS, _) = span(write(in))
    out("io.write_s") = writeS
    val rejected = spark.read.parquet(s"$tracedRoot/out_rejected/${table}_rejected").drop("operator")
    val (_, rejS, _) = span(graft.io.RejectedWriter.writeAll(rejected, outPath, table))
    out("io.rejects_write_s") = rejS
    out("io.written_mb") = (treeBytes(new File(outPath)) + treeBytes(new File(outPath + "_rejected"))) / 1e6

    run.filter(_ => conf.executor.metricsEnabled).foreach { r =>
      val (_, ms, _) = span(graft.metrics.MetricsWriter.write(spark, r, new File(root, "metrics").getPath))
      out("metrics.write_ms") = ms * 1e3
      conf.executor.reportPath.foreach { _ =>
        val (_, rs, _) = span(graft.metrics.HtmlReport.write(r, new File(root, "report.html").getPath))
        out("metrics.report_ms") = rs * 1e3
      }
    }
    deleteTree(root)
    deleteTree(tracedRoot)
    execMs
  }
}

/** Committed passed-id digests: `perfbench/digests.tsv`, lines of
  * `<workload> <seed> <digest>`.
  */
object Digests {
  def committed(workload: String, seed: Long): Option[String] = {
    val f = new File("perfbench/digests.tsv")
    if (!f.exists()) None
    else {
      val src = scala.io.Source.fromFile(f)
      try src.getLines().map(_.trim.split("\\s+")).collectFirst {
        case Array(w, s, d) if w == workload && s == seed.toString => d
      } finally src.close()
    }
  }
}
