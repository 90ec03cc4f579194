package perfbench

import java.io.File
import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart
import org.apache.spark.sql.util.QueryExecutionListener
import scala.collection.mutable

/** Maps an action's call site to the layer (one of `Layers.Modules`) that
  * made the call. A frame's layer is its package under `graft`
  * (`operators.ml`). The long form (a stack, innermost frame first) gives the
  * innermost `graft.` frame in a layer, even when a Spark library such as
  * ML's KMeans ran the action; the short form (`collect at
  * KMeansBuckets.scala:70`) maps by file. A call site in no layer (a
  * top-level `graft` class, `functions`, `sources`, ...) has no module, so
  * its job is counted and timed as unattributed.
  */
final class Modules(fileToModule: Map[String, String]) {
  private val Frame = """(?m)^\s*graft\.((?:[a-z_]+\.)*)[A-Z]""".r
  private val Site = """at ([A-Za-z0-9_$]+\.scala):\d+""".r.unanchored
  private val layers = Layers.Modules.toSet

  def of(shortForm: String, longForm: String = ""): Option[String] =
    Frame.findAllMatchIn(longForm).map(_.group(1).stripSuffix(".")).find(layers)
      .orElse(shortForm match {
        case Site(file) => fileToModule.get(file).filter(layers)
        case _ => None
      })
}

object Modules {
  /** Scan the program's sources under `srcRoot` (the `graft` package dir). */
  def scan(srcRoot: File): Modules = {
    val m = mutable.Map.empty[String, String]
    def walk(dir: File, pkg: List[String]): Unit =
      Option(dir.listFiles()).getOrElse(Array.empty[File]).foreach { f =>
        if (f.isDirectory) walk(f, pkg :+ f.getName)
        else if (f.getName.endsWith(".scala"))
          m(f.getName) = if (pkg.isEmpty) "graft" else pkg.mkString(".")
      }
    walk(srcRoot, Nil)
    new Modules(m.toMap)
  }
}

/** One finished Spark job, with the summed metrics of the stages it ran. */
final case class JobRec(id: Int, startMs: Long, endMs: Long, site: String, module: Option[String],
    executorMs: Long, shuffleWriteBytes: Long, spillBytes: Long, gcMs: Long,
    maxSkew: Double)

/** Records jobs, stages, SQL executions and cached-block sizes, and the
  * planning time of each finished query. Everything stays in memory; the
  * benchmark reads it when a traced section ends.
  */
final class Recorder(modules: Modules) extends SparkListener with QueryExecutionListener {
  private final class StageAgg {
    var executorMs = 0L; var shuffleWrite = 0L; var spill = 0L; var gcMs = 0L
    val durations = mutable.ArrayBuffer.empty[Long]
  }
  private final case class Open(startMs: Long, execId: Option[Long], stageSite: (String, String), stages: Seq[Int])

  private val execSite = mutable.Map.empty[Long, (String, String)]
  private val stageJob = mutable.Map.empty[Int, Int]
  private val stages = mutable.Map.empty[Int, StageAgg]
  private val open = mutable.Map.empty[Int, Open]
  private val done = mutable.ArrayBuffer.empty[JobRec]
  private val blocks = mutable.Map.empty[String, Long]
  private var storage = 0L
  private var peakStorage = 0L
  private val planning = mutable.ArrayBuffer.empty[(Long, Long)]

  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case s: SparkListenerSQLExecutionStart =>
      synchronized { execSite(s.executionId) = (s.description, s.details) }
    case _ =>
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val execId = Option(e.properties).flatMap(p => Option(p.getProperty("spark.sql.execution.id")))
      .map(_.toLong)
    val ids = e.stageInfos.map(_.stageId)
    ids.foreach(s => if (!stageJob.contains(s)) stageJob(s) = e.jobId)
    val last = e.stageInfos.sortBy(-_.stageId).headOption
    open(e.jobId) = Open(e.time, execId, (last.map(_.name).getOrElse(""), last.map(_.details).getOrElse("")), ids)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val a = stages.getOrElseUpdate(e.stageId, new StageAgg)
    Option(e.taskMetrics).foreach { m =>
      a.executorMs += m.executorRunTime
      a.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
      a.spill += m.memoryBytesSpilled + m.diskBytesSpilled
      a.gcMs += m.jvmGCTime
    }
    Option(e.taskInfo).foreach(t => a.durations += t.duration)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    open.remove(e.jobId).foreach { o =>
      val site = o.execId.flatMap(execSite.get).getOrElse(o.stageSite)
      val own = o.stages.filter(s => stageJob.get(s).contains(e.jobId)).flatMap(stages.get)
      def sum(f: StageAgg => Long) = own.map(f).sum
      val skew = own.filter(_.durations.size >= 2).map { a =>
        val d = a.durations.sorted
        d.last.toDouble / math.max(1L, d(d.size / 2))
      }
      done += JobRec(e.jobId, o.startMs, e.time, site._1, modules.of(site._1, site._2), sum(_.executorMs),
        sum(_.shuffleWrite), sum(_.spill), sum(_.gcMs),
        if (skew.isEmpty) 1.0 else skew.max)
    }
  }

  override def onBlockUpdated(e: SparkListenerBlockUpdated): Unit = synchronized {
    val b = e.blockUpdatedInfo
    if (b.blockId.isRDD) {
      val key = b.blockId.name + "@" + b.blockManagerId.executorId
      val size = b.memSize + b.diskSize
      storage += size - blocks.getOrElse(key, 0L)
      if (size == 0) blocks.remove(key) else blocks(key) = size
      peakStorage = math.max(peakStorage, storage)
    }
  }

  override def onUnpersistRDD(e: SparkListenerUnpersistRDD): Unit = synchronized {
    val prefix = s"rdd_${e.rddId}_"
    blocks.keys.filter(_.startsWith(prefix)).toList.foreach(k => storage -= blocks.remove(k).get)
  }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    synchronized {
      planning += System.currentTimeMillis() -> qe.tracker.phases.values.map(_.durationMs).sum
    }

  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()

  /** Jobs that ran within [fromMs, toMs]. */
  def jobsBetween(fromMs: Long, toMs: Long): Seq[JobRec] = synchronized {
    done.filter(j => j.startMs >= fromMs && j.endMs <= toMs).toSeq
  }
  /** Planning ms of the queries that finished within [fromMs, toMs]. */
  def planningBetween(fromMs: Long, toMs: Long): Double = synchronized {
    planning.filter { case (t, _) => t >= fromMs && t <= toMs }.map(_._2).sum.toDouble
  }
  /** The peak of cached-block bytes since the last call. */
  def takePeakStorage(): Long = synchronized { val p = peakStorage; peakStorage = storage; p }
}

object Timeline {
  /** Splits [fromMs, toMs] at every job start and end and gives each piece
    * to the module of the earliest-started job running in it, or to
    * `unattributed` when no job runs (driver-side work between jobs) or the
    * job has no module. The pieces add up to toMs - fromMs exactly.
    */
  def split(fromMs: Long, toMs: Long, jobs: Seq[JobRec]): Map[String, Long] = {
    val cuts = (Seq(fromMs, toMs) ++ jobs.flatMap(j => Seq(j.startMs, j.endMs)))
      .filter(t => t >= fromMs && t <= toMs).distinct.sorted
    val out = mutable.Map.empty[String, Long].withDefaultValue(0L)
    cuts.zip(cuts.tail).foreach { case (a, b) =>
      val owner = jobs.filter(j => j.startMs <= a && j.endMs >= b).sortBy(_.startMs).headOption
      out(owner.flatMap(_.module).getOrElse("unattributed")) += b - a
    }
    out.toMap
  }
}
