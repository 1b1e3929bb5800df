package graftbench

import graft.table.{GraftFileIndex, GraftV1Scan}
import org.apache.spark.{BenchBus, Success, TaskFailedReason}
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{FileSourceScanExec, QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.datasources.v2.{DataSourceV2ScanRelation, V1ScanWrapper}
import org.apache.spark.sql.execution.exchange.{BroadcastExchangeLike, ShuffleExchangeLike}
import org.apache.spark.sql.execution.joins.{BroadcastHashJoinExec, SortMergeJoinExec}
import org.apache.spark.sql.util.QueryExecutionListener
import scala.collection.mutable
import scala.util.Try

/** One Spark job as the listener saw it (driver clock, epoch ms). */
final case class JobRec(id: Int, startMs: Long, endMs: Long)

/** Task metrics summed over one stage's tasks. */
final class StageRec(val id: Int) {
  var tasks = 0
  var runMs, cpuNs, gcMs, inBytes, shRead, shWrite, spill, peakMem = 0L
  val durationsMs = mutable.ArrayBuffer.empty[Long]
}

/** One executed QueryExecution: planning phases from its tracker and the
  * node counts of its final (post-AQE) physical plan. */
final case class PlanRec(phases: Seq[(String, Long, Long)], exchanges: Int,
                         broadcasts: Int, smj: Int, bhj: Int,
                         filesRead: Long, filesTotal: Long) {
  private def ms(p: String) =
    phases.collect { case (`p`, s, e) => (e - s).toDouble }.sum
  def analysisMs: Double = ms("analysis")
  def optimizeMs: Double = ms("optimization")
  def planningMs: Double = ms("planning")
}

/** Everything the listeners delivered while one op ran. */
final case class OpEvents(jobs: Seq[JobRec], stages: Seq[StageRec],
                          plans: Seq[PlanRec], failures: Seq[String])

/** Spark listener plus query-execution listener. It buffers what arrives
  * between two [[take]] calls; the caller runs one op at a time, so each
  * buffer belongs to exactly one op. Task failures are attributed through
  * the job group the caller sets per op. */
final class Probe(spark: SparkSession) extends SparkListener
    with QueryExecutionListener {
  private val jobStarts = mutable.Map.empty[Int, (String, Long)]
  private val stageGroup = mutable.Map.empty[Int, String]
  private val jobs = mutable.ArrayBuffer.empty[JobRec]
  private val stages = mutable.LinkedHashMap.empty[Int, StageRec]
  private val plans = mutable.ArrayBuffer.empty[PlanRec]
  private val failures = mutable.ArrayBuffer.empty[String]

  spark.sparkContext.addSparkListener(this)
  spark.listenerManager.register(this)

  /** Wait for the listener bus, then hand over and clear the buffers. */
  def take(): OpEvents = {
    BenchBus.drain(spark.sparkContext)
    synchronized {
      val out = OpEvents(jobs.toSeq, stages.values.toSeq, plans.toSeq,
        failures.toSeq)
      jobs.clear(); stages.clear(); plans.clear(); failures.clear()
      out
    }
  }

  /** Count the analysis of a frame built by the caller: the DataFrame API
    * analyzes while a query is assembled, and the write that executes it
    * does not analyze again. */
  def addAnalysis(qe: QueryExecution): Unit = synchronized {
    plans += PlanRec(qe.tracker.phases.get("analysis").toSeq.map(p =>
      ("analysis", p.startTimeMs, p.endTimeMs)), 0, 0, 0, 0, 0L, 0L)
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val g = Option(e.properties)
      .flatMap(p => Option(p.getProperty("spark.jobGroup.id"))).getOrElse("")
    jobStarts(e.jobId) = (g, e.time)
    e.stageIds.foreach(stageGroup(_) = g)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    val (g, t0) = jobStarts.remove(e.jobId).getOrElse(("", e.time))
    if (e.jobResult != JobSucceeded) failures += s"[$g] job ${e.jobId}: ${e.jobResult}"
    jobs += JobRec(e.jobId, t0, e.time)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val s = stages.getOrElseUpdate(e.stageId, new StageRec(e.stageId))
    s.tasks += 1
    s.durationsMs += e.taskInfo.duration
    val m = e.taskMetrics
    if (m != null) {
      s.runMs += m.executorRunTime
      s.cpuNs += m.executorCpuTime
      s.gcMs += m.jvmGCTime
      s.inBytes += m.inputMetrics.bytesRead
      s.shRead += m.shuffleReadMetrics.totalBytesRead
      s.shWrite += m.shuffleWriteMetrics.bytesWritten
      s.spill += m.memoryBytesSpilled + m.diskBytesSpilled
      s.peakMem = s.peakMem max m.peakExecutionMemory
    }
    e.reason match {
      case Success => ()
      case r: TaskFailedReason =>
        failures += s"[${stageGroup.getOrElse(e.stageId, "")}] stage ${e.stageId}: " +
          r.toErrorString.linesIterator.take(3).mkString(" | ")
      case r =>
        failures += s"[${stageGroup.getOrElse(e.stageId, "")}] stage ${e.stageId}: $r"
    }
  }

  override def onSuccess(funcName: String, qe: QueryExecution, ns: Long): Unit = {
    val r = Probe.planRec(qe)
    synchronized { plans += r }
  }

  override def onFailure(funcName: String, qe: QueryExecution, ex: Exception): Unit = {
    val r = Probe.planRec(qe)
    synchronized { plans += r }
  }
}

object Probe extends AdaptiveSparkPlanHelper {
  private val V2Files = """GraftScan \S+ v\d+ files=(\d+)/(\d+)""".r

  private def planRec(qe: QueryExecution): PlanRec = {
    val phases = qe.tracker.phases.toSeq.map { case (n, p) =>
      (n, p.startTimeMs, p.endTimeMs) }
    val nodes: Seq[SparkPlan] =
      Try(collectWithSubqueries(qe.executedPlan) { case n => n }).getOrElse(Nil)
    val graftScans = nodes.collect {
      case s: FileSourceScanExec if s.relation.location.isInstanceOf[GraftFileIndex] => s
    }
    // Snapshots with deletion vectors, and every read under a write command
    // (the noop sink included), plan through the DSv2 scan instead; it
    // reports its pruned and total file counts in its description.
    val v2Scans = Try(qe.optimizedPlan.collectWithSubqueries {
      case r: DataSourceV2ScanRelation => r.scan
    }).getOrElse(Nil).collect {
      case w: V1ScanWrapper if w.v1Scan.isInstanceOf[GraftV1Scan] => w.v1Scan.description()
      case g: GraftV1Scan => g.description()
    }.flatMap(d =>
      V2Files.findFirstMatchIn(d).map(m => (m.group(1).toLong, m.group(2).toLong)))
    PlanRec(phases,
      exchanges = nodes.count(_.isInstanceOf[ShuffleExchangeLike]),
      broadcasts = nodes.count(_.isInstanceOf[BroadcastExchangeLike]),
      smj = nodes.count(_.isInstanceOf[SortMergeJoinExec]),
      bhj = nodes.count(_.isInstanceOf[BroadcastHashJoinExec]),
      filesRead = graftScans.map(_.metrics.get("numFiles").map(_.value).getOrElse(0L)).sum +
        v2Scans.map(_._1).sum,
      filesTotal = graftScans.map(_.relation.location.inputFiles.length.toLong).sum +
        v2Scans.map(_._2).sum)
  }
}

/** A timed call boundary. Times are epoch ms on one clock shared with the
  * listener's job times. `op` ties the spans of one op together. */
final case class Span(id: Int, parent: Int, op: Int, layer: String,
                      name: String, startMs: Double, endMs: Double) {
  def durMs: Double = endMs - startMs
}

/** Span recorder. Disabled, [[span]] only runs its body. Spans stay in
  * memory and are written out when the run ends. */
final class Tracer(val enabled: Boolean) {
  private val epoch0 = System.currentTimeMillis().toDouble
  private val nano0 = System.nanoTime()
  def nowMs: Double = epoch0 + (System.nanoTime() - nano0) / 1e6

  val spans = mutable.ArrayBuffer.empty[Span]
  private var stack = List.empty[Int]
  private var nextId = 1
  var op = 0

  def span[T](layer: String, name: String)(body: => T): T =
    if (!enabled) body
    else {
      val id = nextId; nextId += 1
      val parent = stack.headOption.getOrElse(0)
      stack = id :: stack
      val t0 = nowMs
      try body
      finally {
        stack = stack.tail
        spans += Span(id, parent, op, layer, name, t0, nowMs)
      }
    }

  /** Attach the op's Spark jobs and planning phases under the innermost
    * benchmark span of the op that contains their start. */
  def attach(ev: OpEvents): Unit = if (enabled) {
    val mine = spans.filter(_.op == op).toSeq
    def parentOf(t: Double): Int = mine
      .filter(s => s.startMs <= t && t <= s.endMs)
      .sortBy(s => -s.startMs).headOption.map(_.id).getOrElse(0)
    def add(name: String, s: Double, e: Double): Unit = {
      spans += Span(nextId, parentOf(s), op, "spark", name, s, e); nextId += 1
    }
    ev.jobs.foreach(j => add(s"job ${j.id}", j.startMs.toDouble, j.endMs.toDouble))
    ev.plans.flatMap(_.phases).foreach { case (n, s, e) => add(n, s.toDouble, e.toDouble) }
  }

  /** Self time per layer: each span's duration minus the union of its
    * children's intervals. */
  def selfMsByLayer(ops: Set[Int]): Map[String, Double] = {
    val kids = spans.groupBy(_.parent)
    spans.toSeq.filter(s => ops(s.op)).map { s =>
      val covered = Stats.unionMs(kids.getOrElse(s.id, Nil).toSeq
        .map(c => (c.startMs max s.startMs, c.endMs min s.endMs)))
      s.layer -> (s.durMs - covered).max(0.0)
    }.groupMapReduce(_._1)(_._2)(_ + _)
  }
}

object Stats {
  /** Total length of the union of intervals. */
  def unionMs(iv: Seq[(Double, Double)]): Double = {
    var total = 0.0; var curS = Double.NaN; var curE = Double.NaN
    iv.filter(i => i._2 > i._1).sortBy(_._1).foreach { case (s, e) =>
      if (curE.isNaN || s > curE) {
        if (!curE.isNaN) total += curE - curS
        curS = s; curE = e
      } else curE = curE max e
    }
    if (!curE.isNaN) total += curE - curS
    total
  }

  /** Median of a non-empty sample. */
  def median(xs: Seq[Double]): Double = {
    val v = xs.sorted
    (v((v.size - 1) / 2) + v(v.size / 2)) / 2
  }

  /** The highest percentile with at least `beyond` samples above it, or
    * None when the sample is too small for one. */
  def tail(xs: Seq[Double], beyond: Int = 10): Option[(Double, Double)] =
    if (xs.size <= beyond) None
    else {
      val q = (xs.size - beyond).toDouble / xs.size
      Some((q * 100, xs.sorted.apply(xs.size - beyond - 1)))
    }
}
