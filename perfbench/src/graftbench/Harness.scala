package graftbench

import org.apache.spark.sql.SparkSession
import scala.collection.mutable
import scala.util.control.NonFatal

/** One executed op: a fully materialized query, a pipeline day, a stream
  * drain or an output check. `phase` is "setup", "warm", "timed" or
  * "check"; all but set-up ops count as attempted. */
final case class OpRec(id: Int, phase: String, key: String, layer: String, pass: Int,
                       wallS: Double, startMs: Double, endMs: Double,
                       ev: OpEvents, storageMb: Double, leakedRdds: Int,
                       error: Option[String])

/** Runs ops one at a time (a closed loop with one op in flight), each under
  * its own job group, and records their wall time, the listener events
  * they caused, storage in use after them and any failure. */
final class Harness(val spark: SparkSession, val tracer: Tracer,
                    val cores: Int) {
  val probe = new Probe(spark)
  private val sc = spark.sparkContext
  val ops = mutable.ArrayBuffer.empty[OpRec]
  /** Failures with the op key and phase they belong to. */
  val failures = mutable.ArrayBuffer.empty[String]
  /** Ops whose output check failed. */
  val wrong = mutable.LinkedHashSet.empty[String]

  /** RDDs the run keeps on purpose (session-shared pins). */
  var keepRdds: () => Set[Int] = () => Set.empty

  def op(phase: String, key: String, layer: String, pass: Int = 0)
        (body: => Unit): OpRec = {
    tracer.op += 1
    sc.setJobGroup(s"op${tracer.op}:$key", s"$phase $key")
    val t0 = tracer.nowMs
    val n0 = System.nanoTime()
    val err =
      try { tracer.span(layer, key)(body); None }
      catch { case NonFatal(e) => Some(Harness.describe(e)) }
    val wall = (System.nanoTime() - n0) / 1e9
    val t1 = tracer.nowMs
    sc.clearJobGroup()
    val ev = probe.take()
    tracer.attach(ev)
    val storage = sc.getRDDStorageInfo.map(r => r.memSize + r.diskSize).sum / Harness.MB
    val keep = keepRdds()
    val leaked = sc.getPersistentRDDs.keys.count(id => !keep(id))
    release(keep)
    err.foreach(e => failures += s"$phase $key: $e")
    ev.failures.foreach(f => failures += s"$phase $key: $f")
    val r = OpRec(tracer.op, phase, key, layer, pass, wall, t0, t1, ev, storage, leaked, err)
    ops += r
    r
  }

  /** Record a wrong output for `key`, which makes its op count as failed. */
  def mismatch(phase: String, key: String, msg: String): Unit = {
    wrong += s"$phase $key"
    failures += s"$phase $key: wrong output: $msg"
  }

  /** Drop everything an op left persisted, except the run's own pins. */
  private def release(keep: Set[Int]): Unit = {
    sc.getPersistentRDDs.values.filterNot(r => keep(r.id))
      .foreach(_.unpersist(blocking = true))
    spark.sharedState.cacheManager.clearCache()
  }

  def attempted: Int = ops.count(_.phase != "setup")
  def failedOps: Int = ops.count(o => o.phase != "setup" &&
    (o.error.nonEmpty || wrong(s"${o.phase} ${o.key}")))
  def setupFailed: Boolean = ops.exists(o => o.phase == "setup" && o.error.nonEmpty)

  /** Spark-layer metrics over `timed`, per pass. */
  def sparkLayer(timed: Seq[OpRec], passes: Int): Seq[Metric] = {
    val p = passes.toDouble
    val stages = timed.flatMap(_.ev.stages)
    val plans = timed.flatMap(_.ev.plans)
    val jobs = timed.flatMap(_.ev.jobs)
    def jobWallMs(o: OpRec) = Stats.unionMs(o.ev.jobs.map(j =>
      (j.startMs.toDouble max o.startMs, j.endMs.toDouble min o.endMs)))
    val jobWallS = timed.map(jobWallMs).sum / 1e3
    val taskS = stages.map(_.runMs).sum / 1e3
    val skew = stages.filter(_.durationsMs.size >= 2).map { s =>
      val d = s.durationsMs.map(_.toDouble).toSeq
      d.max / Stats.median(d).max(1.0)
    }
    Seq(
      Metric("spark.analysis_s", plans.map(_.analysisMs).sum / 1e3 / p, "s"),
      Metric("spark.optimize_s", plans.map(_.optimizeMs).sum / 1e3 / p, "s"),
      Metric("spark.planning_s", plans.map(_.planningMs).sum / 1e3 / p, "s"),
      Metric("spark.driver_s", timed.map(_.wallS).sum / p - jobWallS / p, "s"),
      Metric("spark.jobs", jobs.size / p, "count"),
      Metric("spark.stages", stages.size / p, "count"),
      Metric("spark.tasks", stages.map(_.tasks).sum / p, "count"),
      Metric("spark.task_run_s", taskS / p, "s"),
      Metric("spark.cpu_s", stages.map(_.cpuNs).sum / 1e9 / p, "s"),
      Metric("spark.gc_s", stages.map(_.gcMs).sum / 1e3 / p, "s"),
      Metric("spark.scan_mb", stages.map(_.inBytes).sum / Harness.MB / p, "MB"),
      Metric("spark.shuffle_write_mb", stages.map(_.shWrite).sum / Harness.MB / p, "MB"),
      Metric("spark.shuffle_read_mb", stages.map(_.shRead).sum / Harness.MB / p, "MB"),
      Metric("spark.spill_mb", stages.map(_.spill).sum / Harness.MB / p, "MB"),
      Metric("spark.peak_exec_mem_mb",
        (0L +: stages.map(_.peakMem)).max / Harness.MB, "MB"),
      Metric("spark.exchanges", plans.map(_.exchanges).sum / p, "count"),
      Metric("spark.broadcasts", plans.map(_.broadcasts).sum / p, "count"),
      Metric("spark.smj", plans.map(_.smj).sum / p, "count"),
      Metric("spark.bhj", plans.map(_.bhj).sum / p, "count"),
      Metric("spark.core_idle_ratio",
        if (jobWallS <= 0) 0.0 else 1.0 - taskS / (cores * jobWallS), "ratio"),
      Metric("spark.stage_skew", (1.0 +: skew).max, "ratio"),
      Metric("table.scan_files_read", plans.map(_.filesRead).sum / p, "count"),
      Metric("table.scan_files_total", plans.map(_.filesTotal).sum / p, "count"))
  }

  /** Executor CPU summed over the tasks of `timed`, per pass. */
  def cpuS(timed: Seq[OpRec], passes: Int): Double =
    timed.flatMap(_.ev.stages).map(_.cpuNs).sum / 1e9 / passes
}

final case class Metric(name: String, value: Double, unit: String)

object Harness {
  val MB: Double = 1024.0 * 1024.0

  def describe(e: Throwable): String = {
    val root = Iterator.iterate(e)(_.getCause).takeWhile(_ != null).toSeq.last
    val msg = s"${e.getClass.getName}: ${e.getMessage}"
    (if (root eq e) msg else s"$msg (root: ${root.getClass.getName}: ${root.getMessage})")
      .linesIterator.take(3).mkString(" | ")
  }
}
