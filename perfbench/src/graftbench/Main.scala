package graftbench

import java.io.File
import java.nio.file.{Files, Paths}
import java.security.MessageDigest
import org.apache.spark.sql.SparkSession
import scala.util.control.NonFatal

/** What a workload hands back besides the ops the harness recorded. */
final case class Outcome(passWall: Seq[Double], opLatency: Seq[Double],
                         e2e: Seq[Metric], layers: Seq[Metric],
                         notes: Seq[(String, String)])

/** Benchmark entry point; `perfbench/run.py` builds and launches it.
  *
  * {{{
  *   Main --workload lakehouse_daily|analytics_sf001 --seed N --seconds S
  *        --trace 0|1 --size full|tiny --work DIR --result FILE
  *        [--expected FILE] [--write-expected 1] [--provenance JSON]
  * }}}
  *
  * Writes one result file holding every end-to-end metric, the per-layer
  * metrics of a traced run, the failures with their op keys, and the run's
  * provenance. A traced run also writes `<result>.trace.json` with its
  * spans. Exits 1 without writing a result when set-up fails. */
object Main {
  /** The `analytics_sf001` query mix. */
  val AnalyticsKeys: Seq[String] = Seq(
    "agg_daily_top_titles", "agg_daily_top_editors", "topk_other_bucket",
    "join_star", "join_asof", "join_range_binned", "win_session", "tpch_q21",
    "sub_scalar_corr", "scan_table_changes", "scan_bloom_skipping", "delete_where_dv",
    "text_contamination", "try_funcs", "agg_mode_median")

  /** A run makes one timed pass per this many seconds of `--seconds`, at
    * least one: a pass count that does not depend on how fast the run goes.
    * At the benchmark's 20 s that is three lakehouse passes (about 10 s
    * each on 4 cores, after two warm passes) and one analytics pass (about
    * 10 s). */
  val LakehousePassS = 10.0
  val AnalyticsPassS = 10.0

  def main(argv: Array[String]): Unit = {
    val a = argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = a("workload")
    val seed = a("seed").toLong
    val seconds = a("seconds").toDouble
    def passesOf(nominalS: Double): Int = math.max(1, math.round(seconds / nominalS).toInt)
    val traced = a("trace") == "1"
    val tiny = a.getOrElse("size", "full") == "tiny"
    val work = new File(a("work")).getAbsolutePath
    val cores = Runtime.getRuntime.availableProcessors
    val jvmStartMs = java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime

    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .config("spark.local.dir", s"$work/local")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    graft.Quiet.storageShutdownRace()
    val h = new Harness(spark, new Tracer(traced), cores)

    val (outcome, inputs) =
      try workload match {
        case "lakehouse_daily" =>
          val o = Lakehouse.run(h, work, seed, passesOf(LakehousePassS),
            days = if (tiny) 2 else 3, perDay = if (tiny) 3000 else 10000,
            warmPasses = if (tiny) 1 else 2)
          (o, new File(work, "raw"))
        case "analytics_sf001" =>
          val data = new File(a("data")).getAbsolutePath
          val o = Analytics.run(h, AnalyticsKeys, data, a("expected"), seed,
            passesOf(AnalyticsPassS),
            a.get("write-expected").contains("1"))
          (o, new File(data))
        case w => sys.error(s"unknown workload $w")
      } catch {
        case NonFatal(e) =>
          System.err.println(s"[perfbench] $workload failed: ${Harness.describe(e)}")
          h.failures.foreach(f => System.err.println(s"[perfbench]   $f"))
          spark.stop(); sys.exit(1)
      }
    if (h.setupFailed) {
      System.err.println(s"[perfbench] $workload set-up failed:")
      h.failures.foreach(f => System.err.println(s"[perfbench]   $f"))
      spark.stop(); sys.exit(1)
    }

    if (a.get("write-expected").contains("1")) { spark.stop(); return }
    val timed = h.ops.filter(_.phase == "timed").toSeq
    val passes = outcome.passWall.size
    val lat = outcome.opLatency
    val tail = Stats.tail(lat)
    val e2e = Seq(
      Metric("setup_s", (timed.map(_.startMs).min - jvmStartMs) / 1e3, "s"),
      Metric("run_s", Stats.median(outcome.passWall), "s"),
      Metric("op_p50_s", Stats.median(lat), "s"),
      Metric("cpu_s", h.cpuS(timed, passes), "s"),
      Metric("error_rate", h.failedOps.toDouble / h.attempted, "ratio"),
      Metric("storage_peak_mb", timed.map(_.storageMb).max, "MB")) ++
      tail.map { case (_, v) => Metric("op_tail_s", v, "s") } ++ outcome.e2e

    val timedIds = timed.map(_.id).toSet
    val layers =
      if (!traced) Nil
      else {
        val self = h.tracer.selfMsByLayer(timedIds).toSeq.sortBy(_._1)
          .map { case (l, ms) => Metric(s"$l.self_s", ms / 1e3 / passes, "s") }
        val tableCalls = h.tracer.spans.filter(s => timedIds(s.op) && s.layer == "table").toSeq
        val jobsUnder = h.tracer.spans.filter(s => s.layer == "spark" && s.name.startsWith("job "))
          .groupBy(_.parent)
        val tableJobs = tableCalls.map(s => jobsUnder.getOrElse(s.id, Nil).toSeq)
        val tableDriver = tableCalls.zip(tableJobs).map { case (s, js) =>
          s.durMs - Stats.unionMs(js.map(j => (j.startMs max s.startMs, j.endMs min s.endMs))) }
        h.sparkLayer(timed, passes) ++ outcome.layers ++ self ++
          (if (tableCalls.isEmpty) Nil else Seq(
            Metric("table.driver_s", tableDriver.sum / 1e3 / tableCalls.size, "s"),
            Metric("table.jobs", tableJobs.map(_.size).sum.toDouble / tableCalls.size, "count"))) ++
          Seq(Metric("trace.run_s", Stats.median(outcome.passWall), "s"))
      }

    val result = a("result")
    val prov = Json.obj(Seq(
      "workload" -> workload, "seed" -> seed, "size" -> (if (tiny) "tiny" else "full"),
      "seconds" -> seconds, "trace" -> traced, "nproc" -> cores,
      "jvm" -> s"${System.getProperty("java.vm.name")} ${System.getProperty("java.version")}",
      "spark" -> spark.version,
      "input_fingerprint" -> fingerprint(inputs)) ++
      a.get("provenance").map(p => "build" -> Json.Raw(p)).toSeq)
    val tailNote = tail.fold("none (fewer than 11 ops)") { case (q, _) =>
      f"p$q%.1f of ${lat.size} ops" }
    val doc = Json.obj(Seq(
      "provenance" -> Json.Raw(prov),
      "correct" -> (h.failedOps == 0),
      "attempted" -> h.attempted,
      "failed" -> h.failedOps,
      "passes" -> passes,
      "pass_wall_s" -> outcome.passWall,
      "op_tail" -> tailNote,
      "metrics" -> Json.Raw(Json.metrics(e2e)),
      "layers" -> Json.Raw(Json.metrics(layers)),
      "notes" -> Json.Raw(Json.obj(outcome.notes)),
      "failures" -> h.failures.toSeq,
      "ops" -> Json.Raw(h.ops.map(o => Json.obj(Seq(
        "phase" -> o.phase, "key" -> o.key, "layer" -> o.layer, "pass" -> o.pass,
        "wall_s" -> o.wallS, "jobs" -> o.ev.jobs.size,
        "cpu_s" -> o.ev.stages.map(_.cpuNs).sum / 1e9,
        "leaked_rdds" -> o.leakedRdds, "error" -> o.error.getOrElse("")))).mkString("[", ",\n", "]"))))
    Files.writeString(Paths.get(result), doc)
    if (traced) {
      val spans = h.tracer.spans.map(s => Json.obj(Seq(
        "id" -> s.id, "parent" -> s.parent, "op" -> s.op, "layer" -> s.layer,
        "name" -> s.name, "start_ms" -> s.startMs, "end_ms" -> s.endMs)))
      Files.writeString(Paths.get(result + ".trace.json"), Json.obj(Seq(
        "provenance" -> Json.Raw(prov), "spans" -> Json.Raw(spans.mkString("[", ",\n", "]")))))
    }
    spark.stop()
  }

  /** Hash of every input file's relative name, size and content. */
  private def fingerprint(root: File): String = {
    def files(f: File): Seq[File] =
      if (f.isDirectory) Option(f.listFiles).toSeq.flatten.sortBy(_.getName).flatMap(files)
      else Seq(f)
    val md = MessageDigest.getInstance("SHA-256")
    for (f <- files(root)) {
      val c = MessageDigest.getInstance("SHA-256").digest(Files.readAllBytes(f.toPath))
      md.update(s"${root.toPath.relativize(f.toPath)}:${f.length}:".getBytes)
      md.update(c)
    }
    md.digest().take(8).map("%02x".format(_)).mkString
  }
}

/** Just enough JSON writing for the result files. */
object Json {
  final case class Raw(json: String)

  def str(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"' => b ++= "\\\""
      case '\\' => b ++= "\\\\"
      case c if c < ' ' => b ++= f"\\u${c.toInt}%04x"
      case c => b += c
    }
    (b += '"').toString
  }

  def value(v: Any): String = v match {
    case Raw(j) => j
    case s: String => str(s)
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case b: Boolean => b.toString
    case n: Int => n.toString
    case n: Long => n.toString
    case xs: Seq[_] => xs.map(value).mkString("[", ", ", "]")
    case other => str(String.valueOf(other))
  }

  def obj(kv: Seq[(String, Any)]): String =
    kv.map { case (k, v) => s"${str(k)}: ${value(v)}" }.mkString("{", ", ", "}")

  def metrics(ms: Seq[Metric]): String =
    obj(ms.map(m => m.name -> Raw(obj(Seq("value" -> m.value, "unit" -> m.unit)))))
}
