package graftbench

import graft.pipeline.WikiPipeline
import graft.schema.WikiSchemas
import graft.streaming.StreamOps
import graft.table.{GraftTable, MaterializedAgg}
import java.io.{File, FileOutputStream, OutputStreamWriter}
import java.nio.charset.StandardCharsets
import java.time.LocalDate
import java.util.zip.GZIPOutputStream
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQueryProgress, Trigger}
import scala.collection.mutable

/** What the generator wrote for one day. */
final case class RawDay(date: LocalDate, dir: String, lines: Long,
                        valid: Long, bytes: Long, erased: String)

/** Synthetic Wikimedia RecentChange events as gzip NDJSON, one directory
  * per arrival day, in the producer's wire shape (`WikiSchemas.raw`):
  * Zipf(1.1) titles and users, ~10% bots, ~1% malformed lines, a few null
  * ids and duplicate ids, and a share of late events whose event time falls
  * in the previous day. Everything follows from the seed. */
object RawGen {
  val Start: LocalDate = LocalDate.of(2024, 3, 1)
  private val Types = Array("edit", "edit", "edit", "edit", "edit", "edit",
    "edit", "new", "new", "log")
  private val Words = Array("fix", "typo", "ref", "cite", "update", "revert",
    "link", "cat", "infobox", "image", "copyedit", "source")

  private def zipfCdf(n: Int, s: Double = 1.1): Array[Double] = {
    val w = Array.tabulate(n)(r => math.pow(r + 1.0, -s))
    val c = w.scanLeft(0.0)(_ + _).tail
    c.map(_ / c.last)
  }

  private def draw(cdf: Array[Double], u: Double): Int = {
    val i = java.util.Arrays.binarySearch(cdf, u)
    if (i >= 0) i else -i - 1
  }

  def write(root: String, seed: Long, days: Int, perDay: Int): Seq[RawDay] = {
    val rnd = new java.util.SplittableRandom(seed)
    val titles = zipfCdf(20000)
    val users = zipfCdf(4000)
    var nextId = 1L
    (0 until days).map { d =>
      val date = Start.plusDays(d)
      val dayStart = date.toEpochDay * 86400L
      val dir = new File(root, date.toString)
      dir.mkdirs()
      val f = new File(dir, "events.json.gz")
      var valid = 0L
      var bytes = 0L
      val out = new OutputStreamWriter(
        new GZIPOutputStream(new FileOutputStream(f)), StandardCharsets.UTF_8)
      try for (_ <- 0 until perDay) {
        val u = rnd.nextDouble()
        val id =
          if (u < 0.002) "null"
          else if (u < 0.007 && nextId > 1) (nextId - 1 - rnd.nextLong(math.min(nextId - 1, 1000L))).toString
          else { nextId += 1; (nextId - 1).toString }
        val late = d > 0 && rnd.nextDouble() < 0.03
        val ts = dayStart + rnd.nextLong(86400L) - (if (late) 86400L else 0L)
        val b = rnd.nextDouble()
        val bot = if (b < 0.1) "true" else if (b < 0.12) "null" else "false"
        val m = rnd.nextDouble()
        val minor = if (m < 0.05) "" else s""","minor":${m < 0.35}"""
        val comment = Seq.fill(1 + rnd.nextInt(4))(Words(rnd.nextInt(Words.length))).mkString(" ")
        val line =
          s"""{"id":$id,"type":"${Types(rnd.nextInt(Types.length))}",""" +
            s""""title":"Title_${draw(titles, rnd.nextDouble()) + 1}",""" +
            s""""user":"User_${draw(users, rnd.nextDouble()) + 1}","bot":$bot,""" +
            s""""timestamp":$ts,"comment":"$comment"$minor}"""
        val malformed = rnd.nextDouble() < 0.01
        val text = if (malformed) line.substring(0, line.length / 2) else line
        if (!malformed && id != "null") valid += 1
        bytes += text.getBytes(StandardCharsets.UTF_8).length + 1
        out.write(text); out.write('\n')
      } finally out.close()
      // a fixed mtime keeps the input fingerprint a function of the seed
      f.setLastModified(dayStart * 1000L)
      // the erased editor has the same popularity rank whatever the seed,
      // so the size of each erasure does not vary between seeds
      RawDay(date, dir.getPath, perDay, valid, bytes, s"User_${10 + d}")
    }
  }
}

/** The paper's daily flow, D days per pass: curate a day of raw NDJSON into
  * the partitioned graft table, erase one user (a deletion vector), refresh
  * the materialized per-title aggregate, run the day's top-editors query,
  * upsert two days of editor counts into the serving table, and every
  * second day checkpoint the log and compact the serving table. After the
  * last day the curated table's versions drain through the graft stream
  * source into a graft table sink. */
object Lakehouse {
  val MvGroups: Seq[String] = Seq("yyyy", "mm", "dd", "title")
  private val Keys = Seq("dt", "username")

  final class Roots(base: String) {
    val curated = s"$base/curated"
    val mv = s"$base/mv"
    val serving = s"$base/serving"
    val sink = s"$base/sink"
    val ckpt = s"$base/ckpt"
    val all: Seq[String] = Seq(curated, mv, serving, sink)
  }

  private def daySlice(spark: SparkSession, root: String, dates: Seq[LocalDate]): DataFrame = {
    val inDays = dates.map(d => col("yyyy") === d.getYear && col("mm") === d.getMonthValue &&
      col("dd") === d.getDayOfMonth).reduce(_ || _)
    spark.read.format("graft").load(root).filter(inDays)
  }

  /** Non-bot edit counts per (day, editor) over `dates`, stamped `v`. */
  private def editorCounts(df: DataFrame, v: Int): DataFrame =
    df.filter(!coalesce(col("bot"), lit(false)))
      .groupBy(to_date(col("ts")).as("dt"), col("user").as("username"))
      .agg(count(lit(1)).as("edits"))
      .withColumn("v", lit(v))

  /** Wall time of each table and pipeline call, by call, and the size of
    * each refresh's change feed (counted in traced runs only). */
  final class DayTrace {
    val calls = mutable.LinkedHashMap.empty[String, mutable.ArrayBuffer[Double]]
    val cdfRows = mutable.ArrayBuffer.empty[Double]
    def time[T](t: Tracer, layer: String, name: String)(body: => T): T = {
      val t0 = System.nanoTime()
      try t.span(layer, name)(body)
      finally calls.getOrElseUpdate(s"$layer.$name", mutable.ArrayBuffer.empty) +=
        (System.nanoTime() - t0) / 1e9
    }
  }

  /** One pass: D day ops and the stream drain. Returns the day-op wall
    * times, the drain wall time, the rows the stream source delivered and
    * its progress reports. */
  private def pass(h: Harness, phase: String, raw: Seq[RawDay], r: Roots, p: Int,
                   dt: DayTrace): (Seq[Double], Double, Long, Seq[StreamingQueryProgress]) = {
    val spark = h.spark
    val tr = h.tracer
    var lastRefreshV = 0L
    val dayWall = raw.indices.map { d =>
      val day = raw(d)
      h.op(phase, s"day${d + 1}", "pipeline", p) {
        dt.time(tr, "pipeline", "curate_commit") {
          WikiPipeline.runCurateTable(spark, day.dir, r.curated)
        }
        val cur = dt.time(tr, "table", "open") {
          val t = GraftTable.forPath(spark, r.curated); t.latestVersion; t
        }
        dt.time(tr, "table", "delete") { cur.deleteWhere(col("user") === day.erased) }
        val v = dt.time(tr, "table", "mv_refresh") {
          MaterializedAgg.refresh(spark, cur, r.mv, MvGroups, Nil)
        }
        if (tr.enabled && lastRefreshV > 0)
          dt.cdfRows += cur.changesBetween(lastRefreshV, v).count().toDouble
        lastRefreshV = v
        val window = Seq(day.date.minusDays(1), day.date).filter(!_.isBefore(raw.head.date))
        dt.time(tr, "table", "top_editors") {
          editorCounts(daySlice(spark, r.curated, Seq(day.date)), d)
            .orderBy(col("edits").desc, col("username")).limit(20)
            .write.format("noop").mode("overwrite").save()
        }
        val batch = editorCounts(daySlice(spark, r.curated, window), d)
        dt.time(tr, "table", "upsert") {
          if (d == 0) GraftTable.create(spark, r.serving, batch)
          else GraftTable.forPath(spark, r.serving)
            .upsertKeepLatest(batch, Keys, Seq(col("v").desc))
        }
        if ((d + 1) % 2 == 0) {
          dt.time(tr, "table", "checkpoint") { cur.checkpoint() }
          dt.time(tr, "table", "compact") {
            GraftTable.forPath(spark, r.serving).compact(1L << 22)
          }
        }
      }.wallS
    }
    var delivered = 0L
    var progress = Seq.empty[StreamingQueryProgress]
    val drain = h.op(phase, "drain", "streaming", p) {
      val src = dt.time(tr, "table", "stream_source") {
        spark.readStream.format("graft")
          .option("skipChangeCommits", "true")
          .option("maxVersionsPerTrigger", "3")
          .load(r.curated)
      }
      val q = dt.time(tr, "streaming", "tableSink") {
        StreamOps.tableSink(src, r.sink, r.ckpt).trigger(Trigger.AvailableNow()).start()
      }
      q.awaitTermination()
      q.exception.foreach(e => throw e)
      progress = q.recentProgress.toSeq
      delivered = progress.map(_.numInputRows).sum
    }.wallS
    (dayWall, drain, delivered, progress)
  }

  def run(h: Harness, work: String, seed: Long, passes: Int,
          days: Int, perDay: Int, warmPasses: Int): Outcome = {
    val spark = h.spark
    var raw: Seq[RawDay] = Nil
    h.op("setup", "generate", "bench") { raw = RawGen.write(s"$work/raw", seed, days, perDay) }
    // warm: untimed passes on throwaway roots compile every plan and let the
    // JIT settle; pass times keep falling for about 8 day ops after start
    for (w <- 1 to warmPasses) {
      pass(h, "setup", raw, new Roots(s"$work/warm$w"), 0, new DayTrace)
      System.gc()
    }

    val passWall = mutable.ArrayBuffer.empty[Double]
    val dayWall = mutable.ArrayBuffer.empty[Double]
    val drainWall = mutable.ArrayBuffer.empty[Double]
    val dt = new DayTrace
    var lastRoots: Roots = null
    var delivered = 0L
    var progress = Seq.empty[StreamingQueryProgress]
    for (p <- 1 to passes) {
      lastRoots = new Roots(s"$work/pass$p")
      val p0 = System.nanoTime()
      val (dw, drw, n, pr) = pass(h, "timed", raw, lastRoots, p, dt)
      passWall += (System.nanoTime() - p0) / 1e9
      dayWall ++= dw; drainWall += drw; delivered = n; progress = pr
      System.gc()
    }

    check(h, raw, lastRoots, delivered)

    val rawLines = raw.map(_.lines).sum.toDouble
    val validRows = raw.map(_.valid).sum.toDouble
    val rawBytes = raw.map(_.bytes).sum.toDouble
    val live = lastRoots.all.map(snapshotBytes(spark, _)).sum.toDouble
    val written = lastRoots.all.map(dirBytes).sum.toDouble
    val cur = GraftTable.forPath(spark, lastRoots.curated)
    val files = cur.commitAt(cur.latestVersion).files
    def dur(k: String) = progress.flatMap(pr => Option(pr.durationMs.get(k)).map(_.doubleValue))
    def mean(xs: Seq[Double]) = if (xs.isEmpty) 0.0 else xs.sum / xs.size
    Outcome(
      passWall = passWall.toSeq,
      opLatency = dayWall.toSeq,
      e2e = Seq(
        Metric("ingest_rows_per_s", validRows * passes / dayWall.sum, "rows/s"),
        Metric("stream_rows_per_s", delivered * passes / drainWall.sum, "rows/s"),
        Metric("space_amp", live / rawBytes, "ratio"),
        Metric("write_amp", written / rawBytes, "ratio")),
      layers = dt.calls.toSeq.map { case (k, v) => Metric(s"${k}_s", mean(v.toSeq), "s") } ++
        Seq(
          Metric("curate.rows_kept_ratio", validRows / rawLines, "ratio"),
          Metric("table.versions", cur.latestVersion.toDouble, "count"),
          Metric("table.files_live", files.size.toDouble, "count"),
          Metric("table.dv_files", files.count(_.dv.isDefined).toDouble, "count"),
          Metric("table.files_written", dataFiles(lastRoots.curated).toDouble, "count"),
          Metric("streaming.batches", progress.size.toDouble, "count"),
          Metric("streaming.trigger_ms_p50",
            if (progress.isEmpty) 0.0 else Stats.median(dur("triggerExecution")), "ms"),
          Metric("streaming.latest_offset_ms", mean(dur("latestOffset")), "ms"),
          Metric("streaming.get_batch_ms", mean(dur("getBatch")), "ms"),
          Metric("streaming.query_planning_ms", mean(dur("queryPlanning")), "ms"),
          Metric("streaming.add_batch_ms", mean(dur("addBatch")), "ms"),
          Metric("streaming.wal_commit_ms", mean(dur("walCommit")), "ms")) ++
        (if (dt.cdfRows.isEmpty) Nil
         else Seq(Metric("table.mv_cdf_rows", mean(dt.cdfRows.toSeq), "count"))),
      notes = Seq("days" -> days.toString, "events_per_day" -> perDay.toString,
        "series" -> dt.calls.map { case (k, v) =>
          s"$k=" + v.map(x => f"$x%.3f").mkString("/") }.mkString(" ")))
  }

  /** Bytes of the files the latest snapshot references (data and DVs). */
  private def snapshotBytes(spark: SparkSession, root: String): Long = {
    val t = GraftTable.forPath(spark, root)
    t.commitAt(t.latestVersion).files.map { f =>
      new File(root, f.path).length() + f.dv.fold(0L)(p => new File(root, p).length())
    }.sum
  }

  private def walk(root: String): Seq[File] = {
    def go(f: File): Seq[File] =
      if (f.isDirectory) Option(f.listFiles).toSeq.flatten.flatMap(go) else Seq(f)
    go(new File(root))
  }
  private def dirBytes(root: String): Long = walk(root).map(_.length).sum
  private def dataFiles(root: String): Int = walk(root).count(_.getName.endsWith(".parquet"))

  /** Recompute the pass's results from the raw files in plain Spark, with
    * no graft table involved, and compare. One op, so the parsed raw days
    * stay cached across the comparisons. */
  private def check(h: Harness, raw: Seq[RawDay], r: Roots, delivered: Long): Unit =
    h.op("check", "outputs", "bench") {
      val spark = h.spark
      def wrong(what: String, msg: String): Unit = h.mismatch("check", "outputs", s"$what: $msg")
      def expectEq(what: String, got: DataFrame, want: DataFrame): Unit = {
        val (g, w) = (Digest.of(got), Digest.of(want.select(got.columns.toSeq.map(col): _*)))
        if (g != w) wrong(what, s"expected $w, got $g")
      }
      val parsed = raw.map(day => spark.read.schema(WikiSchemas.raw)
        .option("mode", "DROPMALFORMED").json(day.dir)
        .filter(col("id").isNotNull)
        .withColumn("minor", coalesce(col("minor"), lit(false)))
        .withColumn("ts", timestamp_seconds(col("timestamp")))
        .withColumn("yyyy", year(col("ts"))).withColumn("mm", month(col("ts")))
        .withColumn("dd", dayofmonth(col("ts")))
        .persist())
      // The curated table as of the end of day `d`: every raw file up to d,
      // less the rows an erasure on day j removed, which are the rows of
      // that user that had arrived by day j.
      def curatedAsOf(d: Int): DataFrame = (0 to d).map { k =>
        parsed(k).filter(!col("user").isin(raw.slice(k, d + 1).map(_.erased): _*))
      }.reduce(_ unionByName _)
      val expectedCurated = curatedAsOf(raw.size - 1)
      expectEq("curated table", spark.read.format("graft").load(r.curated), expectedCurated)
      expectEq("materialized view", MaterializedAgg.readView(spark, r.mv, MvGroups, Nil),
        expectedCurated.groupBy(MvGroups.map(col): _*).agg(count(lit(1)).as("cnt")))
      // serving: each (dt, editor) as of the last day whose upsert covered it
      val upserts = raw.indices.map { d =>
        val inWindow = Seq(raw(d).date.minusDays(1), raw(d).date)
          .map(w => to_date(col("ts")) === lit(java.sql.Date.valueOf(w))).reduce(_ || _)
        editorCounts(curatedAsOf(d).filter(inWindow), d)
      }.reduce(_ unionByName _)
      val latest = upserts.withColumn("mx", max(col("v")).over(
        org.apache.spark.sql.expressions.Window.partitionBy(Keys.map(col): _*)))
        .filter(col("v") === col("mx")).drop("mx")
      expectEq("serving table", spark.read.format("graft").load(r.serving), latest)
      val sunk = Digest.of(spark.read.format("graft").load(r.sink)).rows
      if (sunk != delivered || delivered == 0)
        wrong("stream sink", s"source delivered $delivered rows, sink holds $sunk")
    }
}
