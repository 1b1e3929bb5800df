package graftbench

import graft.QueryModule
import graft.rel.PinnedInputs
import java.nio.file.{Files, Paths}
import org.apache.spark.sql.{DataFrame, SparkSession}
import scala.collection.mutable

/** A fixed mix of declared query keys over a parquet fixture directory:
  * one untimed warm pass that also checks every result against stored
  * expectations, then timed passes in an order permuted by the seed, each
  * query written in full to the `noop` sink. */
object Analytics {

  /** Every operator module of the engine, in `SparkEntry`'s order. */
  val modules: Seq[QueryModule] = Seq(
    graft.agg.DailyAggregates, graft.rel.ScanFilter, graft.rel.Formats,
    graft.rel.Sketches, graft.rel.VariantFns, graft.rel.Joins, graft.rel.Aggs,
    graft.rel.Windows, graft.rel.SortSet, graft.rel.ScalarFns, graft.rel.Tpch,
    graft.rel.Subqueries, graft.rel.StatsAggs, graft.rel.TimeSeries,
    graft.rel.Graph, graft.rel.Mining, graft.rel.DataQuality, graft.rel.Layout,
    graft.llm.Dedup, graft.llm.Curation, graft.llm.Similarity,
    graft.llm.Retrieval, graft.llm.Eval, graft.llm.Clustering, graft.llm.Text,
    graft.llm.Multimodal, graft.pipeline.PipelineQueries)

  /** "rel.Joins" for a module object `graft.rel.Joins`. */
  def moduleName(m: QueryModule): String =
    m.getClass.getName.stripPrefix("graft.").stripSuffix("$")

  private lazy val byKey: Map[String, (QueryModule, QueryModule#QueryFn)] =
    modules.flatMap(m => m.queries.map { case (k, f) => k -> (m, f) }).toMap

  /** The session-shared pins, built and timed in setup. */
  private val pins: Seq[(String, (SparkSession, String) => DataFrame)] = Seq(
    "tradePairs" -> PinnedInputs.tradePairs,
    "coSupplyPairs" -> PinnedInputs.coSupplyPairs,
    "coSupplyDeg" -> PinnedInputs.coSupplyDeg,
    "coSupplyOriented" -> PinnedInputs.coSupplyOriented)

  def run(h: Harness, keys: Seq[String], dataDir: String, expectedPath: String,
          seed: Long, passes: Int, writeExpected: Boolean): Outcome = {
    val spark = h.spark
    val missing = keys.filterNot(byKey.contains)
    require(missing.isEmpty, s"unknown query keys: ${missing.mkString(", ")}")
    h.keepRdds = () => PinnedInputs.pinnedRddIds(spark)
    def layerOf(k: String) = moduleName(byKey(k)._1).takeWhile(_ != '.')
    def write(k: String, check: Boolean): Option[Digest] = {
      val df = byKey(k)._2(spark, dataDir)
      h.probe.addAnalysis(df.queryExecution)
      if (!check) { df.write.format("noop").mode("overwrite").save(); None }
      else {
        val (o, obs) = Digest.observe(df, s"digest_$k")
        o.write.format("noop").mode("overwrite").save()
        Some(Digest.read(obs))
      }
    }

    // set-up: shared pins, then the warm pass, which checks every output
    val pinBuild = pins.map { case (name, f) =>
      val r = h.op("setup", s"pin.$name", "materialize") {
        f(spark, dataDir).write.format("noop").mode("overwrite").save()
      }
      name -> r.wallS
    }
    val pinnedMb = spark.sparkContext.getRDDStorageInfo
      .filter(r => PinnedInputs.pinnedRddIds(spark)(r.id))
      .map(r => r.memSize + r.diskSize).sum / Harness.MB
    val expected = if (writeExpected) Map.empty[String, Expect]
                   else Expect.load(expectedPath)
    val got = mutable.LinkedHashMap.empty[String, Digest]
    for (k <- keys) {
      var d: Option[Digest] = None
      h.op("warm", k, layerOf(k)) { d = write(k, check = true) }
      d.foreach(got(k) = _)
      if (!writeExpected) (expected.get(k), d) match {
        case (None, _) => h.mismatch("warm", k, "no stored expectation")
        case (Some(e), Some(g)) if !e.matches(g) =>
          h.mismatch("warm", k, s"expected $e, got $g")
        case _ => ()
      }
    }
    System.gc()

    if (writeExpected) {
      // a second digest of each key tells reproducible hashes from
      // order- or time-dependent ones, which are then checked on rows only
      val again = keys.map { k =>
        var d: Option[Digest] = None
        h.op("warm", k, layerOf(k)) { d = write(k, check = true) }
        k -> d
      }.toMap
      Expect.save(expectedPath, dataDir, keys.flatMap { k =>
        got.get(k).map(g => k -> Expect(g.rows, Some(g).filter(x => again(k).contains(x))))
      })
    }

    // timed passes, each in its own seeded order
    val passWall = mutable.ArrayBuffer.empty[Double]
    for (pass <- 1 to (if (writeExpected) 0 else passes)) {
      val order = new scala.util.Random(seed * 1000003L + pass).shuffle(keys)
      val p0 = System.nanoTime()
      for (k <- order) h.op("timed", k, layerOf(k), pass)(write(k, check = false))
      passWall += (System.nanoTime() - p0) / 1e9
      System.gc()
    }

    val timed = h.ops.filter(_.phase == "timed").toSeq
    val perModule = timed.groupMapReduce(o => moduleName(byKey(o.key)._1))(_.wallS)(_ + _)
    Outcome(
      passWall = passWall.toSeq,
      opLatency = timed.map(_.wallS),
      layers = perModule.toSeq.sortBy(_._1).map { case (m, s) =>
        Metric(s"${m}_s", s / passes, "s") } ++
        pinBuild.map { case (n, s) => Metric(s"materialize.pinned_build_s.$n", s, "s") } ++
        Seq(Metric("materialize.pinned_build_s", pinBuild.map(_._2).sum, "s"),
          Metric("materialize.pinned_mb", pinnedMb, "MB"),
          Metric("materialize.leaked_rdds",
            timed.map(_.leakedRdds).sum.toDouble / passes, "count")),
      e2e = Nil,
      notes = Seq("keys" -> keys.mkString(","), "data" -> dataDir))
  }
}

/** A stored expectation: row count always, content hash where the
  * result is reproducible. */
final case class Expect(rows: Long, digest: Option[Digest]) {
  def matches(d: Digest): Boolean = digest.fold(rows == d.rows)(_ == d)
  override def toString: String = digest.fold(s"rows=$rows")(_.toString)
}

object Expect {
  def load(path: String): Map[String, Expect] = {
    val root = new com.fasterxml.jackson.databind.ObjectMapper()
      .readTree(new java.io.File(path))
    val keys = root.get("keys")
    keys.fieldNames().asScala.map { k =>
      val n = keys.get(k)
      k -> Expect(n.get("rows").asLong(),
        if (n.hasNonNull("sum"))
          Some(Digest(n.get("rows").asLong(), n.get("sum").asLong(), n.get("xor").asLong()))
        else None)
    }.toMap
  }

  def save(path: String, dataDir: String, es: Seq[(String, Expect)]): Unit = {
    val body = es.map { case (k, e) =>
      val h = e.digest.fold("")(d => s""", "sum": ${d.sum}, "xor": ${d.xor}""")
      s"""    "$k": {"rows": ${e.rows}$h}"""
    }.mkString(",\n")
    Files.writeString(Paths.get(path),
      s"""{\n  "data": "${Paths.get(dataDir).getFileName}",\n  "keys": {\n$body\n  }\n}\n""")
  }

  private implicit class JIter[T](it: java.util.Iterator[T]) {
    def asScala: Iterator[T] = scala.jdk.CollectionConverters.IteratorHasAsScala(it).asScala
  }
}
