package perfbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path}
import scala.collection.mutable
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.col
import graft.etl.{Pipeline, Quality, Sinks, Sources}
import graft.ingest.Fetcher
import Gastos.{Corpus, Gold}

/** One lake under `root`: raw pages, then bronze → silver → gold. */
final class Lake(val root: Path) {
  val raw: Path = root.resolve("raw")
  val bronze: Path = root.resolve("bronze")
  val silver: Path = root.resolve("silver")
  val gold: Path = root.resolve("gold")
  def rawGlob: String = raw.toString + "/*.json"
  def layers: Seq[Path] = Seq(bronze, silver, gold)
  def clear(): Unit = Disk.clean(root)
}

object Disk {
  def clean(p: Path): Unit = {
    if (Files.exists(p)) {
      val all = Files.walk(p)
      try all.sorted(java.util.Comparator.reverseOrder()).iterator.asScala
        .foreach(Files.delete)
      finally all.close()
    }
    Files.createDirectories(p)
  }

  /** (file count, bytes) of the data files below `p` with this suffix. */
  def data(p: Path, suffix: String = ".parquet"): (Int, Long) =
    if (!Files.exists(p)) (0, 0L)
    else {
      val all = Files.walk(p)
      try all.iterator.asScala
        .filter(f => Files.isRegularFile(f) && f.getFileName.toString.endsWith(suffix))
        .foldLeft((0, 0L)) { case ((n, b), f) => (n + 1, b + Files.size(f)) }
      finally all.close()
    }

  /** Every file below `p` with its size: a partition's identity on disk. */
  def listing(p: Path): Set[(String, Long)] =
    if (!Files.exists(p)) Set.empty
    else {
      val all = Files.walk(p)
      try all.iterator.asScala.filter(Files.isRegularFile(_))
        .map(f => (p.relativize(f).toString, Files.size(f))).toSet
      finally all.close()
    }

  def write(p: Path, body: String): Unit =
    Files.write(p, body.getBytes(StandardCharsets.UTF_8))
}

/** The medallion workloads: the whole fetch → gold run, and the
  * one-partition recompute over a built lake. */
final class Medallion(spark: SparkSession, tracer: Option[Tracer], work: Path, seed: Long) {
  import Medallion._

  private def span[A](kind: String, name: String)(body: => A): A =
    tracer.fold(body)(_.timed(kind, name)(body))

  private def traced(stages: Seq[Pipeline.Stage]): Seq[Pipeline.Stage] = tracer match {
    case None => stages
    case Some(_) => stages.map(st => st.copy(run = s => span("stage", st.name)(st.run(s))))
  }

  /** Empty the lake, fetch every envelope page through the stub client,
    * place the legacy and corrupt files beside them, run the medallion. */
  def fullRun(corpus: Corpus, lake: Lake): (Fetcher.Report, Gastos.StubClient, Seq[Pipeline.StageResult]) = {
    lake.clear()
    val client = new Gastos.StubClient(corpus)
    val report = span("stage", "fetch") {
      Fetcher.fetchAll(client, Gastos.BaseUrl, "benchmark-token", lake.raw, Gastos.Slug,
        Gastos.Table, sleep = client.sleep, pageSleepMs = client.Pace, backoffMs = client.Backoff)
    }
    corpus.legacyFiles.foreach { case (name, body) => Disk.write(lake.raw.resolve(name), body) }
    val results = Pipeline.run(spark, traced(Pipeline.medallion(lake.rawGlob,
      lake.bronze.toString, lake.silver.toString, lake.gold.toString)), failFast = true)
    (report, client, results)
  }

  def readGold(lake: Lake, partition: Option[(Int, Int)] = None): Map[(Int, Int, String), Double] = {
    val all = spark.read.parquet(lake.gold.toString)
    partition.fold(all) { case (a, m) => all.where(col("ano") === a && col("mes") === m) }
      .collect().map(r => (r.getAs[Number]("ano").intValue, r.getAs[Number]("mes").intValue,
        r.getAs[String]("nome_orgao")) -> r.getAs[Double]("total_gasto")).toMap
  }

  /** Problems with a finished full run, empty when it is correct. */
  def checkFull(corpus: Corpus, lake: Lake, report: Fetcher.Report,
      results: Seq[Pipeline.StageResult]): Seq[String] = {
    val rows = results.map(r => r.name -> r.metrics.getOrElse("rows_written", -1L)).toMap
    val want = Map("raw_to_bronze" -> corpus.records, "bronze_to_silver" -> corpus.records,
      "silver_to_gold" -> corpus.expectedGold.size.toLong)
    val problems = mutable.ArrayBuffer.empty[String]
    if (report.pagesFetched != corpus.envelopePages || report.stoppedBecause != "exhausted")
      problems += s"fetch: $report"
    want.foreach { case (k, v) => if (rows.get(k) != Some(v)) problems += s"$k rows ${rows.get(k)} != $v" }
    val got = readGold(lake)
    if (got != asMoney(corpus.expectedGold)) problems += s"gold differs from the model (${got.size} rows)"
    problems.toSeq
  }

  /** Layer metrics of one traced full run. */
  def fullLayers(op: Span, lake: Lake, report: Fetcher.Report, client: Gastos.StubClient,
      results: Seq[Pipeline.StageResult]): Map[String, Double] = {
    val stages = children(op)
    val fetch = stages("fetch")
    val ingest = Map("ingest.fetch_s" -> fetch.wallS, "ingest.pages" -> report.pagesFetched.toDouble,
      "ingest.bytes" -> client.bytes.toDouble, "ingest.retries_429" -> client.throttled.toDouble,
      "ingest.backoff_ms" -> client.backoffMs.toDouble)
    val etl = results.zip(Seq(lake.bronze, lake.silver, lake.gold)).flatMap { case (r, dir) =>
      stageLayers(r.name, stages(r.name), r.metrics.getOrElse("rows_written", 0L), Disk.data(dir))
    }
    ingest ++ etl ++ tracer.get.sparkLayers(op)
  }

  private def children(op: Span): Map[String, Span] =
    tracer.get.childrenOf(op).map(s => s.name -> s).toMap

  /** One-partition recomputes over a lake a full run built from `expected`. */
  final class Incremental(lake: Lake, expected: Gold) {
    private val land = work.resolve("land")
    /** The model: per (ano, mes), gold keys → cents. */
    private val model = mutable.HashMap.from(expected.groupBy { case ((a, m, _), _) => (a, m) })

    private def partDir(layer: Path, p: (Int, Int)) = layer.resolve(s"ano=${p._1}/mes=${p._2}")

    /** Land one partition's page in bronze, recompute silver and gold for
      * it, read the published gold back. Returns (time taken, problems,
      * layer metrics). */
    def op(i: Int, p: (Int, Int), n: Int, plant: Boolean): (Took, Seq[String], Map[String, Double]) = {
      Disk.clean(land)
      val (body, recs) = Gastos.landingPage(seed, i, p._1, p._2, n, plant)
      val page = land.resolve(s"${Gastos.Slug}_${Gastos.Table}_op_$i.json")
      val before = if (plant) Some(Seq(lake.silver, lake.gold).map(l => Disk.listing(partDir(l, p))))
        else None
      var rejected: Option[Quality.QualityException] = None
      var landed = -1L
      var results: Seq[Pipeline.StageResult] = Nil
      val sw = Clock.start()
      def recompute(): Map[(Int, Int, String), Double] = {
        Disk.write(page, body)
        landed = span("stage", "land_bronze") {
          Sinks.overwritePartitionsOfCounted(Sources.readRawPages(spark, page.toString), lake.bronze.toString)
        }
        try results = Pipeline.run(spark, traced(Pipeline.incrementalSilverGold(lake.bronze.toString,
          lake.silver.toString, lake.gold.toString, Seq(p))), failFast = true)
        catch { case e: Quality.QualityException => rejected = Some(e) }
        readGold(lake, Some(p))
      }
      val (got, opSpan) = tracer match {
        case None => (recompute(), None)
        case Some(t) => val (g, s) = t.within("op", s"incremental $i")(recompute()); (g, Some(s))
      }
      val took = sw()
      val problems = mutable.ArrayBuffer.empty[String]
      if (landed != n) problems += s"land rows $landed != $n"
      if (plant) {
        if (rejected.isEmpty) problems += "planted null nome_orgao was not rejected"
        val after = Seq(lake.silver, lake.gold).map(l => Disk.listing(partDir(l, p)))
        if (before.get != after) problems += "rejected op changed the partition's silver or gold"
        Seq(lake.silver, lake.gold).map(l => Path.of(l.toString + ".staging"))
          .filter(Files.exists(_)).foreach(s => problems += s"left $s")
      } else {
        if (rejected.nonEmpty) problems += s"clean op rejected: ${rejected.get.getMessage}"
        else model(p) = Gastos.gold(recs)
        val rows = results.map(r => r.name -> r.metrics.getOrElse("rows_written", -1L)).toMap
        if (rows.get("bronze_to_silver_incremental") != Some(n.toLong)) problems += s"silver rows $rows"
        if (rows.get("silver_to_gold_incremental") != Some(model(p).size.toLong)) problems += s"gold rows $rows"
      }
      if (got != asMoney(model(p))) problems += s"gold of $p differs from the model"
      val layers = opSpan.map { s =>
        val st = children(s)
        val etl = (Seq("land_bronze" -> (landed, lake.bronze)) ++
          results.map(r => r.name -> (r.metrics.getOrElse("rows_written", 0L), r.name match {
            case "bronze_to_silver_incremental" => lake.silver
            case _ => lake.gold
          }))).flatMap { case (name, (rows, layer)) =>
            stageLayers(name, st(name), rows, Disk.data(partDir(layer, p)))
          }
        val reject = rejected.map { e =>
          Map("etl.quality.reject_s" -> st("bronze_to_silver_incremental").wallS,
            "etl.quality.violations" -> e.failures.values.sum.toDouble)
        }.getOrElse(Map.empty)
        etl.toMap ++ reject ++ tracer.get.sparkLayers(s, "incremental.")
      }.getOrElse(Map.empty)
      (took, problems.toSeq, layers)
    }

    /** The whole published gold against the model. */
    def checkAll(): Seq[String] =
      if (readGold(lake) == asMoney(model.values.flatten.toMap)) Nil
      else Seq("published gold differs from the model after the run")
  }
}

object Medallion {
  /** Gold as the engine publishes it: exact cents → double, once. */
  def asMoney(g: Gold): Map[(Int, Int, String), Double] = g.map { case (k, c) => k -> c.toDouble / 100 }

  def stageLayers(name: String, s: Span, rows: Long, files: (Int, Long)): Seq[(String, Double)] = Seq(
    s"etl.$name.s" -> s.wallS, s"etl.$name.rows" -> rows.toDouble,
    s"etl.$name.files" -> files._1.toDouble, s"etl.$name.bytes" -> files._2.toDouble,
    s"etl.$name.driver_s" -> s.driverS)
}
