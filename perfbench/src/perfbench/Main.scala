package perfbench

import java.io.PrintWriter
import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path}
import java.util.SplittableRandom
import scala.collection.mutable
import org.apache.spark.sql.SparkSession
import graft.GraftSession

/** Benchmark of the medallion run, its one-partition recompute and a
  * fixed query mix. See perfbench/README.md for the workloads, the
  * metrics and the layer → metric map.
  *
  * Usage: Main --workload W --seed N --seconds S --trace 0|1
  *             --root CHECKOUT --work DIR --reports DIR
  * Prints report lines, then one JSON result as the last stdout line. */
object Main {

  val Workloads = Seq("medallion", "query_mix")
  /** 18 fetched pages and 1 legacy page: the reference's legacy share,
    * 55 of 1,021 raw files (5.4 %), at the nearest whole page. */
  val FullPages = 18
  val LegacyPages = 1
  /** Set-ups per run: session plus warm-up pass, the first one cold. */
  val Setups = 3
  val FullRuns = 4
  val IncrementalOps = 11
  val Sweeps = 4

  val EtlStages = Seq("raw_to_bronze", "bronze_to_silver", "silver_to_gold", "land_bronze",
    "bronze_to_silver_incremental", "silver_to_gold_incremental")

  private def engineLayers(infix: String): Seq[(String, String)] =
    Seq("analysis_s", "optimization_s", "planning_s").map(k => s"catalyst.$infix$k" -> "s") ++
      Seq(s"catalyst.${infix}codegen_compiles" -> "count") ++
      Seq("jobs" -> "count", "stages" -> "count", "tasks" -> "count", "busy_frac" -> "frac",
        "task_s" -> "s", "gc_s" -> "s", "shuffle_write_bytes" -> "bytes", "shuffle_records" -> "count",
        "input_bytes" -> "bytes", "output_bytes" -> "bytes").map { case (k, u) => s"spark.$infix$k" -> u }

  /** Every per-layer metric with its unit, in report order. */
  val PerLayer: Seq[(String, String)] =
    Seq("ingest.fetch_s" -> "s", "ingest.pages" -> "count", "ingest.bytes" -> "bytes",
      "ingest.retries_429" -> "count", "ingest.backoff_ms" -> "ms") ++
      EtlStages.flatMap(st => Seq(s"etl.$st.s" -> "s", s"etl.$st.rows" -> "count",
        s"etl.$st.files" -> "count", s"etl.$st.bytes" -> "bytes", s"etl.$st.driver_s" -> "s")) ++
      Seq("etl.quality.reject_s" -> "s", "etl.quality.violations" -> "count") ++
      engineLayers("") ++ engineLayers("incremental.") ++
      QueryMix.Names.flatMap(q => Seq(s"query.$q.s" -> "s", s"query.$q.jobs" -> "count"))

  /** Exact counts of a full run that must repeat between warm runs. */
  private val CountKeys = Seq("jobs", "stages", "tasks", "shuffle_records").map("spark." + _) ++
    Seq("raw_to_bronze", "bronze_to_silver", "silver_to_gold").flatMap(st => Seq(s"etl.$st.rows", s"etl.$st.files"))

  /** What one workload run measured. */
  final class Outcome {
    /** Time of each set-up; the first counts from JVM start. */
    val setups = mutable.ArrayBuffer.empty[Took]
    /** Time taken by each of the workload's ops and of its smallest ops. */
    val ops = mutable.ArrayBuffer.empty[Took]
    val smallOps = mutable.ArrayBuffer.empty[Took]
    /** The gated figures for ops and smallest ops, set by the workload. */
    var opS = 0.0
    var smallOpS = 0.0
    var attempted = 0
    var failed = 0
    var setupOk = true
    val extra = mutable.LinkedHashMap.empty[String, (String, mutable.ArrayBuffer[Double])]
    val notes = mutable.ArrayBuffer.empty[String]
    val layers = mutable.ArrayBuffer.empty[Map[String, Double]]
    /** Per op: exact counts, keyed by what they count. */
    val counts = mutable.ArrayBuffer.empty[Map[String, Double]]

    def sample(name: String, unit: String, v: Double): Unit =
      extra.getOrElseUpdate(name, (unit, mutable.ArrayBuffer.empty))._2 += v

    def samples(name: String, unit: String, xs: Seq[Double]): Unit =
      extra(name) = (unit, mutable.ArrayBuffer.from(xs))

    def fail(what: String, problems: Seq[String]): Unit =
      if (problems.nonEmpty) {
        failed += 1
        problems.foreach(p => System.err.println(s"[perfbench] $what: $p"))
      }
  }

  def main(args: Array[String]): Unit = {
    val o = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = o("workload")
    val seed = o("seed").toLong
    val seconds = o("seconds").toDouble
    val trace = o("trace") == "1"
    val root = Path.of(o("root"))
    val work = Path.of(o("work"))
    val reports = Path.of(o("reports"))
    require(Workloads.contains(workload), s"unknown workload $workload")
    Files.createDirectories(reports)

    val jvmStartMs = ManagementFactory.getRuntimeMXBean.getStartTime
    val gen = Clock.start()
    val corpus = if (workload == "medallion") Some(new Gastos.Corpus(seed, FullPages, LegacyPages)) else None
    corpus.foreach { c => c.bodies; c.expectedGold }
    val deterministic = corpus.forall(c => Gastos.deterministic(seed, c.envelopePages))
    val genTook = gen()
    System.err.println(f"[perfbench] corpus generated in ${genTook.wallS}%.2f s")

    val cores = Runtime.getRuntime.availableProcessors()
    val out = new Outcome
    // Each set-up builds a session through the front door and runs the
    // workload's warm-up pass on it; the previous session is stopped first,
    // outside the timing. The first set-up counts from JVM start.
    var spark: SparkSession = null
    for (k <- 0 until Setups) {
      if (spark != null) {
        spark.stop()
        SparkSession.clearActiveSession()
        SparkSession.clearDefaultSession()
      }
      val sw = Clock.start()
      spark = GraftSession.create(parallelism = cores, appName = "perfbench")
      spark.sparkContext.setLogLevel("WARN")
      val problems =
        try if (workload == "medallion") medallionWarmUp(spark, work, seed, corpus.get) else queryMixWarmUp(spark, root, k, QueryMix.order(seed))
        catch { case e: Exception => Seq(s"threw $e") }
      out.setups += (if (k > 0) sw()
        else Took((System.currentTimeMillis - jvmStartMs) / 1000.0 - genTook.wallS, Clock.cpuS - genTook.cpuS))
      if (problems.nonEmpty) out.setupOk = false
      problems.foreach(p => System.err.println(s"[perfbench] set-up $k: $p"))
    }
    val tracePath = reports.resolve(s"trace-$workload-seed$seed.jsonl")
    val tracer = if (trace) Some(new Tracer(spark, new PrintWriter(tracePath.toFile, "UTF-8"))) else None

    if (workload == "medallion") medallion(spark, tracer, work, seed, seconds, corpus.get, out)
    else queryMix(spark, tracer, root, QueryMix.order(seed), seconds, out)
    tracer.foreach(_.stop())
    val rss = Report.peakRssMb
    spark.stop()

    val setupS = median(out.setups.map(_.wallS))
    val correct = deterministic && out.setupOk && out.failed == 0
    if (!deterministic) System.err.println("[perfbench] generator: same seed gave other bytes, or seeds collide")
    for ((name, f) <- Seq("setup_s" -> ((t: Took) => t.wallS), "setup_cpu_s" -> ((t: Took) => t.cpuS))) {
      val v = out.setups.map(f).toSeq
      println(Report.line(workload, name, "s", v) + v.map(x => f"$x%.3f").mkString(" samples=", ",", ""))
    }
    println(Report.line(workload, "cold_setup_s", "s", out.setups.take(1).map(_.wallS).toSeq))
    for ((name, xs) <- Seq("op" -> out.ops, "small_op" -> out.smallOps); (kind, f) <- Seq(
        "_s" -> ((t: Took) => t.wallS), "_cpu_s" -> ((t: Took) => t.cpuS))) {
      val v = xs.map(f).toSeq
      println(Report.line(workload, s"$name${kind}_samples", "s", v) + v.map(x => f"$x%.3f").mkString(" samples=", ",", ""))
    }
    println(f"[perfbench] $workload op_s=${out.opS}%.4f s small_op_s=${out.smallOpS}%.4f s")
    out.extra.foreach { case (name, (unit, xs)) => println(Report.line(workload, name, unit, xs.toSeq)) }
    out.notes.foreach(n => println(s"[perfbench] $workload $n"))
    println(Report.line(workload, "peak_rss_mb", "MB", Seq(rss)))
    println(f"[perfbench] $workload failed_frac=${out.failed.toDouble / (out.attempted max 1)}%.4f " +
      s"attempted=${out.attempted} failed=${out.failed} correct=$correct")
    if (trace) {
      countReport(workload, seed, reports, out.counts.toSeq)
      println(s"[perfbench] $workload trace written to $tracePath")
    }

    val metrics =
      if (!trace) Seq(("setup_s", setupS, "s"), ("op_s", out.opS, "s"), ("small_op_s", out.smallOpS, "s"))
      else PerLayer.map { case (k, unit) => (k, median(out.layers.flatMap(_.get(k))), unit) }
    println(s"""{"correct":$correct,"attempted":${out.attempted max 1},"failed":${out.failed},""" +
      s""""metrics":${Report.json(metrics)}}""")
  }

  private def median(xs: Iterable[Double]): Double = if (xs.isEmpty) 0.0 else Report.median(xs.toSeq)

  /** Run ops until `seconds` have passed (at least `min` ops), each
    * after an untimed full GC so no op pays for its predecessor's garbage. */
  private def measure(seconds: Double, min: Int)(op: Int => Unit): Unit = {
    val t0 = System.nanoTime()
    var i = 0
    while (i < min || (System.nanoTime() - t0) / 1e9 < seconds) { System.gc(); op(i); i += 1 }
  }

  private def guarded(out: Outcome, what: String)(body: => Unit): Unit =
    try body catch { case e: Exception => out.fail(what, Seq(s"threw $e")) }

  private def pick(rnd: SplittableRandom): ((Int, Int), Int) =
    (Gastos.Partitions(rnd.nextInt(Gastos.Partitions.size)), 80 + rnd.nextInt(41))

  /** Medallion warm-up pass: one full run over the corpus, checked. */
  def medallionWarmUp(spark: SparkSession, work: Path, seed: Long, corpus: Gastos.Corpus): Seq[String] = {
    val m = new Medallion(spark, None, work, seed)
    val warm = new Lake(work.resolve("warmup"))
    val (report, _, results) = m.fullRun(corpus, warm)
    val found = m.checkFull(corpus, warm, report, results)
    warm.clear()
    found
  }

  /** Rounds of one full fetch → gold run followed by one-partition
    * recomputes over the lake it published, so that the samples of both
    * ops spread over the whole measured time. Runs for `2 * seconds`, and
    * at least `FullRuns` full runs and `IncrementalOps` recomputes. */
  def medallion(spark: SparkSession, tracer: Option[Tracer], work: Path, seed: Long,
      seconds: Double, corpus: Gastos.Corpus, out: Outcome): Unit = {
    val m = new Medallion(spark, tracer, work, seed)
    val rnd = new SplittableRandom(seed * 31 + 7)
    val lake = new Lake(work.resolve("full"))
    val t0 = System.nanoTime()
    var round = 0
    var i = 0
    var plantAt = -1
    while (round < FullRuns || (System.nanoTime() - t0) / 1e9 < 2 * seconds) {
      System.gc()
      out.attempted += 1
      guarded(out, s"medallion run $round") {
        val sw = Clock.start()
        val ((report, client, results), span) = tracer match {
          case None => (m.fullRun(corpus, lake), None)
          case Some(t) => val (r, s) = t.within("op", s"medallion $round")(m.fullRun(corpus, lake)); (r, Some(s))
        }
        val took = sw()
        out.ops += took
        out.sample("medallion_rows_per_s", "rows/s", corpus.records / took.wallS)
        val lakeBytes = lake.layers.map(l => Disk.data(l)._2).sum.toDouble
        out.sample("lake_bytes_per_raw_byte", "ratio", lakeBytes / Disk.data(lake.raw, ".json")._2)
        out.fail(s"medallion run $round", m.checkFull(corpus, lake, report, results))
        span.foreach { s =>
          val layers = m.fullLayers(s, lake, report, client, results)
          out.layers += layers
          out.counts += layers.filter { case (k, _) => CountKeys.contains(k) } + ("lake_bytes" -> lakeBytes)
        }
      }
      val inc = new m.Incremental(lake, corpus.expectedGold)
      round += 1
      while (i < round * IncrementalOps / FullRuns) {
        // about one recompute in eight plants a null nome_orgao: one seeded slot per block of eight
        if (i % 8 == 0) plantAt = i + rnd.nextInt(8)
        val (p, n) = pick(rnd)
        val plant = i == plantAt
        System.gc()
        out.attempted += 1
        guarded(out, s"recompute $i") {
          val (took, problems, layers) = inc.op(i, p, n, plant)
          out.smallOps += took
          out.fail(s"recompute $i${if (plant) " (planted)" else ""}", problems)
          if (layers.nonEmpty) {
            // stage metrics from clean recomputes, reject metrics from planted ones
            out.layers += layers.filter { case (k, _) => !plant || !k.startsWith("etl.") || k.startsWith("etl.quality.") }
            // rows and shuffle records follow the partition's data; jobs, stages, tasks and files must repeat
            val kind = if (plant) "rejected" else "clean"
            out.counts += layers.collect {
              case (k, v) if Seq("jobs", "stages", "tasks").exists(j => k == s"spark.incremental.$j") ||
                (k.startsWith("etl.") && k.endsWith(".files")) => s"$kind.$k" -> v
            }
          }
        }
        i += 1
      }
      guarded(out, s"gold after round $round")(out.fail(s"gold after round $round", inc.checkAll()))
    }
    out.samples("medallion_s", "s", out.ops.map(_.wallS).toSeq)
    out.opS = median(out.ops.map(_.wallS))
    val recomputes = out.smallOps.map(_.wallS).toSeq
    out.samples("incr_p50_s", "s", recomputes)
    out.smallOpS = median(recomputes)
    out.notes += (Report.tail(recomputes) match {
      case Some((pct, v)) => f"incr_tail_s=$v%.4f s at p$pct%.1f n=${recomputes.size}"
      case None => s"incr_tail_s n/a: ${out.smallOps.size} recomputes, a tail needs 11"
    })
  }

  private def queryMixOf(spark: SparkSession, tracer: Option[Tracer], root: Path): QueryMix =
    new QueryMix(spark, tracer, root.resolve("perfbench/data/sf0.01").toString,
      QueryMix.readDigests(root.resolve("perfbench/digests.txt")))

  /** Query-mix warm-up pass `k`: one sweep in the run's order, checked like
    * the timed ones. The first, cold, prints every digest. */
  def queryMixWarmUp(spark: SparkSession, root: Path, k: Int, order: Seq[String]): Seq[String] =
    queryMixOf(spark, None, root).sweep(order).flatMap { r =>
      if (k == 0) println(s"[perfbench] query_mix digest ${r.name} ${r.digest}")
      if (r.ok) None else Some(s"${r.name} digest ${r.digest} is not the recorded one")
    }

  /** Sweeps of the query mix, every one in the run's seeded order, so that
    * each sweep meets Spark's codegen cache in the same state. A
    * sweep's figure is the sum of its queries' times; the gated figures
    * take each query's median over the sweeps first, so that one slow
    * query run moves only its own median: `op_s` is their sum and
    * `small_op_s` their geometric mean. */
  def queryMix(spark: SparkSession, tracer: Option[Tracer], root: Path, order: Seq[String],
      seconds: Double, out: Outcome): Unit = {
    val mix = queryMixOf(spark, tracer, root)
    val perQuery = mutable.LinkedHashMap.from(QueryMix.Names.map(_ -> mutable.ArrayBuffer.empty[Double]))
    measure(seconds, Sweeps) { i =>
      val c0 = Codegen.compiles
      val (runs, span) = tracer match {
        case None => (mix.sweep(order), None)
        case Some(t) => val (r, s) = t.within("op", s"sweep $i")(mix.sweep(order)); (r, Some(s))
      }
      runs.foreach { r =>
        out.attempted += 1
        if (!r.ok) out.fail(s"sweep $i ${r.name}", Seq(s"digest ${r.digest} is not the recorded one"))
        perQuery(r.name) += r.took.wallS
      }
      out.ops += Took(runs.map(_.took.wallS).sum, runs.map(_.took.cpuS).sum)
      out.smallOps ++= runs.map(_.took)
      out.notes += s"sweep $i codegen_compiles=${Codegen.compiles - c0} " + runs.map(r => f"${r.name}=${r.took.wallS}%.3f").mkString(" ")
      span.foreach { s =>
        val layers = runs.flatMap(r => r.span.toSeq.flatMap(q =>
          Seq(s"query.${r.name}.s" -> q.wallS, s"query.${r.name}.jobs" -> q("jobs"))))
        out.layers += tracer.get.sparkLayers(s) ++ layers
        out.counts += runs.flatMap(r => r.span.toSeq.flatMap(q => Seq("jobs", "stages", "tasks", "shuffle_records")
          .map(k => s"query.${r.name}.$k" -> q(k)))).toMap
      }
    }
    val medians = perQuery.values.map(xs => Report.median(xs.toSeq)).toSeq
    out.opS = medians.sum
    out.smallOpS = math.exp(medians.map(math.log).sum / medians.size)
    out.samples("query_mix_s", "s", out.ops.map(_.wallS).toSeq)
    perQuery.foreach { case (q, xs) => out.samples(s"query.$q", "s", xs.toSeq) }
  }

  /** Print each exact count over the warm ops, name the ones that vary,
    * and compare with the previous traced run of this workload and seed. */
  private def countReport(workload: String, seed: Long, reports: Path, ops: Seq[Map[String, Double]]): Unit = {
    if (ops.isEmpty) return
    val keys = ops.flatMap(_.keys).distinct.sorted
    val varying = mutable.ArrayBuffer.empty[String]
    val medians = keys.map { k =>
      val xs = ops.flatMap(_.get(k))
      val repeats = xs.distinct.size == 1
      if (!repeats) varying += k
      println(s"[perfbench] $workload count $k ${xs.map(Report.num).mkString(",")} " +
        (if (repeats) "repeats" else "VARIES"))
      k -> Report.median(xs)
    }
    println(s"[perfbench] $workload counts varying between warm ops: " +
      (if (varying.isEmpty) "none" else varying.mkString(", ")))
    val file = reports.resolve(s"counts-$workload-seed$seed.txt")
    val now = medians.map { case (k, v) => s"$k ${Report.num(v)}" }
    if (Files.exists(file)) {
      val prev = scala.io.Source.fromFile(file.toFile, "UTF-8").getLines().toSeq
      val differ = (prev.toSet diff now.toSet).map(_.split(" ")(0)) ++ (now.toSet diff prev.toSet).map(_.split(" ")(0))
      println(s"[perfbench] $workload counts differing from the previous traced run: " +
        (if (differ.isEmpty) "none" else differ.toSeq.distinct.sorted.mkString(", ")))
    }
    Files.write(file, now.mkString("\n").getBytes("UTF-8"))
  }
}
