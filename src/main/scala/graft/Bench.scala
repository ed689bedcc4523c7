package graft

/** Per-round benchmark main: runs every registered query against
  * SPARK_GRAFT_SF_DIR and prints ONE JSON line with per-query seconds.
  * Each query is forced with [[Harness.force]], the
  * evaluation-complete hash fold (`.count()`, the action used through
  * round 9, measured the projection family at 3–14× below its true
  * cost).
  */
object Bench {
  /** The driver contract: exactly these confs, nothing else. */
  def confs(cpus: Int): Map[String, String] =
    Harness.confs(cpus, "spark.sql.adaptive.enabled" -> "true")

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = Harness.session(confs(Harness.cpus(4)))
    // Classes Spark compiled, one per miss of its codegen cache: the
    // warm-up's and each timed sweep's deltas go to bench_result.json.
    // Warm-up plus the first sweep is the working set that
    // GraftSession.codegenCache is sized from; a second sweep near 0
    // shows the cache holds it.
    def compiles: Long =
      org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    val c0 = compiles
    // JIT/codegen warmup on the smallest SF so per-query numbers measure
    // the plan, not first-call classloading.
    try SparkEntry.entry(spark).count() catch { case _: Throwable => () }
    val c1 = compiles
    // Two timed runs, report the min: steady-state per-query time with
    // first-run codegen/classload noise removed.
    // A failed query must NOT report its (tiny) failure wall time as a
    // benchmark number — that would make a plan regression look like a
    // speedup. Failures surface as -1 and are excluded from the total.
    def timeOnce(fn: (org.apache.spark.sql.SparkSession, String) => org.apache.spark.sql.DataFrame): Double = {
      val t0 = System.nanoTime()
      try { Harness.force(fn(spark, sfDir)); (System.nanoTime() - t0) / 1e9 }
      catch { case _: Throwable => -1.0 }
    }
    def merge(a: Double, b: Double): Double =
      if (a < 0 || b < 0) -1.0 else math.min(a, b)
    val ordered = SparkEntry.queries.toSeq.sortBy(_._1)
    val run1 = ordered.map { case (n, fn) => n -> timeOnce(fn) }.toMap
    val c2 = compiles
    // Cache hygiene between the two timed sweeps: a query that leaked a
    // plan-keyed cache entry in run 1 would otherwise serve run 1's data
    // to run 2's identical analyzed plan, and the reported min would be
    // a warm-cache number rather than steady state. The ops own their
    // lifetimes (checkpoint-based, no registry entries) — this is the
    // defensive backstop so a future leak can't flatter the bench.
    spark.catalog.clearCache()
    val results = ordered.map { case (n, fn) => n -> merge(run1(n), timeOnce(fn)) }
    val codegenJson =
      s"""{"warmup":${c1 - c0},"sweep1":${c2 - c1},"sweep2":${compiles - c2}}"""
    val failed = results.filter(_._2 < 0).map(_._1)
    if (failed.nonEmpty)
      System.err.println(s"[bench] FAILED queries (reported as -1): ${failed.mkString(", ")}")
    import Harness.num
    def jsonMap(rs: Seq[(String, Double)]): String =
      rs.map { case (k, v) => "\"" + k + "\":" + num(v) }.mkString("{", ",", "}")
    val total = results.map(_._2).filter(_ >= 0).sum
    // The harness captures only a short TAIL of stdout (2000 chars observed:
    // BENCH_r01/r02 both had "parsed":null because the full 70-query line is
    // ~3.5 KB and was truncated mid-JSON). So stdout carries a SHORT line —
    // overall total plus the headline (most expensive / flagship) queries —
    // guaranteed to fit in the tail window, while the full per-query map goes
    // to bench_result.json for anyone who wants it.
    // Headline = the 25 most expensive queries of THIS run ∪ the
    // flagship — derived, not hand-maintained (the round-10 hand list
    // had gone stale: it omitted d47/d53, two of the ten most expensive,
    // while carrying a 0.13 s multimodal row).
    val headline = (results.sortBy(-_._2).take(25).map(_._1) :+ "q01_gold_agg").toSet
    val headlineQs = results.filter { case (k, _) => headline.contains(k) }
    // Per-query drift check vs the previous round's full map
    // (BENCH_full_prev.json, refreshed at each round close): flag any
    // query at >= 1.5x its previous time AND above a 0.3 s floor.
    // This is what catches a d11-style anomaly per-query — the total
    // only catches regressions big enough to move a 170-query sum.
    // Parse + flag live in BenchDrift (spec-proven to fire on a
    // pretty-printed baseline — the round-10 inline regex never matched
    // one and silently disarmed the gate for a whole round).
    val prevPath = java.nio.file.Paths.get(
      sys.env.getOrElse("SPARK_GRAFT_BENCH_PREV", "BENCH_full_prev.json"))
    // read + parse ONCE: the dead-check and the flag computation must
    // judge the same bytes
    val baseline: Option[Map[String, Double]] =
      if (!java.nio.file.Files.exists(prevPath)) None
      else Some(BenchDrift.parseBaseline(
        new String(java.nio.file.Files.readAllBytes(prevPath), "UTF-8")))
    val baselineDead = baseline.exists(_.isEmpty)
    if (baselineDead)
      System.err.println(s"[bench] ERROR: drift baseline $prevPath exists but parsed to ZERO " +
        "query entries — the drift gate is DEAD this run; fix the baseline or the parser. " +
        "drift_flagged is reported as -1, never 0, so this cannot read as a pass.")
    val drift: Seq[(String, Double, Double)] =
      baseline.filter(_.nonEmpty).map(BenchDrift.flag(results, _)).getOrElse(Nil)
    drift.foreach { case (k, p, v) => System.err.println(
      f"[bench] DRIFT $k: $p%.3f -> $v%.3f s (${v / p}%.2fx prev)") }
    val driftJson = drift
      .map { case (k, p, v) => "\"" + k + "\":{\"prev\":" + num(p) + ",\"cur\":" + num(v) + "}" }
      .mkString("{", ",", "}")
    val driftFlagged = if (baselineDead) -1 else drift.size
    val line = s"""{"metric":"total","value":$total,"unit":"sec","queries":${jsonMap(headlineQs)},"n_queries":${results.size},"drift_flagged":$driftFlagged,"sf":"$sfDir"}"""
    val fullLine = s"""{"metric":"total","value":$total,"unit":"sec","queries":${jsonMap(results)},"drift":$driftJson,"codegen_compiles":$codegenJson,"sf":"$sfDir"}"""
    try java.nio.file.Files.write(java.nio.file.Paths.get("bench_result.json"),
      (fullLine + "\n").getBytes("UTF-8"))
    catch { case e: Exception => System.err.println(s"[bench] bench_result.json not written: $e") }
    // stop() BEFORE the stdout line: Spark shutdown may log stragglers to
    // stderr, and the harness interleaves streams — nothing is allowed to
    // land after the parseable line.
    spark.stop()
    println(line)
  }
}
