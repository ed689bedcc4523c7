package graft

import org.apache.spark.sql.SparkSession

/** The library's front door: one call returns a SparkSession wired the
  * way every graft surface expects —
  *
  *   - `graft.functions.GraftExtensions` applied: the SQL function
  *     surface (graft_minhash_md5, graft_dot, …) plus both engine
  *     guard rails (unpartitioned-window and unbounded-cross-join
  *     rejection at optimization time; per-session opt-outs documented
  *     on `graft.plans.GuardRails`);
  *   - AQE on (runtime broadcast/skew re-planning is load-bearing for
  *     the join-heavy inventory);
  *   - UTC session timezone (the oracle determinism contract — date
  *     rendering must not depend on host locale);
  *   - driver-side partition listing up to 1024 dirs (hive layouts in
  *     the tens-of-dirs range pay a distributed listing job per read
  *     under the 32-dir default — the round-6 medallion finding);
  *   - shuffle partitions sized to the given parallelism rather than
  *     the 200 default (a local/parallelism-proportional count; on a
  *     real cluster pass the executor-core total);
  *   - Spark's compiled-code cache sized to the registry's working set
  *     ([[codegenCache]]);
  *   - a `file:` filesystem that sets permissions without forking a
  *     process ([[localFileSystem]]).
  *
  * The harness mains (Bench/Verify/…) build their sessions through
  * [[Harness]] — their confs are part of the measured/driver contract;
  * this entry point is for LIBRARY users. */
object GraftSession {

  /** `spark.sql.codegen.cache.maxEntries`: how many generated classes
    * Spark keeps compiled. Both session paths read this one pair: the
    * fresh-session branch of [[create]] and the base map of
    * `Harness.confs`.
    *
    * Derived from the working set, not an option. One full registry
    * sweep compiles 3,150 distinct classes: `graft.Bench` over sf0.01
    * (256 queries), warm-up 9 plus first timed sweep 3,141, read as the
    * `CodegenMetrics.METRIC_COMPILATION_TIME` count delta that Bench
    * writes to `bench_result.json` as `codegen_compiles`. Its second
    * sweep, under a cache larger than that, still compiled 74: code
    * that differs from run to run, which never hits. Headroom rule: the
    * smallest power of two at or above 1.25 × the working set. Spark's
    * cache is a Guava cache in 4 segments, each evicting at a quarter
    * of the bound, so the fullest segment must hold its share of the
    * working set (about 1.1 × the mean at 3,150 entries) plus the
    * classes that never hit. At Spark's default of 100 entries every
    * warm sweep of the perfbench query mix (about 160 classes)
    * compiled, and JIT-compiled, its whole code again.
    *
    * The conf is static and the cache is JVM-global: `CodeGenerator`
    * builds it once, with the size in force under the first session
    * that generates code. A session [[create]] inherits keeps whatever
    * size its JVM already has; a spark-submit'd app sets it with
    * `--conf spark.sql.codegen.cache.maxEntries=4096`. */
  val codegenCache: (String, String) =
    "spark.sql.codegen.cache.maxEntries" -> "4096"

  /** `spark.hadoop.fs.file.impl`: the class Hadoop builds for `file:`
    * paths, [[NoForkLocalFileSystem]]. The same three places read it as
    * [[codegenCache]]: the fresh-session branch of [[create]],
    * `Harness.confs` and the test session.
    *
    * Derived, not an option. Without the native `libhadoop`
    * (`NativeIO.isAvailable` false), Hadoop's `RawLocalFileSystem` sets
    * the permission of every file it creates (the data file and its
    * `.crc`) and every directory it makes by forking a `chmod` process.
    * JFR's `jdk.ProcessStart` counted 906 forks in one full medallion
    * run of the perfbench corpus (556 file, 350 directory; 19,000
    * records in 84 partitions) and 39 in a one-partition recompute. The
    * cost is per file, not per byte: about 25–30 ms a file written. The
    * replacement sets the same bits through `java.nio`, so the lake on
    * disk is byte- and mode-identical.
    *
    * Hadoop's `FileSystem` cache is JVM-global, and the first `file:`
    * instance built in the JVM decides the class every later `file:`
    * lookup gets. A session [[create]] inherits keeps whatever its JVM
    * already has; a spark-submit'd app sets it with
    * `--conf spark.hadoop.fs.file.impl=graft.NoForkLocalFileSystem`. */
  val localFileSystem: (String, String) =
    "spark.hadoop.fs.file.impl" -> classOf[NoForkLocalFileSystem].getName

  /** Recommended session. `parallelism` sizes both the local-fallback
    * master and the shuffle partition count. Master resolution, in
    * order: an explicit `master` argument wins; otherwise a
    * `spark.master` already configured by the environment (spark-submit
    * sets the system property) is INHERITED untouched; only when
    * neither exists does the session fall back to local[parallelism] —
    * so calling create() inside a spark-submit'd app never silently
    * downgrades a cluster master to local.
    *
    * If a SparkSession already exists, session EXTENSIONS cannot be
    * applied retroactively — create() detects that case FIRST and
    * returns the existing session with the same contract delivered
    * through the late-binding paths: the SQL functions register through
    * the session's FunctionRegistry and the guard rules append to
    * experimental.extraOptimizations (both idempotent). The TUNING
    * confs (timezone, shuffle partitions, AQE, listing threshold) are
    * deliberately NOT applied on this path: getOrCreate would silently
    * rewrite the inherited session's modifiable confs — resetting a
    * cluster session's shuffle parallelism to this machine's CPU count
    * and its timezone to UTC mid-flight. An inherited session keeps its
    * owner's tuning; only a session create() itself builds gets the
    * graft defaults. The codegen cache size ([[codegenCache]]) and the
    * `file:` filesystem ([[localFileSystem]]) could not be applied here
    * even if they were wanted: both are JVM-global and were already
    * built under the inherited session. */
  def create(parallelism: Int = Runtime.getRuntime.availableProcessors(),
      master: Option[String] = None,
      appName: String = "graft"): SparkSession = {
    require(parallelism >= 1, s"parallelism must be >= 1, got $parallelism")
    // the reuse signal must be session IDENTITY, not registry state
    // (another caller may have registered the functions on a session
    // that still lacks the guards) — and the check must run BEFORE any
    // builder with .config touches the session, not after
    SparkSession.getActiveSession
      .orElse(SparkSession.getDefaultSession) match {
      case Some(s) =>
        graft.functions.TextHashExpressions.register(s) // idempotent
        val rules: Seq[org.apache.spark.sql.catalyst.rules.Rule[
          org.apache.spark.sql.catalyst.plans.logical.LogicalPlan]] =
          Seq(graft.plans.UnpartitionedWindowGuard,
            graft.plans.UnboundedCrossJoinGuard)
        val missing = rules.filterNot(s.experimental.extraOptimizations.contains)
        if (missing.nonEmpty) {
          s.experimental.extraOptimizations =
            s.experimental.extraOptimizations ++ missing
        }
        s
      case None =>
        val b = SparkSession.builder()
          .appName(appName)
          .withExtensions(new graft.functions.GraftExtensions)
          .config("spark.sql.adaptive.enabled", "true")
          .config("spark.sql.session.timeZone", "UTC")
          .config("spark.sql.shuffle.partitions", parallelism.toString)
          .config("spark.sql.sources.parallelPartitionDiscovery.threshold", "1024")
          .config(codegenCache._1, codegenCache._2)
          .config(localFileSystem._1, localFileSystem._2)
        master match {
          case Some(m) => b.master(m)
          case None if sys.props.get("spark.master").isEmpty =>
            b.master(s"local[$parallelism]")
          case None => () // inherit the environment's spark.master
        }
        b.getOrCreate()
    }
  }
}
