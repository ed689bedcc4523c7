package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{col, expr, struct, xxhash64}

/** What the harness mains (Bench, Verify, Plans, the corpus builders,
  * the soaks) share: one session builder, one evaluation-complete
  * action, one number formatter, one recursive delete. Library users
  * go through [[GraftSession]] instead.
  *
  * A main's conf set is part of its measured or driver contract, so
  * each main states it through [[confs]] — the common base plus its
  * own extras — and HarnessSpec pins the contract ones. */
object Harness {

  /** Core count: SPARK_GRAFT_CPUS, else the caller's default. */
  def cpus(default: Int): Int =
    sys.env.get("SPARK_GRAFT_CPUS").map(_.trim.toInt).getOrElse(default)

  /** local[cpus], shuffle partitions = cpus, UTC, UI off, the codegen
    * cache size of [[GraftSession.codegenCache]], the `file:` filesystem
    * of [[GraftSession.localFileSystem]], then the caller's extras (an
    * extra wins on a key clash). */
  def confs(cpus: Int, extra: (String, String)*): Map[String, String] =
    Map(
      "spark.master" -> s"local[$cpus]",
      "spark.sql.shuffle.partitions" -> cpus.toString,
      "spark.sql.session.timeZone" -> "UTC",
      "spark.ui.enabled" -> "false",
      GraftSession.codegenCache,
      GraftSession.localFileSystem) ++ extra

  /** q60's recursion emits one row per orders row; Spark's default 1M-row
    * guardrail trips on corpora ≥ ~sf0.7. The limit is a safety net
    * against runaway recursion, not a plan property, so the mains that
    * run q60 on large corpora (Verify, BenchAtScale) raise it. */
  val cteRecursionRowLimit: (String, String) =
    "spark.sql.cteRecursionRowLimit" -> (50 * 1000 * 1000).toString

  def session(confs: Map[String, String], logLevel: String = "WARN"): SparkSession = {
    val spark = confs
      .foldLeft(SparkSession.builder()) { case (b, (k, v)) => b.config(k, v) }
      .getOrCreate()
    spark.sparkContext.setLogLevel(logLevel)
    spark
  }

  /** Evaluation-complete action: hash EVERY output column into one
    * xxhash64 and bit_xor-fold to a single row (the driver receives 8
    * bytes). `.count()` is NOT evaluation-complete: Catalyst prunes
    * deterministic projections the count doesn't need (t01's whole
    * langid CASE tree never ran: 0.14 s "measured" vs 1.24 s real at
    * sf0.1) and eliminates left joins onto groupBy-keyed aggregates
    * (d45's span pipeline collapsed to a parquet row count) — the
    * round-10 re-baseline in BASELINE.md quantifies the shift. bit_xor,
    * not sum: ANSI mode (Spark 4 default) throws on long overflow, and
    * the xor-fold consumes values just as completely. */
  def force(df: DataFrame): Unit = {
    df.select(xxhash64(struct(df.columns.toIndexedSeq.map(col): _*)).as("_h"))
      .agg(expr("bit_xor(_h)")).collect()
    ()
  }

  /** Fixed-point number for a JSON line. Locale.ROOT: the f interpolator
    * is locale-sensitive, and a comma decimal separator would make the
    * line invalid JSON. */
  def num(v: Double, decimals: Int = 3): String =
    String.format(java.util.Locale.ROOT, s"%.${decimals}f", Double.box(v))

  def deleteRecursively(f: java.io.File): Unit = {
    Option(f.listFiles).foreach(_.foreach(deleteRecursively))
    f.delete()
    ()
  }
}
