package perfbench

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{col, expr, struct, xxhash64}

/** Six registry queries over the test tables, each forced by the
  * xxhash64 fold `graft.Bench` uses, its digest checked against the one
  * recorded for these tables. */
final class QueryMix(spark: SparkSession, tracer: Option[Tracer], dataDir: String,
    digests: Map[String, String]) {

  private val registry = graft.SparkEntry.queries

  /** Every output column hashed into one xxhash64, bit_xor-folded to one row. */
  private def fold(df: DataFrame): String = {
    val row = df.select(xxhash64(struct(df.columns.map(col).toIndexedSeq: _*)).as("_h"))
      .agg(expr("bit_xor(_h)")).collect()(0)
    if (row.isNullAt(0)) "null" else row.getLong(0).toString
  }

  final case class Run(name: String, took: Took, digest: String, ok: Boolean, span: Option[Span])

  /** One query: wall time of plan + fold, and whether its digest matches.
    * A query that throws is a failed run with its wall time kept. */
  def run(name: String): Run = {
    val sw = Clock.start()
    def body(): String = fold(registry(name)(spark, dataDir))
    val (digest, span) =
      try tracer match {
        case None => (body(), None)
        case Some(t) => val (d, s) = t.within("query", name)(body()); (d, Some(s))
      } catch { case e: Exception =>
        System.err.println(s"[perfbench] $name threw: $e")
        ("threw", None)
      }
    Run(name, sw(), digest, digests.get(name).contains(digest), span)
  }

  def sweep(order: Seq[String]): Seq[Run] = order.map(run)
}

object QueryMix {
  val Names: Seq[String] = Seq("q01_gold_agg", "q39_tpch5", "q114_asof_nearest",
    "d03_minhash_pairs", "g02_pagerank", "t18_trigram_lm")

  /** The run's query order, kept for every sweep: `Names` rotated to start
    * at a seeded query. Sweeps then repeat one fixed cycle, whatever the
    * seed. The mix compiles more classes than Spark's codegen cache holds,
    * so which query follows which decides how much code a query meets in
    * the cache; a new order per sweep, or per seed, moved a sweep's time
    * by up to a fifth. */
  def order(seed: Long): Seq[String] = {
    val k = java.lang.Math.floorMod(seed, Names.size.toLong).toInt
    Names.drop(k) ++ Names.take(k)
  }

  /** `name digest` lines. */
  def readDigests(p: java.nio.file.Path): Map[String, String] =
    if (!java.nio.file.Files.exists(p)) Map.empty
    else scala.io.Source.fromFile(p.toFile, "UTF-8").getLines()
      .map(_.trim).filter(l => l.nonEmpty && !l.startsWith("#"))
      .map(_.split("\\s+")).collect { case Array(n, d) => n -> d }.toMap
}
