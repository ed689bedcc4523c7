package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** One-off pressure test at 10× bench scale: materializes a scaled
  * corpus from sf0.1 and times the most expensive registered queries on
  * it, printing per-query seconds as one JSON line. The point is the
  * SCALING EXPONENT, not the absolute numbers: a query whose plan is
  * linear-ish should cost ≤ ~12× its sf0.1 time at 10× data (constant
  * overheads amortize; shuffles grow n log n at worst); anything
  * superlinear beyond that is a plan bug to fix, not a bigger machine
  * to buy.
  *
  * The corpus is the FK-consistent one the 10× oracle gate verifies
  * ([[ScaleCorpus.build]], reused when complete), so every registered
  * query — the TPC-H star joins over part/nation/region included —
  * times on the same data the gate checked.
  *
  * Usage: runMain graft.BenchAtScale [outDir] [copies] [query...]
  * (source = SPARK_GRAFT_SF_DIR, default the sf0.1 test tables; outDir
  * defaults to the gate corpus `.scaled/sfgate<copies>`).
  */
object BenchAtScale {
  def main(args: Array[String]): Unit = {
    val srcDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val copies = if (args.length > 1) args(1).toInt else 10
    // default outDir embeds the copy count so a later run with a
    // different `copies` can never silently reuse a mismatched corpus
    val outDir = if (args.length > 0) args(0) else CorpusPaths.sfgate(copies)
    val names =
      if (args.length > 2) args.drop(2).toSeq
      else Seq("q60_recursive_cte", "d11_contamination", "d15_jaccard_verify",
        "t06_top_terms", "d29_bpe_train", "d30_bpe_encode")
    val cpus = Harness.cpus(4)
    // Shuffle partitions default to the core count (the bench config),
    // but at 100× some single stages carry ~10⁹ intermediate rows (g24's
    // wedge agg) — 24 partitions put ~40M rows through each final
    // hash-agg, past the spill wall, and the stage goes disk-bound
    // (measured: >40 min vs minutes). A real cluster sizes partitions to
    // data, not cores; this override is that knob for the pressure
    // harness. AQE coalesces over-split stages for the light queries,
    // so a high value is safe across a mixed batch.
    val shufflePartitions =
      sys.env.getOrElse("SPARK_GRAFT_SHUFFLE_PARTITIONS", cpus.toString)
    val spark = Harness.session(Harness.confs(cpus,
      "spark.sql.shuffle.partitions" -> shufflePartitions,
      "spark.sql.adaptive.enabled" -> "true",
      Harness.cteRecursionRowLimit))

    ScaleCorpus.build(spark, srcDir, outDir, copies)

    def timeOnce(fn: (SparkSession, String) => DataFrame): Double = {
      val t0 = System.nanoTime()
      Harness.force(fn(spark, outDir))
      (System.nanoTime() - t0) / 1e9
    }
    // warmup on the source SF (codegen/classload), then two timed runs
    // with the Bench cache-hygiene barrier between them
    Harness.force(SparkEntry.queries(names.head)(spark, srcDir))
    val results = names.map { n =>
      val fn = SparkEntry.queries(n)
      val a = timeOnce(fn)
      spark.catalog.clearCache()
      n -> math.min(a, timeOnce(fn))
    }
    val line = results.map { case (k, v) => "\"" + k + "\":" + Harness.num(v) }
      .mkString(s"""{"metric":"scale${copies}x","unit":"sec","queries":{""", ",", "},")
    spark.stop()
    println(line + s""""src":"$srcDir"}""")
  }
}
