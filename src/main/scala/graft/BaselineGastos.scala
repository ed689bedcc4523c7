package graft

import graft.etl.Pipeline

/** Apples-to-apples baseline twin of tools/baseline_ref_timing.py: runs
  * the repo's silver+gold medallion stages over the REFERENCE'S committed
  * bronze layer (477k rows, hive ano/mes) and prints one JSON line with
  * per-stage wall seconds — the number BASELINE.md ratios against the
  * reference's measured pandas time on identical input and identical
  * stage semantics (clean → quality gate → EDA-free write → group-sum).
  * JVM/session startup is excluded on both sides (the python tool times
  * the stage functions only), and stages run twice reporting the min so
  * the number measures the plan, not first-call codegen.
  */
object BaselineGastos {
  def main(args: Array[String]): Unit = {
    val bronze =
      if (args.nonEmpty) args(0)
      else "/root/reference/proj-eng-dados/dataset/bronze"
    require(java.nio.file.Files.isDirectory(java.nio.file.Paths.get(bronze)),
      s"usage: BaselineGastos [bronzeDir]; no bronze layer at $bronze")
    val spark = Harness.session(Harness.confs(Harness.cpus(4),
      "spark.sql.adaptive.enabled" -> "true",
      // the bronze/silver layers are ~84 hive dirs of tiny files: above
      // the default 32-dir threshold Spark launches a DISTRIBUTED
      // listing job per read, which costs more than driver-side listing
      // on a local filesystem at this size
      "spark.sql.sources.parallelPartitionDiscovery.threshold" -> "1024"))

    def timeStages(): (Double, Double, Long) = {
      val out = java.nio.file.Files.createTempDirectory("graft-baseline")
      val silverPath = s"$out/silver"
      val goldPath = s"$out/gold"
      try {
        // medallion stage 0 is raw→bronze; the measured surface starts at
        // the committed bronze, exactly like the reference timing.
        val stages = Pipeline.medallion("unused-raw-glob", bronze,
          silverPath, goldPath).drop(1)
        val times = stages.map { st =>
          val t0 = System.nanoTime()
          Pipeline.run(spark, Seq(st), failFast = true)
          (System.nanoTime() - t0) / 1e9
        }
        val goldRows = spark.read.parquet(goldPath).count()
        require(goldRows > 0, "gold produced no rows — run failed")
        (times(0), times(1), goldRows)
      } finally {
        Harness.deleteRecursively(out.toFile)
      }
    }
    val runs = Seq.fill(2)(timeStages())
    val (silverS, goldS, goldRows) = runs.minBy(r => r._1 + r._2)
    def s2(x: Double): String = Harness.num(x, 2)
    println(
      s"""{"graft_silver_s": ${s2(silverS)}, "graft_gold_s": ${s2(goldS)}, """ +
        s""""graft_total_s": ${s2(silverS + goldS)}, "gold_rows": $goldRows}""")
    spark.stop()
  }
}
