package graft

/** Dev tool: dump the formatted physical plan of selected queries (all
  * when no args) so plan regressions — lost pushdown, surprise shuffle,
  * broadcast that became a sort-merge join — are visible in review.
  * Usage: runMain graft.Plans [sfDir] [queryName...]
  */
object Plans {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.001")
    val names = if (args.length > 1) args.tail.toSeq else SparkEntry.queries.keys.toSeq.sorted
    val spark = Harness.session(Harness.confs(4), logLevel = "ERROR")
    names.foreach { name =>
      println(s"\n=== $name ===")
      try SparkEntry.queries(name)(spark, sfDir).explain("formatted")
      catch { case e: Throwable => println(s"EXPLAIN FAILED: ${e.getMessage}") }
    }
    spark.stop()
  }
}
