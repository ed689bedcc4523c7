package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def confs(cpus: Int): Map[String, String] =
    Harness.confs(cpus, Harness.cteRecursionRowLimit)

  def main(args: Array[String]): Unit = {
    // optional 3rd arg: comma-separated query names — the targeted
    // standalone compare used while iterating (the driver always calls
    // with 2 args and gets the full registry)
    require(args.length == 2 || args.length == 3,
      "usage: Verify <sfDir> <outDir> [name,name,...]")
    val (sfDir, outDir) = (args(0), args(1))
    val only: Option[Set[String]] =
      if (args.length == 3) Some(args(2).split(",").toSet) else None
    // a typo'd name would filter to NOTHING and verify_local would print
    // "0 oracle-pass, 0 fail" exit 0 — the silent-hole failure mode the
    // round-7 NO_OUTPUT fix was about, so unknown names fail loudly here
    only.foreach { names =>
      val unknown = names -- SparkEntry.queries.keySet
      require(unknown.isEmpty,
        s"unknown query name(s): ${unknown.toSeq.sorted.mkString(", ")}")
    }
    val spark = Harness.session(confs(Harness.cpus(4)))
    new java.io.File(outDir).mkdirs()
    SparkEntry.queries
      .filter { case (name, _) => only.forall(_.contains(name)) }
      .foreach { case (name, fn) =>
      try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        // remove any previous/partial output: a stale result from an
        // earlier run would silently pass the driver's oracle compare
        Harness.deleteRecursively(new java.io.File(s"$outDir/$name"))
        System.err.println(s"[verify] $name failed: $e")
      }
    }
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = SparkEntry.oracleSql
      .filter { case (k, _) => only.forall(_.contains(k)) }
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
  }
}
