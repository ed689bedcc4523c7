package graft

import org.scalatest.funsuite.AnyFunSuite

/** The harness mains' conf sets are part of their contracts; these
  * checks read the conf maps only and never build a session. */
class HarnessSpec extends AnyFunSuite {

  test("Bench's conf set is exactly local[n], n shuffle partitions, UTC, AQE on, UI off") {
    assert(Bench.confs(3) == Map(
      "spark.master" -> "local[3]",
      "spark.sql.shuffle.partitions" -> "3",
      "spark.sql.session.timeZone" -> "UTC",
      "spark.sql.adaptive.enabled" -> "true",
      "spark.ui.enabled" -> "false",
      "spark.sql.codegen.cache.maxEntries" -> "4096",
      "spark.hadoop.fs.file.impl" -> "graft.NoForkLocalFileSystem"))
  }

  test("Harness and GraftSession take the file: filesystem from one constant") {
    assert(Harness.confs(2).get(GraftSession.localFileSystem._1)
      .contains(classOf[NoForkLocalFileSystem].getName))
    val key = GraftSession.localFileSystem._1
    val holders = mainSources.collect { case (n, src) if src.contains(key) => n }.toSet
    assert(holders == Set("GraftSession.scala"))
  }

  test("Harness and GraftSession take the codegen cache size from one constant") {
    assert(Harness.confs(2).get(GraftSession.codegenCache._1).contains(GraftSession.codegenCache._2))
    // the conf key is spelled once in the library: GraftSession's fresh
    // branch and Harness.confs both read the pair, never a literal
    val key = GraftSession.codegenCache._1
    val holders = mainSources.collect { case (n, src) if src.contains(key) => n }.toSet
    assert(holders == Set("GraftSession.scala"))
  }

  test("Verify raises the recursive-CTE row limit to 50M on top of the base confs") {
    assert(Verify.confs(4) == Harness.confs(4) +
      ("spark.sql.cteRecursionRowLimit" -> "50000000"))
  }

  test("a caller's extra conf overrides the base value for the same key") {
    val c = Harness.confs(4, "spark.sql.shuffle.partitions" -> "64")
    assert(c("spark.sql.shuffle.partitions") == "64")
    assert(c("spark.master") == "local[4]")
  }

  /** (file name, text) of every library source. */
  private lazy val mainSources: Seq[(String, String)] = {
    val mainSrc = new java.io.File("src/main/scala")
    assert(mainSrc.isDirectory, s"src/main/scala not found from ${new java.io.File(".").getAbsolutePath}")
    def scalaFiles(f: java.io.File): Seq[java.io.File] =
      if (f.isDirectory) Option(f.listFiles).toSeq.flatten.flatMap(scalaFiles)
      else if (f.getName.endsWith(".scala")) Seq(f)
      else Nil
    scalaFiles(mainSrc).map { f =>
      f.getName -> new String(java.nio.file.Files.readAllBytes(f.toPath), "UTF-8")
    }
  }

  test("no main builds its own session or force: only Harness and GraftSession call the builder") {
    val sources = mainSources
    assert(sources.exists(_._1 == "Harness.scala"))
    val builders = sources.collect {
      case (n, src) if src.contains("SparkSession.builder()") => n
    }.toSet
    assert(builders == Set("Harness.scala", "GraftSession.scala"))
    val forces = sources.collect { case (n, src) if src.contains("def force") => n }.toSet
    assert(forces == Set("Harness.scala"))
  }
}
