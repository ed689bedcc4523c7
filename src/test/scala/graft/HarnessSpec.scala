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
      "spark.ui.enabled" -> "false"))
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

  test("no main builds its own session or force: only Harness and GraftSession call the builder") {
    val mainSrc = new java.io.File("src/main/scala")
    assert(mainSrc.isDirectory, s"src/main/scala not found from ${new java.io.File(".").getAbsolutePath}")
    def scalaFiles(f: java.io.File): Seq[java.io.File] =
      if (f.isDirectory) Option(f.listFiles).toSeq.flatten.flatMap(scalaFiles)
      else if (f.getName.endsWith(".scala")) Seq(f)
      else Nil
    val sources = scalaFiles(mainSrc).map { f =>
      f.getName -> new String(java.nio.file.Files.readAllBytes(f.toPath), "UTF-8")
    }
    assert(sources.exists(_._1 == "Harness.scala"))
    val builders = sources.collect {
      case (n, src) if src.contains("SparkSession.builder()") => n
    }.toSet
    assert(builders == Set("Harness.scala", "GraftSession.scala"))
    val forces = sources.collect { case (n, src) if src.contains("def force") => n }.toSet
    assert(forces == Set("Harness.scala"))
  }
}
