package graft

import java.util.concurrent.atomic.AtomicInteger
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared local session for all suites (getOrCreate → one JVM-wide
  * session, so suite order doesn't multiply startup cost). It carries
  * the library's codegen cache size, so the suites run under the cache
  * the mains and library users get. */
object TestSpark {
  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .appName("graft-tests")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .config(GraftSession.codegenCache._1, GraftSession.codegenCache._2)
    .getOrCreate()
}

abstract class SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = TestSpark.spark
  def tmpDir(prefix: String): String =
    java.nio.file.Files.createTempDirectory(prefix).toString

  /** `body`'s result and the number of Spark jobs it started. Only jobs
    * that carry a local property set on this thread for this call are
    * counted, so jobs of other suites sharing the session never are. */
  def jobsDuring[A](body: => A): (A, Int) = {
    val sc = spark.sparkContext
    val key = "graft.test.jobsDuring"
    val tag = java.util.UUID.randomUUID().toString
    val jobs = new AtomicInteger()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (Option(e.properties).exists(_.getProperty(key) == tag)) jobs.incrementAndGet()
    }
    val outer = sc.getLocalProperty(key)
    sc.addSparkListener(listener)
    sc.setLocalProperty(key, tag)
    val result =
      try body
      finally {
        sc.setLocalProperty(key, outer)
        org.apache.spark.TestBridge.drain(sc)
        sc.removeSparkListener(listener)
      }
    (result, jobs.get)
  }
}
