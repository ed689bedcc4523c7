package graft

import java.util.concurrent.atomic.AtomicInteger
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite
import scala.jdk.CollectionConverters._

/** Shared local session for all suites (getOrCreate → one JVM-wide
  * session, so suite order doesn't multiply startup cost). It carries
  * the library's codegen cache size and `file:` filesystem, so the
  * suites run under the cache and the writes the mains and library
  * users get. */
object TestSpark {
  lazy val spark: SparkSession = {
    startFlightRecorder()
    SparkSession.builder()
      .master("local[4]")
      .appName("graft-tests")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config(GraftSession.codegenCache._1, GraftSession.codegenCache._2)
      .config(GraftSession.localFileSystem._1, GraftSession.localFileSystem._2)
      .getOrCreate()
  }

  /** A JVM's first JFR recording retransforms JFR's event classes, and
    * HotSpot then makes nearly every compiled method not entrant (1,832
    * in a small warmed-up JVM; a second recording, 18–26). Made in the
    * middle of the suites by [[SparkSpec.forksDuring]], that sent the
    * suite after it back to the interpreter: on a 4-vCPU box GraphSpec
    * took 73–92 s in the full run instead of 43–49 s. So the first
    * recording is made here, before the JVM has compiled much. */
  private def startFlightRecorder(): Unit = {
    val recording = new jdk.jfr.Recording()
    try {
      recording.enable("jdk.ProcessStart")
      recording.start()
      recording.stop()
    } finally recording.close()
  }
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

  /** `body`'s result and the command line of each process the JVM
    * started while it ran (JFR's `jdk.ProcessStart`). The JVM's
    * once-only forks, at session start and at the first executor-metrics
    * poll, are made before the recording starts, so the count does not
    * depend on which test runs first. */
  def forksDuring[A](body: => A): (A, Seq[String]) = {
    spark.sparkContext
    org.apache.spark.TestBridge.initProcessTreeMetrics()
    val recording = new jdk.jfr.Recording()
    val dump = java.nio.file.Files.createTempFile("forks", ".jfr")
    try {
      recording.enable("jdk.ProcessStart")
      recording.start()
      val result = try body finally recording.stop()
      recording.dump(dump)
      val events = jdk.jfr.consumer.RecordingFile.readAllEvents(dump)
      (result, events.asScala.toSeq.filter(_.getEventType.getName == "jdk.ProcessStart")
        .map(_.getString("command")))
    } finally {
      recording.close()
      java.nio.file.Files.deleteIfExists(dump)
    }
  }
}
