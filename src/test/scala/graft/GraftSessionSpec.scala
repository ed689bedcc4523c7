package graft

import org.apache.spark.SparkException
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The library front door delivers its documented wiring: functions,
  * guard rails, and the determinism confs. Builds its own session (the
  * point under test), parked around the shared one. */
class GraftSessionSpec extends AnyFunSuite {

  test("GraftSession.create wires functions, guards, and the determinism confs") {
    val old = TestSpark.spark // ensure the shared session exists first
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
    try {
      val s = GraftSession.create(parallelism = 2)
      assert(s ne old)
      assert(s.conf.get("spark.sql.session.timeZone") == "UTC")
      assert(s.conf.get("spark.sql.shuffle.partitions") == "2")
      assert(s.conf.get("spark.sql.adaptive.enabled") == "true")
      assert(s.conf.get(GraftSession.codegenCache._1) == GraftSession.codegenCache._2)
      assert(s.conf.get(GraftSession.localFileSystem._1) == classOf[NoForkLocalFileSystem].getName)
      // the Hadoop conf its file reads and writes use resolves file: to
      // the filesystem that sets permissions without forking
      assert(org.apache.hadoop.fs.FileSystem.getFileSystemClass(
        "file", s.sessionState.newHadoopConf()) == classOf[NoForkLocalFileSystem])
      // SQL function surface present
      assert(s.sql("SELECT graft_md5_upper('x') AS h").count() == 1L)
      // both guards live
      intercept[SparkException] {
        s.range(100).toDF("id")
          .withColumn("rn", row_number().over(Window.orderBy("id"))).collect()
      }
      intercept[SparkException] {
        s.range(100).toDF("a").join(s.range(100).toDF("b")).count()
      }
      intercept[IllegalArgumentException] { GraftSession.create(parallelism = 0) }
    } finally {
      SparkSession.setActiveSession(old)
      SparkSession.setDefaultSession(old)
    }
  }

  test("inventory queries run unchanged through GraftSession.create() — the adoption path") {
    // A library user does NOT build the harness session: they call
    // create() and run queries on what it returns, with the guard
    // rules live in the optimizer. A representative slice of the
    // inventory (aggregate, TPC-H join tree, text explode+join, minhash
    // expression chain, sketch arithmetic, gaps-and-islands window)
    // must optimize clean under the guards AND produce row-identical
    // results to the harness session — any plan drift under the
    // extensions path surfaces here rather than in a user's hands.
    val dir = "/root/testdata/sf0.001"
    val old = TestSpark.spark
    val names = Seq("q01_gold_agg", "q38_tpch3", "t06_top_terms",
      "d03_minhash_pairs", "q65_hll_by_group", "q90_streaks")
    val expected = names.map { n =>
      n -> SparkEntry.queries(n)(old, dir).collect().map(_.toString).sorted.toSeq
    }.toMap
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
    try {
      val s = GraftSession.create(parallelism = 2)
      assert(s ne old)
      for (n <- names) {
        val got = SparkEntry.queries(n)(s, dir).collect().map(_.toString).sorted.toSeq
        assert(got == expected(n), s"$n drifted under the GraftSession path")
      }
    } finally {
      SparkSession.setActiveSession(old)
      SparkSession.setDefaultSession(old)
    }
  }

  test("create() on a pre-existing session delivers the contract through the late-binding paths") {
    val old = TestSpark.spark
    SparkSession.setActiveSession(old)
    SparkSession.setDefaultSession(old)
    val before = old.experimental.extraOptimizations
    val tzBefore = old.conf.get("spark.sql.session.timeZone")
    val spBefore = old.conf.get("spark.sql.shuffle.partitions")
    try {
      // the inherited session's tuning must SURVIVE create(): before the
      // round-8 fix, getOrCreate applied the builder's modifiable confs,
      // silently resetting a cluster session's shuffle parallelism to
      // this machine's CPU count and its timezone to UTC
      old.conf.set("spark.sql.session.timeZone", "America/New_York")
      old.conf.set("spark.sql.shuffle.partitions", "7")
      val s = GraftSession.create(parallelism = 2)
      // the active session is reused — extensions could not apply, so
      // functions registered via the registry and guards via
      // extraOptimizations; tuning confs untouched
      assert(s eq old)
      assert(s.conf.get("spark.sql.session.timeZone") == "America/New_York")
      assert(s.conf.get("spark.sql.shuffle.partitions") == "7")
      assert(s.sql("SELECT graft_md5_upper('x') AS h").count() == 1L)
      intercept[SparkException] {
        s.range(100).toDF("id")
          .withColumn("rn", row_number().over(Window.orderBy("id"))).collect()
      }
    } finally {
      old.experimental.extraOptimizations = before
      old.conf.set("spark.sql.session.timeZone", tzBefore)
      old.conf.set("spark.sql.shuffle.partitions", spBefore)
    }
  }
}
