package graft

import java.nio.file.{Files, Path, Paths}
import org.apache.spark.sql.functions.{col, count, desc}
import scala.jdk.CollectionConverters._

/** The K× corpus builder (ScaleCorpus.build) and the skew twin built
  * from its output (SkewCorpus.build), at 2 copies of sf0.001. */
class ScaleCorpusSpec extends SparkSpec {
  private val src = "/root/testdata/sf0.001"
  private val tables = Seq("region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "documents", "embeddings", "events")

  private lazy val gate: String = {
    val dir = tmpDir("sfgate") + "/sfgate2"
    ScaleCorpus.build(spark, src, dir, 2)
    dir
  }

  private def rows(dir: String, name: String): Long =
    if (name == "events") Tables.events(spark, dir).count()
    else Tables.table(spark, dir, name).count()

  /** Every file under `dir` with its size and modification time. */
  private def listing(dir: String): Seq[(String, Long, Long)] = {
    val stream = Files.walk(Paths.get(dir))
    try stream.iterator.asScala.filter(Files.isRegularFile(_)).map { p: Path =>
      (p.toString, Files.size(p), Files.getLastModifiedTime(p).toMillis)
    }.toSeq.sorted
    finally stream.close()
  }

  test("ScaleCorpus.build: 2x rows (region/nation 1x), FK closure, aligned doc join") {
    tables.foreach { t =>
      val want = if (t == "region" || t == "nation") rows(src, t) else 2 * rows(src, t)
      assert(rows(gate, t) == want, t)
    }

    def orphans(child: String, key: String, parent: String, pkey: String): Long =
      Tables.table(spark, gate, child)
        .join(Tables.table(spark, gate, parent), col(key) === col(pkey), "left_anti")
        .count()
    assert(orphans("lineitem", "l_orderkey", "orders", "o_orderkey") == 0)
    assert(orphans("lineitem", "l_partkey", "part", "p_partkey") == 0)
    assert(orphans("lineitem", "l_suppkey", "supplier", "s_suppkey") == 0)
    assert(orphans("orders", "o_custkey", "customer", "c_custkey") == 0)

    def docJoin(dir: String): Long =
      Tables.documents(spark, dir)
        .join(Tables.embeddings(spark, dir), col("doc_id") === col("vec_id")).count()
    assert(docJoin(src) > 0)
    assert(docJoin(gate) == 2 * docJoin(src))
  }

  test("ScaleCorpus.build reuses a complete corpus: a second call rewrites nothing") {
    val before = listing(gate)
    assert(before.exists(_._1.endsWith("_COMPLETE")))
    ScaleCorpus.build(spark, src, gate, 2)
    assert(listing(gate) == before)
  }

  test("SkewCorpus.build: same row counts, top l_partkey holds ~10% under 4,2,1") {
    val skew = tmpDir("sfskew") + "/sfskew2"
    SkewCorpus.build(spark, gate, skew, Seq(4, 2, 1))
    Seq("lineitem", "orders", "events", "supplier").foreach { t =>
      assert(rows(skew, t) == rows(gate, t), t)
    }
    val li = Tables.lineitem(spark, skew)
    val top = li.groupBy("l_partkey").agg(count("*").as("n"))
      .orderBy(desc("n")).limit(1).collect()(0).getLong(1)
    val share = top.toDouble / li.count()
    assert(share >= 0.08 && share <= 0.12, s"top l_partkey share $share")
  }
}
