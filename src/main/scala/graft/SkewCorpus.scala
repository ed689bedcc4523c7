package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Adversarial-skew pressure harness: the scaled corpus
  * ([[ScaleCorpus]], at any K) is disjoint-copy-UNIFORM by
  * construction, so it can never expose a hot-key funnel: each copy's
  * keys are fresh, no reducer ever sees more than one copy's share of
  * a key. Real corpora are Zipf — one part in a huge share of baskets,
  * one user generating a head-heavy slice of events. This builder
  * takes that K× corpus and remaps a deterministic head of rows onto
  * three HUB keys per skew dimension (~10% / 5% / 2.5% of ALL rows — a
  * rank-1 ≈ 2× rank-2 ≈ 2× rank-3 Zipf head), which is the worst case
  * for a hash-partitioned shuffle: one reducer receives a constant
  * FRACTION of the table regardless of parallelism.
  *
  * Skew dimensions (hubs = the 3 smallest existing keys, so dimension
  * tables need no rewrite):
  *   - lineitem.l_partkey  → hub parts: the co-purchase graph gets
  *     hub NODES (g01 wedge pressure at the orientation bound, g02
  *     contribution funnels, g04/g05/g06 label fan-in);
  *   - lineitem.l_suppkey  → hot join key for q33's salted join and
  *     q70's skew report (hashed with a different salt than partkey so
  *     the two heads decorrelate);
  *   - orders.o_custkey    → hot window partition for q15 (top-k) and
  *     q16 (running sum — the worst window shape: ONE task sorts and
  *     scans the hub's entire 10% slice);
  *   - events.user_id      → head-heavy user for q29 sessionize /
  *     q90 streaks.
  *
  * The remap hashes each row's PRIMARY key (xxhash64, deterministic,
  * no RNG — the repo rule), so reruns build byte-identical corpora.
  * Correctness is NOT re-gated here (the remapped corpus has no
  * oracle); the scaled oracle gate owns correctness, THIS harness owns
  * the question "does the plan funnel on a hot key". For each query it
  * times uniform-then-skew interleaved in one session (min-of-two,
  * cache-cleared — the Bench rules) and prints one JSON line of
  * (uniform_sec, skew_sec, ratio). Rows in ≈ rows out (the remap moves
  * rows between keys, it never adds any), so ratio ≈ 1 means the plan
  * absorbed the skew; a large ratio is a funnel to fix (salting, AQE
  * skew split, orientation) — measured, not guessed.
  *
  * Usage: runMain graft.SkewCorpus [copies] [query...]
  * (source = SPARK_GRAFT_SF_DIR, default the sf0.1 test tables; the
  * uniform side is the gate corpus .scaled/sfgate<K>, built or reused,
  * and its skew twin lands in .scaled/sfskew<K>.)
  */
object SkewCorpus {

  /** Head-heavy remap: with `cuts` the cumulative head in fortieths
    * (hub1, hub1+hub2, hub1+hub2+hub3; (4, 6, 7) = 10%/5%/2.5%), a row
    * whose hash falls below cuts(0) moves to hubs(0), below cuts(1) to
    * hubs(1), below cuts(2) to hubs(2); the rest keep their key. `salt`
    * decorrelates multiple skew dimensions on the same table. */
  def skewKey(key: Column, hubs: Seq[Long], salt: String,
      hashCols: Seq[Column], cuts: Seq[Int]): Column = {
    require(hubs.length == 3, s"need 3 hub keys, got ${hubs.length}")
    val h = pmod(xxhash64((lit(salt) +: hashCols): _*), lit(40))
    when(h < cuts(0), lit(hubs(0)))
      .when(h < cuts(1), lit(hubs(1)))
      .when(h < cuts(2), lit(hubs(2)))
      .otherwise(key)
  }

  /** Write the skew twin of the corpus at `uniformDir` (a
    * [[ScaleCorpus.build]] output) to `skewDir`: its lineitem, orders
    * and events with the hub remaps of `head` (3 fortieths per hub)
    * applied, and its supplier copied beside them. A `_COMPLETE`
    * marker, written last, gates reuse. */
  def build(spark: SparkSession, uniformDir: String, skewDir: String,
      head: Seq[Int]): Unit = {
    val done = java.nio.file.Paths.get(s"$skewDir/_COMPLETE")
    if (java.nio.file.Files.exists(done)) return
    System.err.println(s"[skew] building skew twin of $uniformDir at $skewDir")
    val cuts = head.scanLeft(0)(_ + _).tail

    def smallest3(df: DataFrame, c: String): Seq[Long] =
      df.select(col(c).cast("long")).distinct().orderBy(col(c)).limit(3)
        .collect().map(_.getLong(0)).toSeq

    def write(df: DataFrame, name: String): Unit = {
      df.write.mode("overwrite").parquet(s"$skewDir/$name.parquet")
      System.err.println(s"[skew] wrote $skewDir/$name")
    }

    val li = Tables.lineitem(spark, uniformDir)
    val liHash = Seq(col("l_orderkey"), col("l_linenumber"))
    write(li
        .withColumn("l_partkey", skewKey(col("l_partkey"),
          smallest3(li, "l_partkey"), "part", liHash, cuts))
        .withColumn("l_suppkey", skewKey(col("l_suppkey"),
          smallest3(li, "l_suppkey"), "supp", liHash, cuts)),
      "lineitem")
    val ord = Tables.orders(spark, uniformDir)
    write(ord.withColumn("o_custkey", skewKey(col("o_custkey"),
      smallest3(ord, "o_custkey"), "cust", Seq(col("o_orderkey")), cuts)), "orders")
    val ev = Tables.events(spark, uniformDir)
    write(ev.withColumn("user_id", skewKey(col("user_id"),
      smallest3(ev, "user_id"), "user", Seq(col("event_id")), cuts)), "events")
    // suppkeys are shifted per copy, so only the gate corpus's own
    // supplier matches the remapped lineitem
    write(Tables.supplier(spark, uniformDir), "supplier")
    java.nio.file.Files.write(done, s"head=${head.mkString(",")}\n".getBytes("UTF-8"))
  }

  def main(args: Array[String]): Unit = {
    val srcDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    // head profile in fortieths: "4,2,1" = 10%/5%/2.5% (the default
    // Zipf head); SPARK_GRAFT_SKEW_HEAD="16,4,2" builds a 40%/10%/5%
    // corpus under .scaled/sfskew<K>h<a-b-c> for sharper-funnel probes
    val head = sys.env.getOrElse("SPARK_GRAFT_SKEW_HEAD", "4,2,1")
      .split(",").map(_.trim.toInt).toSeq
    require(head.length == 3 && head.sum <= 40 && head.forall(_ >= 1),
      s"SPARK_GRAFT_SKEW_HEAD must be 3 positive fortieths summing <= 40, got $head")
    // tag carries the FULL profile, not its sum: "16,4,2" and "12,8,2"
    // both sum to 22 and must never silently share a corpus dir
    val headTag = if (head == Seq(4, 2, 1)) "" else s"h${head.mkString("-")}"
    val copies = if (args.length > 0) args(0).toInt else 10
    val names =
      if (args.length > 1) args.drop(1).toSeq
      else Seq("g01_triangle_census", "g02_pagerank", "g04_components",
        "g05_components_contract", "g06_components_auto",
        "q15_window_topk", "q16_window_running", "q101_running_segmented",
        "q29_sessionize", "q90_streaks", "q33_salted_join", "q102_salted_auto",
        "q70_skew_report")
    val uniformDir = CorpusPaths.sfgate(copies)
    val skewDir = CorpusPaths.sfskew(copies, headTag)
    val spark = Harness.session(Harness.confs(Harness.cpus(4),
      "spark.sql.adaptive.enabled" -> "true"))
    ScaleCorpus.build(spark, srcDir, uniformDir, copies)
    build(spark, uniformDir, skewDir, head)

    // ---- interleaved A/B (the Bench force + hygiene rules) ----
    def timeOn(name: String, dir: String): Double = {
      val fn = SparkEntry.queries(name)
      def once: Double = {
        val t0 = System.nanoTime()
        Harness.force(fn(spark, dir)); (System.nanoTime() - t0) / 1e9
      }
      val a = once
      spark.catalog.clearCache()
      math.min(a, once)
    }
    Harness.force(SparkEntry.queries(names.head)(spark, srcDir)) // warmup at source SF
    import Harness.num
    val rows = names.map { n =>
      val u = timeOn(n, uniformDir)
      spark.catalog.clearCache()
      val s = timeOn(n, skewDir)
      spark.catalog.clearCache()
      System.err.println(f"[skew] $n uniform ${u}%.3f s, skew ${s}%.3f s (${s / u}%.2fx)")
      s""""$n":{"uniform":${num(u)},"skew":${num(s)},"ratio":${num(s / u)}}"""
    }
    val line = rows.mkString(
      s"""{"metric":"skew${copies}x","unit":"sec","queries":{""", ",", s"""},"src":"$srcDir"}""")
    spark.stop()
    println(line)
  }
}
