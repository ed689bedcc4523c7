package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Full-consistency scaled corpus for the ORACLE GATE at sf1-equivalent
  * scale (sf0.1 × 10 ≈ TPC-H sf1: ~6M lineitem rows).
  *
  * `BenchAtScale` scales seven tables independently — enough for timing
  * single-table plans, but its per-table max-id shift bases break
  * cross-table joins (max(l_orderkey) need not equal max(o_orderkey),
  * so copy i of lineitem lands on different keys than copy i of
  * orders). The gate runs EVERY registered query, including the TPC-H
  * family's 4-way star joins and the documents↔embeddings id join, so
  * this builder shifts every key family by ONE shared base =
  * max over all tables referencing that family, +1:
  *
  *   orderkey:  orders.o_orderkey ∪ lineitem.l_orderkey
  *   partkey:   part.p_partkey    ∪ lineitem.l_partkey
  *   suppkey:   supplier.s_suppkey ∪ lineitem.l_suppkey
  *   custkey:   customer.c_custkey ∪ orders.o_custkey
  *   docid:     documents.doc_id  ∪ embeddings.vec_id
  *
  * so copy i of any referencing row still points at copy i of the
  * referenced row — the scaled corpus is K disjoint FK-consistent
  * copies. region/nation are dimension enums (25/5 rows at any SF) and
  * copy through verbatim; nationkeys are NOT shifted anywhere, so each
  * copy's customers/suppliers share them, exactly as real TPC-H scale
  * growth behaves. Documents keep BenchAtScale's token-prefix rule and
  * embeddings its rotation rule (within-copy near-dup structure
  * preserved, no synthetic K² cross-copy pairs); events shift both ids
  * (fresh user populations over the same timeline).
  *
  * Usage: runMain graft.ScaleCorpus [outDir] [copies]
  * (source = SPARK_GRAFT_SF_DIR, default /root/testdata/sf0.1).
  */
object ScaleCorpus {
  def main(args: Array[String]): Unit = {
    val srcDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val copies = if (args.length > 1) args(1).toInt else 10
    val outDir = if (args.length > 0) args(0) else CorpusPaths.sfgate(copies)
    val spark = Harness.session(Harness.confs(Harness.cpus(8),
      "spark.sql.adaptive.enabled" -> "true"))

    val donePath = java.nio.file.Paths.get(s"$outDir/_COMPLETE")
    if (java.nio.file.Files.exists(donePath)) {
      System.err.println(s"[scale] reusing complete corpus at $outDir")
      spark.stop(); return
    }

    def maxOf(df: DataFrame, c: String): Long =
      df.agg(max(col(c).cast("long"))).collect()(0).getLong(0)
    val ord = Tables.orders(spark, srcDir)
    val li = Tables.lineitem(spark, srcDir)
    val baseOrd = math.max(maxOf(ord, "o_orderkey"), maxOf(li, "l_orderkey")) + 1
    val basePart = math.max(maxOf(Tables.part(spark, srcDir), "p_partkey"),
      maxOf(li, "l_partkey")) + 1
    val baseSupp = math.max(maxOf(Tables.supplier(spark, srcDir), "s_suppkey"),
      maxOf(li, "l_suppkey")) + 1
    val baseCust = math.max(maxOf(Tables.customer(spark, srcDir), "c_custkey"),
      maxOf(ord, "o_custkey")) + 1
    val baseDoc = math.max(maxOf(Tables.documents(spark, srcDir), "doc_id"),
      maxOf(Tables.embeddings(spark, srcDir), "vec_id")) + 1

    /** K copies with each (column → shared base) shifted by copy × base. */
    def shifted(df: DataFrame, shifts: (String, Long)*): DataFrame =
      (0 until copies).map { i =>
        shifts.foldLeft(df) { case (d, (c, base)) =>
          d.withColumn(c, col(c) + lit(i * base))
        }
      }.reduce(_ unionByName _)

    def write(df: DataFrame, name: String): Unit = {
      df.write.mode("overwrite").parquet(s"$outDir/$name.parquet")
      System.err.println(s"[scale] wrote $name")
    }

    System.err.println(s"[scale] building FK-consistent ${copies}x corpus at $outDir from $srcDir")
    write(Tables.region(spark, srcDir), "region")
    write(Tables.nation(spark, srcDir), "nation")
    write(shifted(Tables.customer(spark, srcDir), "c_custkey" -> baseCust), "customer")
    write(shifted(Tables.supplier(spark, srcDir), "s_suppkey" -> baseSupp), "supplier")
    write(shifted(Tables.part(spark, srcDir), "p_partkey" -> basePart), "part")
    write(shifted(ord, "o_orderkey" -> baseOrd, "o_custkey" -> baseCust), "orders")
    write(shifted(li, "l_orderkey" -> baseOrd, "l_partkey" -> basePart,
      "l_suppkey" -> baseSupp), "lineitem")

    // documents: BenchAtScale's token-prefix rule, but on the SHARED doc
    // base so the embeddings id join stays aligned
    val docs = Tables.documents(spark, srcDir)
    write((0 until copies).map { i =>
      val tagged =
        if (i == 0) col("text")
        else when(col("text").isNotNull,
          array_join(transform(split(col("text"), " "),
            t => concat(lit(s"c${i}_"), t)), " "))
      docs.withColumn("doc_id", col("doc_id") + lit(i * baseDoc))
        .withColumn("text", tagged)
    }.reduce(_ unionByName _), "documents")

    // rotation+reflection decorrelation (the BenchAtScale.scaleEmbeddings
    // rule — see its scaladoc for why a bare rotation caps out at dim
    // copies), but on the SHARED doc base so the documents↔embeddings
    // id join stays aligned
    val emb = Tables.embeddings(spark, srcDir)
    val embDim = emb.where(col("embedding").isNotNull)
      .select(size(col("embedding"))).limit(1).collect()(0).getInt(0)
    require(copies <= 2 * embDim,
      s"embedding decorrelation supports at most 2*dim = ${2 * embDim} copies, got $copies")
    write((0 until copies).map { i =>
      val r = i % embDim
      val rotated =
        if (r == 0) col("embedding")
        else expr(s"concat(slice(embedding, ${r + 1}, size(embedding) - $r), " +
          s"slice(embedding, 1, $r))")
      val decorrelated = if ((i / embDim) % 2 == 1) reverse(rotated) else rotated
      emb.withColumn("vec_id", col("vec_id") + lit(i * baseDoc))
        .withColumn("embedding", decorrelated)
    }.reduce(_ unionByName _), "embeddings")

    // events: write `ts` ALREADY micros-converted (Tables.events
    // normalizes every source layout to session-UTC TIMESTAMP, so the
    // corpus round-trips through the same loader with identical values)
    // — the parquet column must be a real TIMESTAMP for the DuckDB
    // oracle's CAST(ts AS DATE) to work, and Spark cannot write
    // TIMESTAMP(NANOS) back
    val ev = Tables.events(spark, srcDir)
    val maxEv = maxOf(ev, "event_id") + 1
    val maxUser = maxOf(ev, "user_id") + 1
    write(shifted(ev, "event_id" -> maxEv, "user_id" -> maxUser), "events")

    java.nio.file.Files.write(donePath, s"copies=$copies\n".getBytes("UTF-8"))
    spark.stop()
  }
}
