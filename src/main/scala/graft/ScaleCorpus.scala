package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** The one K× scaled-corpus builder: the corpus of the ORACLE GATE at
  * sf1-equivalent scale (sf0.1 × 10 ≈ TPC-H sf1: ~6M lineitem rows),
  * and the corpus `BenchAtScale` times and `SkewCorpus` skews.
  *
  * Every key family shifts by ONE shared base = max over all tables
  * referencing that family, +1:
  *
  *   orderkey:  orders.o_orderkey ∪ lineitem.l_orderkey
  *   partkey:   part.p_partkey    ∪ lineitem.l_partkey
  *   suppkey:   supplier.s_suppkey ∪ lineitem.l_suppkey
  *   custkey:   customer.c_custkey ∪ orders.o_custkey
  *   docid:     documents.doc_id  ∪ embeddings.vec_id
  *
  * so copy i of any referencing row still points at copy i of the
  * referenced row — the scaled corpus is K disjoint FK-consistent
  * copies (per-table bases would break the TPC-H star joins and the
  * documents↔embeddings id join: max(l_orderkey) need not equal
  * max(o_orderkey)). region/nation are dimension enums (25/5 rows at
  * any SF) and copy through verbatim; nationkeys are NOT shifted
  * anywhere, so each copy's customers/suppliers share them, exactly as
  * real TPC-H scale growth behaves. Events shift both ids (fresh user
  * populations over the same timeline).
  *
  * Documents: copy ≥ 1 PREFIXES every token with the copy tag (`c<i>_`).
  * Within a copy the original near-dup structure is preserved (dedup
  * work scales ~K×), while across copies every shingle differs —
  * without the prefix, copies would be trivial near-dups of each other
  * and candidate pairs would grow K²-quadratically BY CONSTRUCTION,
  * measuring the synthetic data rather than the plan. Vocabulary grows
  * K× (a real 10× corpus grows sublinearly), which makes the
  * vocab-bounded queries' measurement conservative.
  *
  * Embeddings: copy ≥ 1 applies a distinct member of the
  * rotation+reflection group: rotate left by (copy mod dim), and
  * REVERSE the vector on every second lap around the dimension. Both
  * transforms are orthogonal (permutations), so within a copy all
  * pairwise cosines are preserved exactly — ANN work scales ~K× — while
  * a copy of vector v is decorrelated from other copies instead of
  * being its exact duplicate (K² candidate pairs by construction
  * again). A bare rotation caps out at dim copies: copy dim would
  * rotate by dim (= identity, a slice-by-negative-length crash en
  * route), and copy dim+j would exactly duplicate copy j; the
  * reflection lap doubles the distinct transforms to 2·dim (128 at the
  * 64-dim corpus — `dim` is probed once and the cap required).
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
    build(spark, srcDir, outDir, copies)
    spark.stop()
  }

  /** Write `copies` FK-consistent copies of the tables in `srcDir` to
    * `outDir`. A `_COMPLETE` marker, written last, gates reuse: a
    * complete corpus is returned at once, an interrupted build is
    * rebuilt rather than read with tables missing. */
  def build(spark: SparkSession, srcDir: String, outDir: String, copies: Int): Unit = {
    val donePath = java.nio.file.Paths.get(s"$outDir/_COMPLETE")
    if (java.nio.file.Files.exists(donePath)) {
      System.err.println(s"[scale] reusing complete corpus at $outDir")
      return
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

    // documents: token prefix on the SHARED doc base, so the embeddings
    // id join stays aligned
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

    // embeddings: rotation+reflection on the SHARED doc base, so the
    // documents↔embeddings id join stays aligned
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
  }
}
