package graft.ops

import graft.SparkSpec
import org.apache.spark.sql.functions._

class SimilaritySpec extends SparkSpec {
  import spark.implicits._

  private val vecs = Seq(
    (0L, Array(1.0f, 0.0f, 0.0f)),
    (1L, Array(1.0f, 0.0f, 0.0f)),   // identical to query
    (2L, Array(0.0f, 1.0f, 0.0f)),   // orthogonal
    (3L, Array(0.7f, 0.7f, 0.0f)),   // 45 degrees
    (4L, Array(-1.0f, 0.0f, 0.0f))   // opposite
  ).toDF("vec_id", "embedding")

  test("brute-force top-k: exact cosine ordering, query row excluded") {
    val got = Similarity.bruteForceTopK(vecs, "vec_id", "embedding",
        vecs.where(col("vec_id") === 0), "vec_id", k = 4)
      .collect().map(r => (r.getLong(0), r.getDouble(1)))
    assert(got.map(_._1).toSeq == Seq(1L, 3L, 2L, 4L))
    assert(got(0)._2 == 1.0)
    assert(math.abs(got(1)._2 - math.sqrt(0.5)) < 1e-9)
    assert(got(2)._2 == 0.0 && got(3)._2 == -1.0)
  }

  test("lsh bucketing: identical vectors share a bucket and rank first") {
    val got = Similarity.lshBucketed(vecs, "vec_id", "embedding",
        vecs.where(col("vec_id") === 0), "vec_id", k = 3, nPlanes = 4)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getLong(3)))
    // vec 1 (identical) must be in the query's bucket and ranked 1
    val first = got.find(_._4 == 1L).get
    assert(first._2 == 1L && first._3 == 1.0)
    // every candidate is from the same bucket: cos against opposite vector
    // can never appear with positive rank 1
    assert(got.forall { case (q, d, _, _) => q == 0L && d != 0L })
  }

  test("embedding near-dups: candidates are a subset of brute-force pairs; exact dup found") {
    val nearDups = Similarity.embeddingNearDups(vecs, "vec_id", "embedding",
        minCosine = 0.9, nPlanes = 2)
      .collect().map(r => ((r.getLong(0), r.getLong(1)), r.getDouble(2))).toMap
    // identical pair (0,1) shares every SRP bucket -> must be found at cos 1.0
    assert(nearDups.get((0L, 1L)).contains(1.0))
    // every reported pair genuinely clears the threshold (exact verify ran)
    assert(nearDups.values.forall(_ >= 0.9))
    // and ordering convention holds
    assert(nearDups.keys.forall { case (a, b) => a < b })
  }

  test("IVF ANN: probing all lists recovers the exact brute-force top-k") {
    // 20 vectors in two tight clusters + the query
    val data = ((0 until 10).map(i => (i.toLong, Array(1.0f, 0.01f * i, 0.0f))) ++
      (10 until 20).map(i => (i.toLong, Array(0.0f, 1.0f, 0.01f * i))))
      .toDF("vec_id", "embedding")
    val q = data.where(col("vec_id") === 0)
    val exact = Similarity.bruteForceTopK(data, "vec_id", "embedding", q, "vec_id", k = 5)
      .collect().map(r => (r.getLong(0), r.getDouble(1)))
    // nProbe == nLists → every cell probed → must equal brute force
    val all = Similarity.ivfTopK(data, "vec_id", "embedding", q, "vec_id", k = 5,
        nLists = 4, nProbe = 4)
      .orderBy(col("rank"))
      .collect().map(r => (r.getLong(1), r.getDouble(2)))
    assert(all.toSeq == exact.toSeq)
    // nProbe = 1 probes only the query's own cluster — still finds the
    // same-cluster neighbours (vectors 1..9 dominate the top-5)
    val probed = Similarity.ivfTopK(data, "vec_id", "embedding", q, "vec_id", k = 5,
        nLists = 2, nProbe = 1)
      .collect().map(r => r.getLong(1))
    assert(probed.forall(id => id >= 1 && id <= 9))
  }

  test("portable IVF: full probe recovers brute force; output is partition-invariant") {
    val data = ((0 until 10).map(i => (i.toLong, Array(1.0f, 0.01f * i, 0.0f))) ++
      (10 until 20).map(i => (i.toLong, Array(0.0f, 1.0f, 0.01f * i))))
      .toDF("vec_id", "embedding")
    val q = data.where(col("vec_id") === 0)
    val exact = Similarity.bruteForceTopK(data, "vec_id", "embedding", q, "vec_id", k = 5)
      .collect().map(r => (r.getLong(0), r.getDouble(1)))
    // nProbe == nLists → every cell probed → must equal brute force
    val all = Similarity.ivfTopKPortable(data, "vec_id", "embedding", q, "vec_id",
        k = 5, nLists = 4, nProbe = 4)
      .orderBy(col("rank"))
      .collect().map(r => (r.getLong(1), r.getDouble(2)))
    assert(all.toSeq == exact.toSeq)
    // deterministic k-means: the full result (cells included) is
    // bit-identical under a different input partitioning
    def run(df: org.apache.spark.sql.DataFrame) =
      Similarity.ivfTopKPortable(df, "vec_id", "embedding",
          df.where(col("vec_id") === 0), "vec_id", k = 5, nLists = 3, nProbe = 2)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getLong(3))).toSet
    assert(run(data) == run(data.repartition(7)))
  }

  test("semDedup: within-cell duplicates point at their smallest in-cell neighbour; distinct vectors keep") {
    // two tight direction groups + one singleton; nLists = 2 puts each
    // group in one cell, so the ε-ball decision is exercised in-cell
    val data = Seq(
      (0L, Array(1.0f, 0.0f, 0.0f)),
      (1L, Array(1.0f, 0.0f, 0.0f)),    // exact dup of 0  → dup_of 0
      (2L, Array(0.99f, 0.01f, 0.0f)),  // near-dup of 0   → dup_of 0
      (3L, Array(0.0f, 1.0f, 0.0f)),
      (4L, Array(0.0f, 1.0f, 0.0f)),    // exact dup of 3  → dup_of 3
      (5L, Array(0.0f, 0.0f, 1.0f))     // orthogonal to everything
    ).toDF("vec_id", "embedding")
    val got = Similarity.semDedup(data, "vec_id", "embedding",
        minCosine = 0.9, nLists = 2)
      .collect().map(r => r.getLong(0) ->
        ((if (r.isNullAt(2)) -1L else r.getLong(2), r.getBoolean(3),
          r.getBoolean(4)))).toMap
    assert(got(0L) == ((-1L, true, false)))
    assert(got(1L) == ((0L, false, false)))
    assert(got(2L) == ((0L, false, false)))
    // 3/4/5's fate depends on the cell split of the 2-means, but the
    // dup laws must hold: 4 dups 3 IF they share a cell (they are
    // identical vectors, so they always quantize to the same cell)
    assert(got(4L) == ((3L, false, false)))
    assert(got(3L)._2 && got(5L)._2, "non-duplicated vectors must keep")
    assert(got.size == 6)
  }

  test("semDedup: the min-id policy is NON-transitive — a chain's tail drops via an itself-dropped dup_of") {
    // a~b and b~c within the ball, a~c outside it: c drops because b
    // (a smaller id, itself dropped) is within c's ball — dup_of points
    // at a DROPPED row by design; the kept representative is reached by
    // following dup_of transitively. cos(a,b)=cos(b,c)≈0.9848,
    // cos(a,c)≈0.9397 < 0.95.
    import math.{cos => mcos, sin => msin}
    def unit(deg: Double) = Array(
      (1000 * mcos(deg.toRadians)).toFloat / 1000f,
      (1000 * msin(deg.toRadians)).toFloat / 1000f)
    val data = Seq(
      (0L, unit(0)), (1L, unit(10)), (2L, unit(20))
    ).toDF("vec_id", "embedding")
    val got = Similarity.semDedup(data, "vec_id", "embedding",
        minCosine = 0.95, nLists = 1) // one cell: the policy, not the clustering
      .collect().map(r => r.getLong(0) ->
        ((if (r.isNullAt(2)) -1L else r.getLong(2), r.getBoolean(3)))).toMap
    assert(got(0L) == ((-1L, true)))
    assert(got(1L) == ((0L, false)))
    // the policy under test: 2 drops pointing at 1, which is itself dropped
    assert(got(2L) == ((1L, false)))
  }

  test("semDedup: a zero-quantizing vector never forms pairs — always keeps, on both sides") {
    // 0.0002 rounds to 0 at milli quantization → zero norm; without the
    // guard its cosine vs anything is 0/0. It must keep, and it must
    // not drag its identical zero-quantizing twin into a pair either.
    val data = Seq(
      (0L, Array(1.0f, 0.0f)),
      (1L, Array(1.0f, 0.0f)),         // real dup of 0
      (2L, Array(0.0002f, 0.0002f)),   // quantizes to (0, 0)
      (3L, Array(0.0002f, 0.0002f))    // identical zero-quantizer
    ).toDF("vec_id", "embedding")
    val got = Similarity.semDedup(data, "vec_id", "embedding",
        minCosine = 0.9, nLists = 8)
      .collect().map(r => r.getLong(0) -> ((r.isNullAt(2), r.getBoolean(3)))).toMap
    assert(got(1L) == ((false, false)), "real dups still dedup")
    assert(got(2L) == ((true, true)) && got(3L) == ((true, true)),
      "zero-norm quantized vectors keep unconditionally")
  }

  test("autoLists: ceil(sqrt(n)) with the [8, 1024] clamp — the assignment/pair balance point") {
    assert(Similarity.autoLists(0L) == 8)
    assert(Similarity.autoLists(64L) == 8)        // exactly the floor
    assert(Similarity.autoLists(500L) == 23)      // sf0.01 gate: ceil(22.36)
    assert(Similarity.autoLists(2000L) == 45)     // sf0.1: ceil(44.72)
    assert(Similarity.autoLists(20000L) == 142)   // 10x gate: ceil(141.42)
    assert(Similarity.autoLists(160000L) == 400)  // perfect square: exact
    assert(Similarity.autoLists(200000L) == 448)  // the 100x corpus
    assert(Similarity.autoLists(10000000L) == 1024) // clamp
  }

  test("semDedupAutoSized: derives the dial from the corpus and still dedups") {
    val data = Seq(
      (0L, Array(1.0f, 0.0f)), (1L, Array(1.0f, 0.0f)),
      (2L, Array(0.0f, 1.0f))).toDF("vec_id", "embedding")
    val got = Similarity.semDedupAutoSized(data, "vec_id", "embedding",
        minCosine = 0.9) // n = 3 → nLists = 8 via the clamp
      .collect().map(r => r.getLong(0) -> r.getBoolean(3)).toMap
    assert(got == Map(0L -> true, 1L -> false, 2L -> true))
    // planted exact duplicates: 64 originals e_i + e_(i+1)/2, whose
    // pairwise cosine is at most 0.4 < τ, plus an exact copy of every
    // 4th under a shifted id. Each copy drops with dup_of = its
    // original, every original keeps, and the √n dial caps no cell.
    val shift = 1000L
    val originals = (0 until 64).map { i =>
      val v = Array.fill(64)(0.0f); v(i) = 1.0f; v((i + 1) % 64) = 0.5f
      (i.toLong, v)
    }
    val planted = originals.collect { case (id, v) if id % 4 == 0 => (id + shift, v) }
    val res = Similarity.semDedupAutoSized((originals ++ planted).toDF("vec_id", "embedding"),
        "vec_id", "embedding", minCosine = 0.8)
      .select(col("vec_id"), col("dup_of"), col("keep"), col("cell_capped"))
      .as[(Long, Option[Long], Boolean, Boolean)].collect()
    val (copies, kept) = res.partition(_._1 >= shift)
    assert(copies.length == planted.length)
    assert(copies.forall { case (id, dupOf, keep, _) => !keep && dupOf.contains(id - shift) })
    assert(kept.length == originals.length && kept.forall(_._3), "an original dropped")
    assert(!res.exists(_._4), "a cell was capped at the auto-sized dial")
  }

  test("semDedup: an over-cap cell is excluded from pair formation and audited, never half-deduped") {
    val data = (0L to 5L).map(i => (i, Array(1.0f, 0.0f))).toDF("vec_id", "embedding")
    val got = Similarity.semDedup(data, "vec_id", "embedding",
        minCosine = 0.9, nLists = 2, maxCellSize = 3)
      .collect().map(r => (r.getLong(0), r.isNullAt(2), r.getBoolean(3), r.getBoolean(4)))
    // all six identical vectors land in one cell of size 6 > 3: every
    // row keeps (no silent partial dedup) and carries the audit flag
    assert(got.forall { case (_, dupNull, keep, capped) => dupNull && keep && capped })
    assert(got.length == 6)
  }

  test("pcaPowerProjection: recovers the dominant direction on a rank-1 fixture; partition-invariant") {
    // all mass along (3, 1): projections must be proportional to the
    // coefficient of each vector on that axis, sign fixed by the
    // all-positive v0 (PSD covariance cannot flip it)
    val data = Seq(
      (1L, Array(3.0f, 1.0f)),
      (2L, Array(-3.0f, -1.0f)),
      (3L, Array(6.0f, 2.0f)),
      (4L, Array(0.0f, 0.0f))
    ).toDF("vec_id", "embedding")
    def run(df: org.apache.spark.sql.DataFrame) =
      Similarity.pcaPowerProjection(df, "vec_id", "embedding", dims = 2)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val got = run(data)
    assert(got(1L) > 0, s"sign must follow the all-positive v0: $got")
    assert(got(2L) == -got(1L) && got(3L) == 2 * got(1L) && got(4L) == 0L, got.toString)
    // the recurrence is integer end to end → bit-identical under any
    // input partitioning
    assert(run(data.repartition(5)) == got)
  }

  // deterministic pseudo-random corpus: 60 distinct 16-dim originals plus
  // 30 planted near-dup clones (one coordinate nudged → cos ≈ 0.95)
  private val plantedDim = 16
  private def plantedBase(i: Int): Array[Float] = Array.tabulate(plantedDim) { j =>
    ((((i * 31 + j * 7) % 13) - 6) / 6.0f) + ((((i * 29 + j * 5) % 11) - 5) / 30.0f)
  }
  private lazy val planted = {
    val originals = (0 until 60).map(i => (i.toLong, plantedBase(i)))
    val clones = (0 until 30).map { i =>
      val v = plantedBase(i); v(i % plantedDim) += 0.8f
      ((i + 1000).toLong, v)
    }
    (originals ++ clones).toDF("vec_id", "embedding")
  }

  test("pqTopK: with a lossless codebook the ADC ranking equals the exact quantized-d2 ranking") {
    // 8 vectors of dim 8 (nSub=2, subDim=4), every subvector distinct and
    // n == nCentroids == trainable set: k-means init holds all 8 patterns
    // and floor-of-mean keeps each (singleton cells), so encoding is
    // LOSSLESS and ADC must reproduce the exact d2 order bit-for-bit
    val base = (0 until 8).map { i =>
      val a = Array.tabulate(4)(d => (i * 7 + d * 3 + 1) * 0.001f)
      val b = Array.tabulate(4)(d => (i * 11 + d * 5 + 2) * 0.001f)
      (i.toLong, a ++ b)
    }
    val df = base.toDF("vec_id", "embedding")
    val got = Similarity.pqTopK(df, "vec_id", "embedding",
        df.where(col("vec_id") < 2), "vec_id", k = 7,
        nSub = 2, nCentroids = 8, iters = 2, trainCap = 100)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getLong(3)))
    // driver-side exact recomputation over quantized (x1000) ints
    val q = base.map { case (id, v) => id -> v.map(x => math.round(x * 1000.0).toDouble) }.toMap
    for (qid <- Seq(0L, 1L)) {
      val expOrder = q.keys.filter(_ != qid).toSeq
        .map { id =>
          val d2 = q(id).zip(q(qid)).map { case (x, y) => (x - y) * (x - y) }.sum
          (id, d2)
        }.sortBy { case (id, d2) => (d2, id) }.map(_._1)
      val gotOrder = got.filter(_._1 == qid).sortBy(_._4).map(_._2).toSeq
      assert(gotOrder == expOrder, s"query $qid: got $gotOrder expected $expOrder")
      // adc differs from d2 by the query-constant |q|^2: check the shift
      val shift = q(qid).map(x => x * x).sum
      got.filter(_._1 == qid).foreach { case (_, id, adc, _) =>
        val d2 = q(id).zip(q(qid)).map { case (x, y) => (x - y) * (x - y) }.sum
        assert(adc + shift == d2, s"ADC not exact for pair ($qid,$id)")
      }
    }
    // compressed-scan plan: the corpus side never shuffles before the
    // per-query ranking window; queries arrive broadcast
    val plan = Similarity.pqTopK(df, "vec_id", "embedding",
      df.where(col("vec_id") < 2), "vec_id", k = 7,
      nSub = 2, nCentroids = 8, iters = 2, trainCap = 100)
      .queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastNestedLoopJoin") || plan.contains("BroadcastHashJoin"), plan)
  }

  test("ivfPqTopK: probing every cell recovers pqTopK exactly — pruning bounds candidates, never bends scores") {
    val base = (0 until 8).map { i =>
      val a = Array.tabulate(4)(d => (i * 7 + d * 3 + 1) * 0.001f)
      val b = Array.tabulate(4)(d => (i * 11 + d * 5 + 2) * 0.001f)
      (i.toLong, a ++ b)
    }
    val df = base.toDF("vec_id", "embedding")
    def rows(got: org.apache.spark.sql.DataFrame) = got.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getLong(3))).toSet
    val pq = rows(Similarity.pqTopK(df, "vec_id", "embedding",
      df.where(col("vec_id") < 2), "vec_id", k = 7,
      nSub = 2, nCentroids = 8, iters = 2))
    val ivfpq = rows(Similarity.ivfPqTopK(df, "vec_id", "embedding",
      df.where(col("vec_id") < 2), "vec_id", k = 7,
      nLists = 4, nProbe = 4, cellIters = 3,
      nSub = 2, nCentroids = 8, pqIters = 2))
    assert(ivfpq == pq, s"full-probe IVF-PQ diverged:\n$ivfpq\nvs\n$pq")
    // and with real pruning the output is a subset of the full ranking's
    // candidates (ranks re-pack per query, so compare (query, data) pairs)
    val pruned = rows(Similarity.ivfPqTopK(df, "vec_id", "embedding",
      df.where(col("vec_id") < 2), "vec_id", k = 7,
      nLists = 4, nProbe = 1, cellIters = 3,
      nSub = 2, nCentroids = 8, pqIters = 2))
    assert(pruned.map(t => (t._1, t._2)).subsetOf(pq.map(t => (t._1, t._2))))
  }

  test("planted near-dups: amplified LSH (tables + 1-bit probes) keeps recall high") {
    val pairs = Similarity.embeddingNearDups(planted, "vec_id", "embedding",
        minCosine = 0.9) // default dials: 12-bit codes x 4 tables x 1-bit probe
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val found = (0 until 30).count(i => pairs.contains((i.toLong, (i + 1000).toLong)))
    assert(found >= 24, s"planted-pair recall $found/30 at default dials")
  }

  test("lshBucketed at default dials recovers the true neighbour of planted queries") {
    val queries = planted.where(col("vec_id") >= 1000L && col("vec_id") < 1010L)
    val top1 = Similarity.lshBucketed(planted, "vec_id", "embedding",
        queries, "vec_id", k = 1)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val hits = (0 until 10).count(i => top1.get((i + 1000).toLong).contains(i.toLong))
    assert(hits >= 8, s"top-1 recall $hits/10 at default dials")
  }

  test("native graft_srp_codes == composed table-bucket form, table for table") {
    val df = planted.select(col("vec_id"), Similarity.quantize(col("embedding")).as("q"))
    val native = df.select(col("vec_id"),
        Similarity.srpTableCodes(col("q"), nTables = 4, nPlanes = 12, dim = plantedDim).as("codes"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
    val composed = df.select(col("vec_id"),
        Similarity.srpTableBucketsQ(col("q"), nTables = 4, nPlanes = 12, dim = plantedDim).as("tb"))
      .collect().map { r =>
        r.getLong(0) -> r.getSeq[org.apache.spark.sql.Row](1)
          .sortBy(_.getInt(0)).map(_.getLong(1))
      }.toMap
    assert(native.keySet == composed.keySet)
    native.keySet.foreach(k => assert(native(k) == composed(k), s"vec $k"))
    // NaN-bearing vectors: Spark's NaN-is-largest ordering means every
    // plane reads "positive" — native must agree with the composed form
    val nanDf = Seq((0L, Array(Float.NaN, 1.0f, 2.0f))).toDF("vec_id", "embedding")
      .select(col("vec_id"), Similarity.quantize(col("embedding")).as("q"))
    val nNan = nanDf.select(Similarity.srpTableCodes(col("q"), 2, 4, 3).as("c"))
      .collect()(0).getSeq[Long](0)
    val cNan = nanDf.select(Similarity.srpTableBucketsQ(col("q"), 2, 4, 3).as("tb"))
      .collect()(0).getSeq[org.apache.spark.sql.Row](0).sortBy(_.getInt(0)).map(_.getLong(1))
    assert(nNan == cNan && nNan.forall(_ == 15L)) // all 4 bits set per table
  }

  test("near-dup bucket cap: identical-vector floods are dropped and auditable") {
    val flood = (0 until 500).map(i => (i.toLong, Array(1.0f, 0.5f, -0.25f, 0.125f)))
      .toDF("vec_id", "embedding")
    assert(Similarity.embeddingNearDups(flood, "vec_id", "embedding",
      minCosine = 0.0, maxBucketSize = 50).isEmpty)
    val overflow = Similarity.nearDupBucketOverflow(flood, "vec_id", "embedding",
        maxBucketSize = 50)
      .collect().map(_.getAs[Long]("n_members"))
    assert(overflow.nonEmpty && overflow.forall(_ == 500L))
  }

  test("quantization keeps dot products exact across row order") {
    val a = Similarity.quantize(col("embedding"))
    val df = vecs.select(col("vec_id"), a.as("q"))
    val rows = df.collect().map(r => r.getLong(0) -> r.getSeq[Double](1)).toMap
    assert(rows(3L) == Seq(700.0, 700.0, 0.0)) // round(0.7f*1000)=700 exactly
  }

  test("covarianceMatrix: exact on a hand-checked fixture, symmetric, diagonal is the per-dim variance") {
    // q (millis): [1000,2000], [3000,4000], [5000,0] -> n=3, s=(9000,6000)
    // sprod: (0,0)=35e6 (0,1)=14e6 (1,1)=20e6
    // cov00 = (3*35e6 - 81e6)/9 = 24e6/9; cov01 = (3*14e6 - 54e6)/9 = -12e6/9
    val vecs = Seq(
      (1L, Array(1.0f, 2.0f)), (2L, Array(3.0f, 4.0f)), (3L, Array(5.0f, 0.0f)))
      .toDF("vec_id", "embedding")
    val m = Similarity.covarianceMatrix(vecs, "embedding", dims = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1)) ->
        (r.getLong(2), r.getLong(3), r.getDouble(4))).toMap
    assert(m.size == 4)
    assert(m((0L, 0L)) == ((3L, 35000000L, 24e6 / 9)))
    assert(m((1L, 1L)) == ((3L, 20000000L, 24e6 / 9)))
    assert(m((0L, 1L)) == ((3L, 14000000L, -12e6 / 9)))
    assert(m((0L, 1L)) == m((1L, 0L)), "covariance must be symmetric")
    // the matrix's diagonal agrees with the d37-style per-dim moments
    // law var = ssq/n - mean^2, scaled by the same n
    val var0 = 35e6 / 3 - math.pow(9000.0 / 3, 2)
    assert(math.abs(m((0L, 0L))._3 - var0) < 1e-6)
  }

  test("auto-sized near-dup: plane count follows the corpus, results equal the explicitly-dialed operator") {
    // the sizing law: constant expected bucket size, clamped [6, 30]
    assert(Similarity.autoPlanes(100L, 8) == 6)       // floor
    assert(Similarity.autoPlanes(200000L, 8) == 15)   // the 100x corpus
    assert(Similarity.autoPlanes(2L << 40, 8) == 30)  // ceiling
    assert(Similarity.autoPlanes(8L << 20, 8) == 20)  // exact power of two
    // auto == explicit at the auto-chosen width (one operator, two dials)
    val vecs = (1L to 60L).map { i =>
      (i, Array.tabulate(8)(d => ((i * 31 + d * 17) % 13 - 6).toFloat))
    }.toDF("vec_id", "embedding")
    val auto = Similarity.embeddingNearDupsAutoSized(
        vecs, "vec_id", "embedding", minCosine = 0.5, targetBucketSize = 8)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val explicit = Similarity.embeddingNearDups(
        vecs, "vec_id", "embedding", minCosine = 0.5,
        nPlanes = Similarity.autoPlanes(60L, 8))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(auto == explicit && auto.nonEmpty, s"auto=$auto explicit=$explicit")
  }

  test("sqTopK: sign-split int8 codes, integer candidate scan, exact rescore ordering") {
    // millis: v0/v1=(1000,0,0) v2=(0,1000,0) v3=(700,700,0) v4=(-1000,0,0)
    // per-dim max|.|: (1000, 1000, 0→floor 1)
    // codes: v0/v1=(127,0,0) v2=(0,127,0) v3=(88,88,0) v4=(-127,0,0)
    // q_score vs v0: v1=16129 v3=11176 v2=0 v4=-16129
    val got = Similarity.sqTopK(vecs, "vec_id", "embedding",
        vecs.where(col("vec_id") === 0), "vec_id", candidates = 4, k = 4)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    assert(got.map(_._1).toSeq == Seq(1L, 3L, 2L, 4L))
    assert(got.map(_._2).toSeq == Seq(16129L, 11176L, 0L, -16129L),
      "integer code dots must be exact (127 and 88 = floor(700*127/1000))")
    // the negative side must quantize by sign-split floor: -127, never
    // the floor-division -128 a naive floor((-1000*127)/1000) would give
    assert(got.last._2 == -16129L)
    // exact rescore equals the brute-force cosines
    assert(got(0)._3 == 1.0)
    assert(math.abs(got(1)._3 - math.sqrt(0.5)) < 1e-9)
    assert(got(2)._3 == 0.0 && got(3)._3 == -1.0)
  }

  test("sqTopK: the candidate stage prunes — a tight candidate budget drops the tail before rescore") {
    val got = Similarity.sqTopK(vecs, "vec_id", "embedding",
        vecs.where(col("vec_id") === 0), "vec_id", candidates = 2, k = 2)
      .collect().map(_.getLong(0)).toSeq
    assert(got == Seq(1L, 3L), s"only the top-2 by code score may survive: $got")
    intercept[IllegalArgumentException] {
      Similarity.sqTopK(vecs, "vec_id", "embedding",
        vecs.where(col("vec_id") === 0), "vec_id", candidates = 2, k = 4)
    }
  }

  test("covarianceMatrix: a null element drops that row from the affected cells only — n matches the sums everywhere") {
    // row 3's dim-1 is null: cells touching dim 1 see n=2, dim-0-only
    // cells still see n=3. Counting the row while sum() skipped it
    // (the count(lit(1)) shape) would bias cov toward zero.
    val vecs = Seq(
      (1L, Array[java.lang.Float](1.0f, 2.0f)),
      (2L, Array[java.lang.Float](3.0f, 4.0f)),
      (3L, Array[java.lang.Float](5.0f, null)))
      .toDF("vec_id", "embedding")
    val m = Similarity.covarianceMatrix(vecs, "embedding", dims = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1)) ->
        (r.getLong(2), r.getLong(3), r.getDouble(4))).toMap
    assert(m((0L, 0L))._1 == 3L, m.toString)
    assert(m((0L, 1L))._1 == 2L, m.toString)
    assert(m((1L, 0L))._1 == 2L, m.toString)
    assert(m((1L, 1L))._1 == 2L, m.toString)
    // (0,1) over the two complete rows: q=(1000,2000),(3000,4000)
    // n=2, sprod=1000*2000+3000*4000=14e6, si=4000, sj=6000
    // -> cov = (2*14e6 - 4000*6000)/4 = 1e6
    assert(m((0L, 1L)) == ((2L, 14000000L, (2 * 14e6 - 24e6) / 4)), m.toString)
    assert(m((0L, 1L)) == m((1L, 0L)), "null handling must stay symmetric")
  }

  test("clusterBalancedSample: per-cell cap engages, cells match semDedup's assignment, draw is deterministic") {
    // perCell large: every vector kept, cells identical to semDedup's
    // (same centroids, same nearest-cell rule)
    val all = Similarity.clusterBalancedSample(vecs, "vec_id", "embedding",
        perCell = 10, nLists = 2)
      .as[(Long, Long)].collect().toMap
    assert(all.keySet == Set(0L, 1L, 2L, 3L, 4L))
    val semCells = Similarity.semDedup(vecs, "vec_id", "embedding",
        minCosine = 2.0, nLists = 2) // cos > 1 never fires: pure assignment
      .select(col("vec_id"), col("cell")).as[(Long, Long)].collect().toMap
    assert(all == semCells)
    // perCell = 1: exactly one survivor per occupied cell
    val one = Similarity.clusterBalancedSample(vecs, "vec_id", "embedding",
        perCell = 1, nLists = 2)
      .as[(Long, Long)].collect()
    assert(one.map(_._2).distinct.length == one.length)
    assert(one.map(_._2).toSet == all.values.toSet)
    // content-keyed rank: the same call twice returns the same rows
    val again = Similarity.clusterBalancedSample(vecs, "vec_id", "embedding",
        perCell = 1, nLists = 2).as[(Long, Long)].collect()
    assert(one.sorted.toSeq == again.sorted.toSeq)
  }

  test("mmrRerank: replays the hand-rolled greedy — near-dup demoted below the diverse candidate") {
    // q tilts off every candidate axis so rel(x) != sim(x, firstPick)
    // (a query parallel to the first pick makes every round-2 mmr
    // collapse to 0 — the degenerate case this fixture avoids)
    val fix = Seq(
      (0L, Array(1.0f, 0.2f)),    // the query
      (1L, Array(1.0f, 0.0f)),
      (2L, Array(1.0f, 0.001f)),  // near-dup of 1
      (3L, Array(0.5f, 0.5f))     // diverse, lower relevance
    ).toDF("vec_id", "embedding")
    // hand-rolled replica of the documented contract: milli-quantized
    // dots, rel = cos to query, penalty = max sim to selected, ties by id
    val qv = Seq(1000.0, 200.0)
    val cs = Map(1L -> Seq(1000.0, 0.0), 2L -> Seq(1000.0, 1.0),
      3L -> Seq(500.0, 500.0))
    def dotp(a: Seq[Double], b: Seq[Double]) =
      a.zip(b).map { case (x, y) => x * y }.sum
    def cosp(a: Seq[Double], b: Seq[Double]) =
      dotp(a, b) / (math.sqrt(dotp(a, a)) * math.sqrt(dotp(b, b)))
    val rel = cs.view.mapValues(cosp(_, qv)).toMap
    var selected = Vector.empty[(Int, Long, Double, Double)]
    for (i <- 1 to 3) {
      val pick = cs.keys.filterNot(id => selected.exists(_._2 == id))
        .map { id =>
          val pen = selected.map(s => cosp(cs(id), cs(s._2)))
            .maxOption.getOrElse(0.0)
          (id, rel(id), rel(id) - pen)
        }
        .minBy { case (id, _, mmr) => (-mmr, id) }
      selected :+= ((i, pick._1, pick._2, pick._3))
    }
    val got = Similarity.mmrRerank(fix, "vec_id", "embedding",
        fix.where(col("vec_id") === 0), "vec_id", nCandidates = 3, k = 3)
      .as[(Int, Long, Double, Double)].collect().sortBy(_._1).toVector
    def r6(x: Double) = BigDecimal(x)
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    val want = selected.map { case (r, id, rl, m) => (r, id, r6(rl), r6(m)) }
    assert(got == want, s"got $got want $want")
    // the fixture exercises diversity: the greedy order is NOT the
    // pure-relevance order (the near-dup of the first pick drops to last)
    val relOrder = rel.toSeq.sortBy { case (id, r) => (-r, id) }.map(_._1)
    assert(got.map(_._2) != relOrder, s"fixture degenerate: $relOrder")
    // rank 1 is pure relevance: mmr2x == cos_sim there
    assert(got.head._3 == got.head._4)
  }

  test("ivfPqRefineTopK: with a single cell (all candidates) the refine recovers the exact brute-force top-k") {
    val fix = Seq(
      (0L, Array(1.0f, 0.0f, 0.0f, 0.0f)),
      (1L, Array(0.9f, 0.1f, 0.0f, 0.0f)),
      (2L, Array(0.0f, 1.0f, 0.0f, 0.0f)),
      (3L, Array(0.5f, 0.5f, 0.5f, 0.0f)),
      (4L, Array(-1.0f, 0.0f, 0.0f, 0.2f)),
      (5L, Array(0.2f, 0.0f, 0.9f, 0.1f))
    ).toDF("vec_id", "embedding")
    val q = fix.where(col("vec_id") === 0)
    val refined = Similarity.ivfPqRefineTopK(fix, "vec_id", "embedding",
      q, "vec_id", k = 3, nCandidates = 5,
      nLists = 1, nProbe = 1, nSub = 2, nCentroids = 4)
      .orderBy("rank")
      .collect().map(r => (r.getLong(1), r.getDouble(2)))
    val brute = Similarity.bruteForceTopK(fix, "vec_id", "embedding",
      q, "vec_id", k = 3)
      .collect().map(r => (r.getLong(0), r.getDouble(1)))
    assert(refined.toSeq == brute.toSeq,
      s"refined=${refined.mkString(",")} brute=${brute.mkString(",")}")
  }

  test("ivfPqRefineTopK: ranks are 1..k per query and every id came from the candidate stage") {
    val fix = Seq(
      (0L, Array(1.0f, 0.0f, 0.0f, 0.0f)),
      (1L, Array(0.9f, 0.1f, 0.0f, 0.0f)),
      (2L, Array(0.0f, 1.0f, 0.0f, 0.0f)),
      (3L, Array(0.5f, 0.5f, 0.5f, 0.0f)),
      (4L, Array(-1.0f, 0.0f, 0.0f, 0.2f))
    ).toDF("vec_id", "embedding")
    val q = fix.where(col("vec_id") < 2)
    val cands = Similarity.ivfPqTopK(fix, "vec_id", "embedding", q, "vec_id",
      k = 3, nLists = 2, nProbe = 2, nSub = 2, nCentroids = 4)
      .select("query_id", "data_id")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val got = Similarity.ivfPqRefineTopK(fix, "vec_id", "embedding",
      q, "vec_id", k = 2, nCandidates = 3,
      nLists = 2, nProbe = 2, nSub = 2, nCentroids = 4)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(3)))
    assert(got.groupBy(_._1).values.forall(_.map(_._3).sorted.toSeq == Seq(1L, 2L)))
    assert(got.forall { case (qid, did, _) => cands.contains((qid, did)) })
  }

  test("ivfPqRefineTopK: nCandidates below k is rejected — the refine can only reorder") {
    val e = intercept[IllegalArgumentException] {
      Similarity.ivfPqRefineTopK(vecs, "vec_id", "embedding",
        vecs.where(col("vec_id") === 0), "vec_id", k = 5, nCandidates = 3)
    }
    assert(e.getMessage.contains("nCandidates"))
  }

  test("mmrRerank: multi-row query frame is rejected up front — it would cross-join duplicate vec_ids into the pool") {
    val fix = Seq(
      (0L, Array(1.0f, 0.2f)), (1L, Array(1.0f, 0.0f)),
      (2L, Array(0.5f, 0.5f))).toDF("vec_id", "embedding")
    val e = intercept[IllegalArgumentException] {
      Similarity.mmrRerank(fix, "vec_id", "embedding",
        fix.where(col("vec_id") < 2), "vec_id", nCandidates = 2, k = 1)
    }
    assert(e.getMessage.contains("single-row"))
  }

  test("hardNegatives: nearest DIFFERENT-label neighbours only; self and same-label excluded; rank order total") {
    // label 0: vecs 0, 1 (1 nearly parallel to 0); label 1: vecs 2, 3
    // (2 parallel to 0 — the hard negative; 3 orthogonal)
    val fix = Seq(
      (0L, Array(1.0f, 0.0f), 0),
      (1L, Array(0.9f, 0.1f), 0),
      (2L, Array(1.0f, 0.05f), 1),
      (3L, Array(0.0f, 1.0f), 1)).toDF("vec_id", "embedding", "label")
    val got = Similarity.hardNegatives(fix, "vec_id", "embedding", "label",
        nQueries = 1, k = 2)
      .select(col("q_id"), col("vec_id"), col("neg_label"), col("rank"))
      .as[(Long, Long, Long, Long)].collect().toSet
    // query = vec 0 (label 0): negatives ranked 2 (cos≈0.999) then 3
    assert(got == Set((0L, 2L, 1L, 1L), (0L, 3L, 1L, 2L)), s"got $got")
    // same-label vec 1 never appears even with a larger k
    val all = Similarity.hardNegatives(fix, "vec_id", "embedding", "label",
        nQueries = 1, k = 10)
      .select(col("vec_id")).as[Long].collect().toSet
    assert(all == Set(2L, 3L), s"got $all")
  }

  test("hardNegatives: per-query top-k plans as WindowGroupLimit — rank filter pushed map-side, never a corpus sort") {
    val fix = Seq(
      (0L, Array(1.0f, 0.0f), 0), (1L, Array(0.5f, 0.5f), 1),
      (2L, Array(0.0f, 1.0f), 2)).toDF("vec_id", "embedding", "label")
    val plan = Similarity.hardNegatives(fix, "vec_id", "embedding", "label",
        nQueries = 2, k = 1)
      .queryExecution.executedPlan.toString
    assert(plan.contains("WindowGroupLimit"), plan)
  }

  test("jlProject: exact integer coordinates, sign pattern from the shared plane matrix, zero shuffles") {
    val fix = Seq(
      (0L, Array(1.0f, 2.0f)), (1L, Array(-1.5f, 0.5f)))
      .toDF("vec_id", "embedding")
    val out = Similarity.jlProject(fix, "vec_id", "embedding", rDim = 4)
    val planes = Similarity.planeMatrix(4, 2)
    val got = out.collect().map(r =>
      r.getLong(0) -> (1 to 4).map(r.getLong).toSeq).toMap
    // quantized vecs: (1000, 2000) and (-1500, 500); out_j = Σ e_d·±1
    def proj(e: Seq[Long]) = planes.map(row =>
      e.zip(row).map { case (x, s) => x * s.toLong }.sum)
    assert(got(0L) == proj(Seq(1000L, 2000L)), s"got ${got(0L)}")
    assert(got(1L) == proj(Seq(-1500L, 500L)), s"got ${got(1L)}")
    val plan = out.queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"), plan)
  }

  test("knnLabelProbe: majority label of the k nearest; argmax ties pin (votes desc, label asc)") {
    // query 0 (label 9): nearest 3 of its 4 neighbours are two label-1s
    // and one label-2 -> predict 1 with 2 votes
    val fix = Seq(
      (0L, Array(1.0f, 0.0f), 9),
      (1L, Array(0.99f, 0.1f), 1),
      (2L, Array(0.98f, 0.15f), 1),
      (3L, Array(0.97f, 0.2f), 2),
      (4L, Array(0.0f, 1.0f), 3)).toDF("vec_id", "embedding", "label")
    val got = Similarity.knnLabelProbe(fix, "vec_id", "embedding", "label",
        nQueries = 1, k = 3)
      .select(col("q_id"), col("true_label"), col("predicted_label"), col("votes"))
      .as[(Long, Long, Long, Long)].head()
    assert(got == ((0L, 9L, 1L, 2L)), s"got $got")
    // tie case: k = 2 -> one vote each for labels 1 and 1 (vecs 1, 2)
    val got2 = Similarity.knnLabelProbe(fix, "vec_id", "embedding", "label",
        nQueries = 1, k = 4)
      .select(col("predicted_label"), col("votes"))
      .as[(Long, Long)].head()
    assert(got2 == ((1L, 2L)), s"got $got2") // 2 votes label 1 beat 1+1 of 2 and 3
  }
}
