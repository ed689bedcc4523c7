package graft

import graft.etl.{Cleaning, Quality}
import graft.ops.Dedup
import org.apache.spark.sql.functions._
import org.scalacheck.Gen
import org.scalacheck.rng.Seed

/** Property-based invariants (SURVEY §5.2): results must be independent
  * of physical layout (partitioning), the quality gate must agree with
  * row-level counting, and coercing casts must round-trip clean values.
  * Generators are driven directly with fixed seeds (scalatest+scalacheck
  * without the scalatestplus bridge, which isn't in the offline cache).
  */
class PropertySpec extends SparkSpec {
  import spark.implicits._

  private def samples[A](gen: Gen[A], n: Int): Seq[A] =
    (1 to n).map(i => gen.pureApply(Gen.Parameters.default, Seed(i.toLong)))

  test("integer-cents aggregation total is invariant under repartitioning") {
    val gen = for {
      xs <- Gen.listOfN(60, Gen.chooseNum(-1000000L, 1000000L))
      parts <- Gen.chooseNum(1, 8)
    } yield (xs, parts)
    samples(gen, 8).foreach { case (xs, parts) =>
      val df = xs.map(x => (x % 5, x.toDouble / 100)).toDF("k", "v")
      val direct = df.agg(Exact.centsSum(col("v"))).collect()(0).getLong(0)
      val repart = df.repartition(parts).agg(Exact.centsSum(col("v"))).collect()(0).getLong(0)
      assert(direct == repart)
      assert(direct == xs.sum) // cents of x/100 recover x exactly
    }
  }

  test("quality gate passes iff zero violating rows exist") {
    samples(Gen.listOfN(30, Gen.chooseNum(-2, 14)), 8).foreach { ms =>
      val df = ms.map(m => Tuple1(m)).toDF("mes")
      val checks = Seq(Quality.InRange("mes", 1, 12))
      val violations = ms.count(m => m < 1 || m > 12)
      val (observed, obs) = Quality.observedChecks(df, checks)
      observed.collect()
      val gateResult = scala.util.Try(Quality.assertObserved(obs, checks))
      assert(gateResult.isSuccess == (violations == 0))
      assert(obs.get("in_range(mes,1.0,12.0)") == violations.toLong)
    }
  }

  test("coercing double cast round-trips clean decimal strings and zeroes garbage") {
    val cleanGen = Gen.listOfN(20, Gen.chooseNum(-99999L, 99999L))
    samples(cleanGen, 8).foreach { cents =>
      // Locale.ROOT: the f-interpolator would emit comma decimals on
      // pt_BR/de_DE machines and break the round-trip
      val df = cents.map(c => String.format(java.util.Locale.ROOT, "%.2f",
        Double.box(c / 100.0))).toDF("valor")
      val got = Cleaning.coerceDoubleFillZero(df, "valor").as[Double].collect()
      assert(got.toSet == cents.map(_ / 100.0).toSet)
    }
    val garbage = Seq("x", "", "1.2.3", null).toDF("valor")
    assert(Cleaning.coerceDoubleFillZero(garbage, "valor").as[Double].collect().forall(_ == 0.0))
  }

  test("chunking reproduces exact token slices and covers every token") {
    val gen = for {
      n <- Gen.chooseNum(1, 120)
      size <- Gen.chooseNum(1, 20)
      stride <- Gen.chooseNum(1, size)
    } yield (n, size, stride)
    samples(gen, 10).foreach { case (n, size, stride) =>
      val toks = (0 until n).map(i => s"t$i")
      val df = Seq((1L, toks.mkString(" "))).toDF("doc_id", "text")
      val got = graft.ops.Packing.chunkByTokens(df, "doc_id", "text", size, stride)
        .collect()
        .map(r => (r.getAs[Long]("chunk_idx"), r.getAs[Long]("n_chunk_tokens"),
          r.getAs[String]("chunk_text")))
        .sortBy(_._1)
      assert(got.map(_._1).toSeq == (0L to ((n - 1) / stride).toLong))
      got.foreach { case (i, m, text) =>
        val expect = toks.slice(i.toInt * stride, math.min(i.toInt * stride + size, n))
        assert(text == expect.mkString(" ") && m == expect.length.toLong)
      }
      // coverage: every token index falls inside some chunk
      val covered = got.flatMap { case (i, m, _) =>
        (i.toInt * stride) until (i.toInt * stride + m.toInt) }.toSet
      assert(covered == (0 until n).toSet)
    }
  }

  test("verifyJaccard equals driver-side set arithmetic on random pairs") {
    val wordGen = Gen.oneOf("a", "b", "c", "d", "e", "f")
    val docGen = Gen.chooseNum(1, 15).flatMap(k => Gen.listOfN(k, wordGen))
    samples(Gen.listOfN(5, docGen), 6).foreach { docsToks =>
      val docs = docsToks.zipWithIndex
        .map { case (t, i) => (i.toLong, t.mkString(" ")) }.toDF("doc_id", "text")
      val pairs = (for {
        a <- docsToks.indices; b <- docsToks.indices if a < b
      } yield (a.toLong, b.toLong)).toDF("doc_a", "doc_b")
      val got = graft.ops.Dedup.verifyJaccard(docs, "doc_id", "text", pairs, shingleN = 3)
        .collect()
        .map(r => (r.getAs[Long]("doc_a"), r.getAs[Long]("doc_b")) ->
          ((r.getAs[Long]("n_shared"), r.getAs[Double]("jaccard")))).toMap
      def grams(t: Seq[String]) = t.sliding(3).filter(_.size == 3).map(_.mkString(" ")).toSet
      for (a <- docsToks.indices; b <- docsToks.indices if a < b) {
        val (ga, gb) = (grams(docsToks(a)), grams(docsToks(b)))
        if (ga.isEmpty || gb.isEmpty)
          assert(!got.contains((a.toLong, b.toLong))) // gramless side -> pair dropped
        else {
          val inter = (ga & gb).size.toLong
          val (nShared, j) = got((a.toLong, b.toLong))
          assert(nShared == inter)
          assert(j == inter.toDouble / (ga.size + gb.size - inter))
        }
      }
    }
  }

  test("offset packing equals the single-order driver-side recomputation") {
    import org.apache.spark.unsafe.types.UTF8String
    val wordGen = Gen.oneOf("x", "y", "z", "w")
    val docGen = Gen.chooseNum(1, 30).flatMap(k => Gen.listOfN(k, wordGen).map(_.mkString(" ")))
    val gen = Gen.listOfN(40, Gen.zip(docGen, Gen.oneOf("s1", "s2")))
    samples(gen, 6).foreach { rows =>
      val df = rows.zipWithIndex
        .map { case ((t, s), i) => (i.toLong, t, s) }.toDF("doc_id", "text", "lang")
      val got = graft.ops.Packing.packByOffset(df, "doc_id", "text", "lang", budgetTokens = 25)
        .collect()
        .map(r => r.getAs[Long]("doc_id") -> r.getAs[Long]("bin_id")).toMap
      def u(t: String) =
        (graft.functions.Md5Mix.halves(UTF8String.fromString(t))(0) >>> 11).toDouble / 9007199254740992.0
      val expected = rows.zipWithIndex.map { case ((t, s), i) =>
        (i.toLong, t, s, t.split(" ").length.toLong)
      }.groupBy(_._3).flatMap { case (_, rs) =>
        var cum = 0L
        rs.sortBy(r => (u(r._2), r._1)).map { case (id, _, _, n) =>
          cum += n
          id -> (cum - n) / 25
        }
      }
      assert(got == expected)
    }
  }

  test("minhash estimated Jaccard is 1 for identical docs and in [0,1] always") {
    val wordGen = Gen.oneOf("alpha", "beta", "gamma", "delta", "eps", "zeta", "eta")
    val docGen = Gen.listOfN(12, wordGen).map(_.mkString(" "))
    samples(Gen.listOfN(4, docGen), 4).foreach { texts =>
      val docs = texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }.toDF("doc_id", "text")
      val dup = docs.union(docs.limit(1).withColumn("doc_id", lit(999L)))
      val pairs = Dedup.minhashCandidates(dup, "doc_id", "text",
        shingleN = 2, numHashes = 8, bands = 4)
      val rows = pairs.collect()
      rows.foreach(r => assert(r.getDouble(2) >= 0.0 && r.getDouble(2) <= 1.0))
      // the planted exact duplicate must be found with est 1.0
      val planted = rows.find(r => r.getLong(0) == 0L && r.getLong(1) == 999L)
      assert(planted.exists(_.getDouble(2) == 1.0))
    }
  }

  test("zOrderKey is a bijection on the bits×bits grid (no two cells collide)") {
    val pts = (for { x <- 0 until 32; y <- 0 until 32 } yield (x.toLong, y.toLong))
    val keys = pts.toDF("x", "y")
      .select(graft.ops.Bucketing.zOrderKey(col("x"), col("y"), 5))
      .collect().map(_.getLong(0))
    assert(keys.distinct.length == 1024)
    assert(keys.min == 0L && keys.max == 1023L) // exactly fills [0, 2^10)
  }

  test("funnel stage counts are monotone non-increasing on random event logs") {
    val evGen = for {
      u <- Gen.chooseNum(1L, 6L)
      t <- Gen.oneOf("view", "click", "purchase")
      h <- Gen.chooseNum(0L, 200L)
    } yield (u, t, h)
    samples(Gen.listOfN(40, evGen), 4).foreach { evs =>
      val df = evs.zipWithIndex.map { case ((u, t, h), i) =>
        (i.toLong, u, t, new java.sql.Timestamp(h * 3600 * 1000L))
      }.toDF("event_id", "user_id", "event_type", "ts")
      val counts = graft.ops.EventAnalytics.funnel(df, "user_id", "event_type", "ts",
          Seq("view", "click", "purchase"), horizonHours = 72)
        .collect().sortBy(_.getLong(0)).map(_.getLong(2))
      assert(counts.length == 3)
      assert(counts(0) >= counts(1) && counts(1) >= counts(2))
    }
  }

  test("mixtureWeights shares sum to 1 within a micro and allocations to the budget") {
    val gen = Gen.listOfN(5, Gen.chooseNum(1, 400))
    samples(gen, 6).foreach { sizes =>
      val docs = sizes.zipWithIndex.flatMap { case (n, i) =>
        Seq((s"src$i", ("w " * n).trim))
      }.toDF("source", "text")
      val rows = graft.ops.Sampling.mixtureWeights(docs, "source", "text", 1000000L)
        .collect()
      val shares = rows.map(_.getDouble(4))
      assert(math.abs(shares.sum - 1.0) < 1e-9)
      // allocations track shares: off by at most 1 token from share×budget
      rows.foreach { r =>
        assert(math.abs(r.getLong(5) - r.getDouble(4) * 1000000L) <= 1.0)
      }
    }
  }

  test("bloom filter never false-negatives on generated member sets; merge == monolithic") {
    import graft.ops.Sketches
    val gen = Gen.listOfN(60, Gen.chooseNum(0L, 1L << 40))
      .map(_.distinct.map(x => s"k$x"))
    samples(gen, 6).foreach { keys =>
      val f = Sketches.bloomBits(keys.toDF("k"), "k", 4, 1 << 12)
      val falseNeg = Sketches.bloomMightContain(keys.toDF("k"), f, "k")
        .where(!col("might_contain")).count()
      assert(falseNeg == 0L, s"false negatives on ${keys.size} members")
      val (h1, h2) = keys.splitAt(keys.size / 2)
      if (h1.nonEmpty && h2.nonEmpty) {
        val merged = Sketches.bloomMerge(Seq(
          Sketches.bloomBits(h1.toDF("k"), "k", 4, 1 << 12),
          Sketches.bloomBits(h2.toDF("k"), "k", 4, 1 << 12)))
        assert(merged.bits.except(f.bits).isEmpty && f.bits.except(merged.bits).isEmpty)
      }
    }
  }

  test("weightedSample is layout-invariant and draws only positive-weight rows") {
    import graft.ops.Sampling
    val gen = Gen.listOfN(80, Gen.chooseNum(0L, 5L))
    samples(gen, 6).foreach { ws =>
      val df = ws.zipWithIndex.map { case (w, i) => (i.toLong, w) }.toDF("id", "w")
      val k = 20
      val s1 = Sampling.weightedSample(df, "id", col("w"), k)
        .select("id").as[Long].collect().toSet
      val s2 = Sampling.weightedSample(df.repartition(7), "id", col("w"), k)
        .select("id").as[Long].collect().toSet
      assert(s1 == s2, "sample changed under repartitioning")
      val positive = ws.zipWithIndex.filter(_._1 >= 1).map(_._2.toLong).toSet
      assert(s1.subsetOf(positive))
      assert(s1.size == math.min(k, positive.size))
    }
  }
}
