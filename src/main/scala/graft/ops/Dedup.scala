package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Deduplication operators for large-scale text corpora.
  *
  * All hashing is expression-based (xxhash64 / md5 — deterministic,
  * codegen'd, no closures), so every stage stays inside Catalyst and the
  * plans scale as: one narrow projection to compute signatures, one
  * shuffle on the LSH bucket key for candidate generation. Nothing here
  * collects to the driver.
  *
  * Plan-shape rule learned the hard way: splicing a derived array Column
  * (e.g. `split(text)`) into a lambda body re-evaluates that whole
  * subtree once per lambda element — tokenize-inside-shingle is
  * O(tokens²) per row, and 16 minhash lanes multiply it again (measured
  * 113 s vs <1 s at sf0.1). Every multi-referenced intermediate is
  * therefore materialized as its own projection step, so lambdas bind to
  * an attribute, not an expression tree.
  */
object Dedup {

  /** Exact dedup: canonical row per distinct key set (hash-aggregate, one shuffle). */
  def exact(df: DataFrame, idCol: String, keyCols: Seq[String]): DataFrame =
    df.groupBy(keyCols.map(col): _*)
      .agg(min(col(idCol)).as("keep_id"), count(lit(1)).as("n_copies"))

  /** Exact text dedup keyed by md5(text) instead of the text itself:
    * the shuffle carries 32-char hashes, not documents — at corpus scale
    * that is the difference between shuffling the dataset and shuffling
    * ~1% of it. Equality classes match [[exact]] modulo md5 collisions
    * (the standard dedup trade). Output: (text_hash, keep_id, n_copies). */
  def exactByHash(df: DataFrame, idCol: String, textCol: String): DataFrame =
    df.select(md5(col(textCol)).as("text_hash"), col(idCol))
      .groupBy(col("text_hash"))
      .agg(min(col(idCol)).as("keep_id"), count(lit(1)).as("n_copies"))

  /** Word n-gram shingles OVER an already-projected token array column. */
  private def shinglesOver(toks: Column, n: Int): Column =
    when(size(toks) < n, array().cast("array<string>"))
      .otherwise(transform(
        sequence(lit(0), size(toks) - n),
        i => concat_ws(" ", (0 until n).map(j => element_at(toks, (i + j + 1).cast("int"))): _*)))

  /** (id, _grams): distinct word n-gram sets via the native one-pass
    * graft_shingles expression (stepwise text -> _toks -> _grams
    * projections so lambdas never see derived subtrees). */
  def withShingles(df: DataFrame, idCol: String, textCol: String, n: Int,
      gramsCol: String = "_grams"): DataFrame =
    df.select(col(idCol), split(col(textCol), " ").as("_toks"))
      .select(col(idCol),
        graft.functions.TextHashExpressions.shingles(col("_toks"), n).as(gramsCol))

  /** Pure-builtin shingles — fallback + cross-check for graft_shingles. */
  def withShinglesComposed(df: DataFrame, idCol: String, textCol: String, n: Int,
      gramsCol: String = "_grams"): DataFrame =
    df.select(col(idCol), split(col(textCol), " ").as("_toks"))
      .select(col(idCol), array_distinct(shinglesOver(col("_toks"), n)).as(gramsCol))

  /** MinHash signature over a bound grams column: lane i is the min of
    * xxhash64(i, shingle) — a deterministic "permutation" with no stored
    * model. */
  private def minhashOver(grams: Column, numHashes: Int): Column =
    transform(sequence(lit(0), lit(numHashes - 1)),
      i => when(size(grams) === 0, lit(Long.MaxValue))
        .otherwise(array_min(transform(grams, g => xxhash64(i, g)))))

  /** (doc, sig): minhash signatures for every row — the ENGINE-PORTABLE
    * md5 chain (native one-pass codegen expression, lanes reproducible
    * in DuckDB/Trino SQL — see graft.functions.Md5Mix), which is what
    * makes the dedup pipeline's outputs oracle-checkable end to end. */
  def signatures(df: DataFrame, idCol: String, textCol: String,
      shingleN: Int, numHashes: Int): DataFrame =
    withShingles(df, idCol, textCol, shingleN)
      .select(col(idCol).as("doc"),
        graft.functions.TextHashExpressions.minhashMd5(col("_grams"), numHashes).as("sig"))

  /** xxhash64-chain signatures (Spark-native lanes, not reproducible
    * outside Spark) — kept for workloads that don't need cross-engine
    * reproducibility; bit-compatible with signaturesComposed. */
  def signaturesXxh(df: DataFrame, idCol: String, textCol: String,
      shingleN: Int, numHashes: Int): DataFrame =
    withShingles(df, idCol, textCol, shingleN)
      .select(col(idCol).as("doc"),
        graft.functions.TextHashExpressions.minhash(col("_grams"), numHashes).as("sig"))

  /** Pure-builtin (higher-order-function) xxhash minhash — the composed
    * fallback and the semantics cross-check for the native expression. */
  def signaturesComposed(df: DataFrame, idCol: String, textCol: String,
      shingleN: Int, numHashes: Int): DataFrame =
    withShingles(df, idCol, textCol, shingleN)
      .select(col(idCol).as("doc"), minhashOver(col("_grams"), numHashes).as("sig"))

  /** LSH bands over a minhash signature: band b hashes the signature
    * slice [b*rowsPerBand, (b+1)*rowsPerBand). Docs sharing any
    * (band, bucket) are near-dup candidates. The bucket is the md5 of the
    * comma-joined lane values — a string key, portable across engines
    * (xxhash64 of the slice would be Spark-only). */
  def lshBands(sig: Column, bands: Int, rowsPerBand: Int): Column =
    transform(sequence(lit(0), lit(bands - 1)),
      b => struct(b.as("band"),
        md5(concat_ws(",",
          transform(slice(sig, b * rowsPerBand + 1, lit(rowsPerBand)),
            x => x.cast("string")))).as("bucket")))

  /** Estimated Jaccard from two signatures: fraction of agreeing minhash
    * lanes. Runs per candidate PAIR, so the lane count is the native
    * one-pass graft_sig_agree (the zip_with+filter form evaluates
    * interpreted lambda frames per lane per pair). */
  def estJaccard(sigA: Column, sigB: Column, numHashes: Int): Column =
    graft.functions.TextHashExpressions.sigAgreement(sigA, sigB)
      .cast("double") / numHashes

  /** Pure-builtin agreement fraction — fallback + cross-check. */
  def estJaccardComposed(sigA: Column, sigB: Column, numHashes: Int): Column =
    size(filter(zip_with(sigA, sigB, (x, y) => x === y), b => b))
      .cast("double") / numHashes

  /** Drops every bucket whose membership exceeds `maxBucketSize` BEFORE
    * an in-bucket self-join. A degenerate bucket (boilerplate-heavy
    * corpus, all-zero vectors) otherwise turns the join quadratic — the
    * classic 100 TB failure mode of LSH candidate generation. The window
    * count shuffles on the same key the join needs, so the guard adds no
    * extra exchange. The cap is not silent: `bucketOverflow` reports the
    * dropped buckets and their sizes for auditing/alerting, and every
    * candidates function documents its cap parameter.
    */
  private[ops] def capBuckets(exploded: DataFrame, keys: Seq[String],
      maxBucketSize: Int): DataFrame = {
    val w = Window.partitionBy(keys.map(col): _*)
    exploded
      .withColumn("_bn", count(lit(1)).over(w))
      .where(col("_bn") <= maxBucketSize)
      .drop("_bn")
  }

  /** Audit companion of the bucket cap: per-overflowing-bucket sizes
    * (empty when no bucket exceeds the cap). Run it alongside any capped
    * candidates call to log what the cap dropped. */
  private[ops] def bucketOverflowOf(exploded: DataFrame, keys: Seq[String],
      maxBucketSize: Int): DataFrame =
    exploded.groupBy(keys.map(col): _*)
      .agg(count(lit(1)).as("n_members"))
      .where(col("n_members") > maxBucketSize)

  /** (doc, sig, band, bucket) — each valid doc exploded to its LSH band
    * buckets. Shared by candidate generation and the overflow audit. */
  private def minhashBanded(df: DataFrame, idCol: String, textCol: String,
      shingleN: Int, numHashes: Int, bands: Int): DataFrame = {
    require(bands > 0 && numHashes % bands == 0,
      s"bands ($bands) must divide numHashes ($numHashes) — rowsPerBand = 0 " +
        "would put EVERY doc in one bucket (O(n^2) self-join), and a remainder " +
        "silently drops signature lanes from banding")
    val rowsPerBand = numHashes / bands
    // Docs shorter than shingleN have no shingles and no defined Jaccard,
    // so they are excluded up front — ON THE RAW TOKEN COUNT, not on the
    // signature sentinel: a filter over the sig attribute gets pushed
    // below the projection and re-evaluates the full k-lane minhash per
    // row (verified in the physical plan), while re-splitting the text in
    // the filter costs one cheap pass inside the same codegen stage.
    val valid = df.where(size(split(col(textCol), " ")) >= shingleN)
    // band explode FIRST, bucket md5 per exploded row — [[lshBands]]'s
    // nested transform() lambdas (band structs, lane casts) are
    // CodegenFallback; the cast to array<string> + concat_ws here is
    // codegen'd end to end and produces the identical bucket string
    signatures(valid, idCol, textCol, shingleN, numHashes)
      .select(col("doc"), col("sig"),
        explode(sequence(lit(0), lit(bands - 1))).as("band"))
      .select(col("doc"), col("sig"), col("band"),
        md5(concat_ws(",",
          slice(col("sig"), col("band") * rowsPerBand + 1, lit(rowsPerBand))
            .cast("array<string>"))).as("bucket"))
  }

  /** MinHash+LSH near-duplicate candidate pairs.
    *
    * Plan shape: project signatures (narrow) → explode bands → shuffle
    * once on (band, bucket) → in-bucket self-join → estimate Jaccard from
    * the signatures already carried along (no second lookup join).
    *
    * `maxBucketSize` caps the in-bucket join (see capBuckets); pairs in a
    * dropped bucket are still found through any other band they share.
    * Audit the drops with [[minhashBucketOverflow]].
    */
  def minhashCandidates(
      df: DataFrame, idCol: String, textCol: String,
      shingleN: Int = 3, numHashes: Int = 16, bands: Int = 4,
      minEstJaccard: Double = 0.0, maxBucketSize: Int = 10000): DataFrame = {
    val exploded = minhashBanded(df, idCol, textCol, shingleN, numHashes, bands)
    // pinned: the self-join references the banded/capped frame TWICE and
    // exchange reuse does not fire across the join's build side (plan-
    // verified on d03: graft_minhash_md5 appeared twice — the ENTIRE
    // corpus signature pass ran once per side). The checkpoint is
    // bands·n rows of (doc, sig, band, bucket) — linear, and the
    // signature pass is the scale-dominant cost it halves.
    val guarded = capBuckets(exploded, Seq("band", "bucket"), maxBucketSize)
      .localCheckpoint()
    val a = guarded.alias("a")
    val b = guarded.alias("b")
    a.join(b,
        col("a.band") === col("b.band") && col("a.bucket") === col("b.bucket") &&
          col("a.doc") < col("b.doc"))
      .select(col("a.doc").as("doc_a"), col("b.doc").as("doc_b"),
        estJaccard(col("a.sig"), col("b.sig"), numHashes).as("est_jaccard"))
      .where(col("est_jaccard") >= minEstJaccard)
      .dropDuplicates("doc_a", "doc_b")
  }

  /** Buckets minhashCandidates would drop at this cap, with sizes. */
  def minhashBucketOverflow(df: DataFrame, idCol: String, textCol: String,
      shingleN: Int = 3, numHashes: Int = 16, bands: Int = 4,
      maxBucketSize: Int = 10000): DataFrame =
    bucketOverflowOf(minhashBanded(df, idCol, textCol, shingleN, numHashes, bands),
      Seq("band", "bucket"), maxBucketSize)

  /** Exact-Jaccard verification of candidate pairs — the verify stage of
    * the candidates→verify dedup pipeline: recompute the TRUE distinct
    * n-gram Jaccard, but only for the supplied (aCol, bCol) pairs, so the
    * exact set arithmetic costs O(candidate gram volume), never O(n²).
    *
    * Plan shape: gram sets are exploded once and semi-joined down to the
    * docs that appear in any pair BEFORE the big shuffles (the id list is
    * tiny relative to the corpus — Spark broadcasts it), then one join
    * per pair side keyed on md5(gram) (32-char keys travel, not gram
    * text). Pairs sharing zero grams survive with n_shared = 0 (left
    * join); pairs referencing a doc with no shingles (< shingleN tokens,
    * Jaccard undefined) drop out. jaccard = n_shared/(n_a+n_b-n_shared)
    * is a single IEEE division of longs — bit-deterministic.
    *
    * Cache lifetime: the returned plan holds a cache entry on the
    * deduped pair set (the materialize-once barrier below). cache() is
    * keyed by canonicalized plan, so repeated calls over the SAME pairs
    * share one entry, but each DISTINCT pair set pins its own until the
    * session ends — callers looping over many pair sets either own the
    * cleanup (`spark.catalog.clearCache()` or unpersist via the catalog)
    * once the result is consumed, or use [[verifyJaccardManaged]], which
    * releases the entry itself. */
  def verifyJaccard(df: DataFrame, idCol: String, textCol: String,
      pairs: DataFrame, aCol: String = "doc_a", bCol: String = "doc_b",
      shingleN: Int = 3): DataFrame =
    verifyAgainst(df, idCol, textCol,
      cachedPairs(pairs, aCol, bCol), shingleN)

  /** [[verifyJaccard]] with MANAGED pair-set lifetime — the variant for
    * sessions looping over many distinct candidate sets. Instead of
    * cache() (whose plan-keyed registry entry needs an owner), the
    * deduped pair set — the SMALL end of the funnel, candidate-sized —
    * is materialized once via eager localCheckpoint; the three
    * downstream references read the materialized partitions, no cache
    * registry entry ever exists, and the checkpoint blocks are owned by
    * the returned frame's lineage and reclaimed by the ContextCleaner
    * when the caller drops it. (Caching the pairs and unpersisting
    * after an eager result checkpoint — the previous design — both
    * checkpointed the full result for nothing and let a bench-style
    * second run silently hit the first run's leaked cache entry,
    * flattering the steady-state number by ~2×.) */
  def verifyJaccardManaged(df: DataFrame, idCol: String, textCol: String,
      pairs: DataFrame, aCol: String = "doc_a", bCol: String = "doc_b",
      shingleN: Int = 3): DataFrame = {
    val p = pairs.select(col(aCol).as("doc_a"), col(bCol).as("doc_b"))
      .dropDuplicates("doc_a", "doc_b")
      .localCheckpoint()
    verifyAgainst(df, idCol, textCol, p, shingleN)
  }

  /** Prefix-filtering set-similarity self-join (AllPairs/PPJoin family,
    * Bayardo, Ma & Srikant, WWW 2007) — the EXACT-threshold complement
    * to the minhash candidate engine: every pair whose shingle-set
    * Jaccard ≥ thetaPct/100 is found (no LSH false negatives, no
    * probability dial), because two sets at that similarity MUST share
    * a member inside each one's prefix of its (global-df-ascending,
    * gram-ascending)-ranked grams, where prefix length =
    * n − ceil(θ·n) + 1. Candidates are pairs sharing a prefix gram;
    * each is then verified with the exact set arithmetic and kept by
    * the integer cross-multiply 100·|∩| ≥ θ·|∪| — no float threshold.
    * Output: (doc_a, doc_b, n_shared, n_a, n_b, jacc_ppm) with
    * jacc_ppm = |∩|·10⁶ div |∪|.
    *
    * Scale shape: candidate volume is Σ_gram |prefix postings|² — the
    * LSH family's quadratic regime, bounded here by TWO forces: the
    * prefix ranks RARE grams first (df-ascending), so posting lists in
    * prefixes are short by construction, and `maxPostings` hard-caps
    * the regime (an over-cap gram is dropped from candidate generation
    * — which CAN drop true pairs, so the cap is encoded in the oracle
    * and surfaced by [[prefixFilterOverflow]], the d24 cap+audit
    * contract; the completeness law is spec-asserted against brute
    * force on uncapped fixtures). The per-doc rank window partitions
    * on the DOC (bounded by doc length — the g13 adjacency-rank rule,
    * not an unpartitioned window); everything else is hash-aggs and
    * equi-joins; the verify is pair-restricted (work ∝ candidates). */
  def prefixFilterPairs(docs: DataFrame, idCol: String, textCol: String,
      shingleN: Int, thetaPct: Int, maxPostings: Int = 100000): DataFrame = {
    require(1 <= thetaPct && thetaPct <= 100,
      s"thetaPct must be in [1, 100], got $thetaPct")
    require(maxPostings >= 1, s"maxPostings must be >= 1, got $maxPostings")
    // one gram build, pinned: the posting-count filter and the pair
    // former both read it, and AQE stage reuse is a heuristic, not a
    // contract — the checkpoint makes the single-build explicit
    val pg = prefixGrams(docs, idCol, textCol, shingleN, thetaPct)
      .localCheckpoint()
    val kept = pg.join(
        pg.groupBy(col("_g")).agg(count(lit(1)).as("_np"))
          .where(col("_np") <= maxPostings)
          .select(col("_g")),
        Seq("_g"), "left_semi")
    val cand = kept.select(col("_g"), col("_id").as("doc_a"))
      .join(kept.select(col("_g"), col("_id").as("doc_b")), Seq("_g"))
      .where(col("doc_a") < col("doc_b"))
      .select(col("doc_a"), col("doc_b"))
      .distinct()
    verifyAgainst(docs, idCol, textCol, cand.localCheckpoint(), shingleN)
      .where(lit(100L) * col("n_shared") >=
        lit(thetaPct.toLong) * (col("n_a") + col("n_b") - col("n_shared")))
      .select(col("doc_a"), col("doc_b"), col("n_shared"), col("n_a"),
        col("n_b"),
        expr("n_shared * 1000000L div (n_a + n_b - n_shared)").as("jacc_ppm"))
  }

  /** Audit companion to [[prefixFilterPairs]]: the prefix grams whose
    * posting count exceeds `maxPostings` (and were therefore excluded
    * from candidate generation — pairs reachable ONLY through them may
    * be missed). Grams ship as md5 (hashes shuffle, never text). Empty
    * = the cap never engaged and the no-false-negative law holds. */
  def prefixFilterOverflow(docs: DataFrame, idCol: String, textCol: String,
      shingleN: Int, thetaPct: Int, maxPostings: Int = 100000): DataFrame =
    prefixGrams(docs, idCol, textCol, shingleN, thetaPct)
      .groupBy(col("_g")).agg(count(lit(1)).as("n_postings"))
      .where(col("n_postings") > maxPostings)
      .select(md5(col("_g")).as("gram_h"), col("n_postings"))

  /** (_id, _g): each doc's prefix grams — its n − ceil(θ·n) + 1 rarest
    * grams by (global df asc, gram asc). Shared by the pair former and
    * the overflow audit. */
  private def prefixGrams(docs: DataFrame, idCol: String, textCol: String,
      shingleN: Int, thetaPct: Int): DataFrame = {
    // valid-doc filter on the RAW token count, BEFORE the shingle
    // projection (the minhashBanded rule, applied here round 14): the
    // old `.where(size(_grams) > 0)` was pushed below the projection
    // and re-evaluated the full shingle expression per row — every doc
    // paid the gram build twice (plan-verified, Filter + Project both
    // carried graft_shingles). Same rows: a doc has ≥ 1 shingle iff it
    // has ≥ shingleN tokens.
    val grams = withShingles(
        docs.where(size(split(col(textCol), " ")) >= shingleN),
        idCol, textCol, shingleN)
      .select(col(idCol).as("_id"), col("_grams"),
        size(col("_grams")).cast("long").as("_n"))
    val tok = grams.select(col("_id"), col("_n"), explode(col("_grams")).as("_g"))
    val dfr = tok.groupBy(col("_g")).agg(count(lit(1)).as("_df"))
    val w = Window.partitionBy(col("_id")).orderBy(col("_df"), col("_g"))
    tok.join(dfr, "_g")
      .withColumn("_rk", row_number().over(w).cast("long"))
      .where(col("_rk") <=
        col("_n") - expr(s"((${thetaPct}L * _n) + 99L) div 100L") + lit(1L))
      .select(col("_id"), col("_g"))
  }

  /** The deduped, cached candidate list both verify entry points share.
    * The pair list feeds four plan branches (id restriction ×2, the
    * shared-gram join, the final assembly); without a barrier Spark
    * re-derives the WHOLE candidate-generation subtree per branch (no
    * exchange reuse — each branch prunes different columns). Candidate
    * pairs are the small output of LSH by construction, so the
    * scale-correct move is the classic pipeline one: materialize them
    * once. The dedupe is load-bearing, not just hygiene: a repeated
    * input pair would join the gram stream once PER COPY and
    * double-count n_shared. */
  private def cachedPairs(pairs: DataFrame, aCol: String, bCol: String): DataFrame =
    pairs.select(col(aCol).as("doc_a"), col(bCol).as("doc_b"))
      .dropDuplicates("doc_a", "doc_b").cache()

  private def verifyAgainst(df: DataFrame, idCol: String, textCol: String,
      p: DataFrame, shingleN: Int): DataFrame = {
    val ids = p.select(col("doc_a").as("_kid"))
      .unionByName(p.select(col("doc_b").as("_kid"))).distinct()
    // Each candidate doc's gram SET travels as ONE sorted xxhash64
    // array (graft_sorted_hashes, codegen — 8 B/gram), and n_shared is
    // the codegen'd merge-intersect per pair (round-14 session-2
    // rewrite): two pair-keyed joins total. The previous shape exploded
    // the gram sets into a (doc, md5-string) stream and recovered
    // n_shared with two stream joins + a pair-keyed count aggregate +
    // a left join + two count joins — five joins and an exchange of
    // the full matched-gram stream per verify (OPTIMIZATION_r14.md
    // S2-1: d70 verify 6.0 → 3.7 s at sf0.1/32c). n_shared is identical: grams are
    // distinct per doc (withShingles), so matching-hash count =
    // |gram-set ∩| under collision-freeness — the same contract the
    // md5-keyed join relied on.
    // Candidate-id restriction comes FIRST, on the raw table (round
    // 14): the semi-join does NOT push below the shingle projection
    // (plan-verified), so the old order computed shingles for EVERY
    // doc — a full-corpus pass where the documented contract is
    // O(candidate gram volume). The valid-doc filter reads the RAW
    // token count for the same reason (a size(_grams) filter is pushed
    // below the projection and re-evaluates the shingle expression —
    // the minhashBanded rule); same rows either way.
    // Pinned: the hash-array frame feeds TWO plan branches (the doc_a
    // and doc_b joins) — unpinned, each branch re-runs the shingle
    // build over the docs table (round-13 measurement; the cachedPairs
    // rationale applied one level down).
    val grams = withShingles(
        df.join(ids, col(idCol) === col("_kid"), "left_semi")
          .where(size(split(col(textCol), " ")) >= shingleN),
        idCol, textCol, shingleN)
      .select(col(idCol).as("_gid"),
        graft.functions.TextHashExpressions.sortedHashes(col("_grams")).as("_hs"),
        size(col("_grams")).cast("long").as("_ng"))
      .localCheckpoint()
    p.join(grams.select(col("_gid").as("doc_a"), col("_hs").as("_ha"),
        col("_ng").as("n_a")), Seq("doc_a"))
      .join(grams.select(col("_gid").as("doc_b"), col("_hs").as("_hb"),
        col("_ng").as("n_b")), Seq("doc_b"))
      .select(col("doc_a"), col("doc_b"),
        graft.functions.TextHashExpressions
          .sortedIntersectCount(col("_ha"), col("_hb")).as("n_shared"),
        col("n_a"), col("n_b"))
      .withColumn("jaccard",
        col("n_shared").cast("double") / (col("n_a") + col("n_b") - col("n_shared")))
  }

  /** Candidates → exact CONTAINMENT verify: the asymmetric twin of
    * [[verifyJaccard]]. Jaccard misses inclusion — a tweet quoted
    * inside a long article scores near 0 Jaccard (the union is huge)
    * but containment |A∩B| / min(|A|,|B|) ≈ 1. That is the signal a
    * curation pass needs for quote/boilerplate/near-superset
    * detection, where the right action is usually "keep the superset,
    * drop the contained copy". Rides the IDENTICAL gram machinery as
    * verifyJaccard (same pair-restricted set arithmetic, work ∝
    * candidates — no new scan shape); the keep decision is the
    * pure-integer comparison n_shared·1000 ≥ milli·min(n_a, n_b), and
    * `contained_doc` names the smaller-gram-set side (ties → doc_a)
    * only when the flag fires. `containment` itself is one IEEE
    * division of exact longs (the q97 rule). Empty-gram docs never
    * reach pair formation (candidates require shingles), so the min
    * is ≥ 1 and the division is total. */
  def containmentVerify(df: DataFrame, idCol: String, textCol: String,
      pairs: DataFrame, aCol: String = "doc_a", bCol: String = "doc_b",
      shingleN: Int = 3, minContainMilli: Int = 900): DataFrame = {
    require(minContainMilli >= 0 && minContainMilli <= 1000,
      s"minContainMilli must be in [0,1000], got $minContainMilli")
    verifyJaccardManaged(df, idCol, textCol, pairs, aCol, bCol, shingleN)
      .select(col("doc_a"), col("doc_b"), col("n_shared"), col("n_a"), col("n_b"),
        (col("n_shared").cast("double") / least(col("n_a"), col("n_b")))
          .as("containment"),
        (col("n_shared") * 1000L >= least(col("n_a"), col("n_b")) * minContainMilli)
          .as("is_contained"))
      .withColumn("contained_doc",
        when(col("is_contained"),
          when(col("n_a") <= col("n_b"), col("doc_a")).otherwise(col("doc_b"))))
  }

  /** (doc, fp): 64-bit SimHash fingerprints via the native one-pass
    * expression — md5 chain (portable): bit i of fp is the sign of the
    * sum over tokens of (bit i of the token's first md5 half ? +1 : -1). */
  def simhashes(df: DataFrame, idCol: String, textCol: String): DataFrame =
    df.select(col(idCol).as("doc"), split(col(textCol), " ").as("_toks"))
      .select(col("doc"), graft.functions.TextHashExpressions.simhashMd5(col("_toks")).as("fp"))

  /** xxhash64-chain simhash (Spark-native) — see [[signaturesXxh]]. */
  def simhashesXxh(df: DataFrame, idCol: String, textCol: String): DataFrame =
    df.select(col(idCol).as("doc"), split(col(textCol), " ").as("_toks"))
      .select(col("doc"), graft.functions.TextHashExpressions.simhash(col("_toks")).as("fp"))

  /** Pure-builtin simhash (64 aggregate lanes over projected token
    * hashes) — fallback + cross-check for the native expression. */
  def simhashesComposed(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    def shr(v: Column, bits: Column) = call_function("shiftright", v, bits.cast("int"))
    def shl(v: Column, bits: Column) = call_function("shiftleft", v, bits.cast("int"))
    df.select(col(idCol).as("doc"), split(col(textCol), " ").as("_toks"))
      .select(col("doc"), transform(col("_toks"), t => xxhash64(t)).as("_hashes"))
      .select(col("doc"),
        aggregate(
          sequence(lit(0), lit(63)),
          lit(0L),
          (acc, i) => acc + when(
            aggregate(col("_hashes"), lit(0L),
              (s, h) => s + when(shr(h, i).bitwiseAND(1) === 1, 1L).otherwise(-1L)) > 0,
            shl(lit(1L), i)).otherwise(0L)).as("fp"))
  }

  /** Hamming distance between two 64-bit fingerprints. */
  def hamming(a: Column, b: Column): Column = bit_count(a.bitwiseXOR(b)).cast("long")

  /** (doc, fp, band, bucket) — 16-bit band buckets of a (doc, fp)
    * fingerprint table. */
  private def bandedFp(fps: DataFrame): DataFrame =
    // band explode FIRST, bucket arithmetic per exploded row — the
    // transform() struct-building lambda was CodegenFallback (the
    // minhashBanded fix applied to the simhash family, round 14);
    // identical (band, bucket) values
    fps.select(col("doc"), col("fp"),
      explode(sequence(lit(0), lit(3))).as("band"))
      .select(col("doc"), col("fp"), col("band"),
        call_function("shiftright", col("fp"), (col("band") * 16).cast("int"))
          .bitwiseAND(0xFFFFL).as("bucket"))

  private def simhashBanded(df: DataFrame, idCol: String, textCol: String): DataFrame =
    bandedFp(simhashes(df, idCol, textCol))

  /** Banded Hamming near-dup candidates over ANY 64-bit fingerprint
    * table (doc, fp) — the shared engine under text simhash (d04) and
    * media perceptual-hash (m07) dedup: bucket by 16-bit bands (one
    * shuffle, never all-pairs), verify with exact Hamming distance.
    * RECALL contract: pigeonhole only GUARANTEES a shared intact band
    * for Hamming ≤ 3 (bands − 1); pairs up to `maxHamming` are found
    * iff their differing bits cluster so that some band stays intact —
    * the standard banded-LSH recall/cost trade (near-dups concentrate
    * differences, which is why the heuristic works; an adversarial
    * 4-bit spread across all 4 bands is invisible). Callers needing
    * guaranteed recall at higher radii add rotated/multi-probe band
    * sets. `maxBucketSize` caps the in-bucket join (see capBuckets);
    * callers audit drops via their overflow twin. */
  def fingerprintCandidates(fps: DataFrame,
      maxHamming: Int = 16, maxBucketSize: Int = 10000): DataFrame = {
    // pinned: same double-evaluation as minhashCandidates — the self-
    // join otherwise recomputes the fingerprint pass once per side
    val banded = capBuckets(bandedFp(fps), Seq("band", "bucket"), maxBucketSize)
      .localCheckpoint()
    val a = banded.alias("a")
    val b = banded.alias("b")
    a.join(b,
        col("a.band") === col("b.band") && col("a.bucket") === col("b.bucket") &&
          col("a.doc") < col("b.doc"))
      .select(col("a.doc").as("doc_a"), col("b.doc").as("doc_b"),
        hamming(col("a.fp"), col("b.fp")).as("hamming"))
      .where(col("hamming") <= maxHamming)
      .dropDuplicates("doc_a", "doc_b")
  }

  /** SimHash near-dup candidates — [[fingerprintCandidates]] over the
    * text fingerprints of [[simhashes]]. Audit the cap drops with
    * [[simhashBucketOverflow]]. */
  def simhashCandidates(df: DataFrame, idCol: String, textCol: String,
      maxHamming: Int = 16, maxBucketSize: Int = 10000): DataFrame =
    fingerprintCandidates(simhashes(df, idCol, textCol), maxHamming, maxBucketSize)

  /** Buckets simhashCandidates would drop at this cap, with sizes. */
  def simhashBucketOverflow(df: DataFrame, idCol: String, textCol: String,
      maxBucketSize: Int = 10000): DataFrame =
    bucketOverflowOf(simhashBanded(df, idCol, textCol),
      Seq("band", "bucket"), maxBucketSize)

  /** Duplicate-cluster resolution: candidate pairs → connected
    * components → cluster id = min doc id reachable. Iterative min-label
    * propagation (the simplified large-star step): each round every doc
    * adopts the smallest label among itself and its neighbours; stop
    * when a round changes nothing or maxIter hits. Rounds are whole-plan
    * joins+aggregates (no driver data), converging in O(diameter)
    * rounds — near-dup graphs' components are tiny and shallow in
    * practice, and components deeper than `maxIter` throw under
    * strict = true (never silently-partial labels) with the remedies in
    * the message. The per-round isEmpty check is one action — the
    * legitimate driver-side part of an iterative algorithm.
    *
    * Each round's labels are materialized with an EAGER localCheckpoint,
    * not cache(): a cached plan still carries the full analyzed tree,
    * and because every round references the previous labels frame TWICE
    * (the neighbour join and the update join) the logical plan DOUBLES
    * per round — 2^rounds tree nodes. A diameter-9 chain OOM'd the
    * driver in plan stringification before any executor did real work;
    * the checkpoint collapses each generation to a LogicalRDD leaf, so
    * plans stay constant-size at any depth. Superseded generations are
    * dropped by reference and their blocks reclaimed by the
    * ContextCleaner (the pageRank rule); the edge list's explicit cache
    * is released before return, so no cache-registry entry survives the
    * call — a bench-style second run cannot silently hit run 1's cached
    * labels, and a long multi-query session doesn't pin executor
    * memory. */
  def dupClusters(pairs: DataFrame, aCol: String = "doc_a", bCol: String = "doc_b",
      maxIter: Int = 20, strict: Boolean = true): DataFrame = {
    val (labels, converged) = propagateMinLabels(pairs, aCol, bCol, maxIter)
    if (!converged && strict) {
      throw new IllegalStateException(
        s"dupClusters did not converge in $maxIter rounds — a component has " +
          s"diameter > $maxIter; raise maxIter, pass strict = false, or use " +
          "dupClustersAuto (budgeted propagation with contraction fallover)")
    }
    labels
  }

  /** ONE front door over the two component algorithms: min-label
    * propagation ([[dupClusters]] — O(diameter) rounds, each round ONE
    * edge join, the cheapest path for the shallow components near-dup
    * graphs actually have) with a round BUDGET, falling over to
    * large-star/small-star contraction ([[dupClustersContract]] —
    * O(log diameter) rounds of heavier alternating steps) when the
    * budget exhausts. The caller no longer chooses an algorithm by
    * guessing the graph's diameter:
    *
    *   - diameter ≤ `propagationBudget` (near-dup clusters, baskets):
    *     propagation converges and its labels return as-is — the
    *     fallover costs nothing;
    *   - deeper graphs (chained boilerplate, long co-purchase paths):
    *     the budgeted rounds are abandoned and contraction restarts
    *     from the ORIGINAL edge list (its rounds don't compose with
    *     half-propagated labels; the wasted work is ≤ budget cheap
    *     rounds, bounded by construction, and logged to stderr so a
    *     pipeline that ALWAYS falls over gets tuned to call
    *     contraction directly).
    *
    * Both fixpoints are "label = min reachable id" (DedupSpec asserts
    * equivalence), so the dispatch never changes the answer — only the
    * round count. Default budget 5: ≥ 2 hops beyond the diameter-≤-2
    * typical near-dup component (propagation seeds one hop ahead), yet
    * small enough that the deep-graph detour stays negligible next to
    * contraction's own O(log d) rounds. */
  def dupClustersAuto(pairs: DataFrame, aCol: String = "doc_a",
      bCol: String = "doc_b", propagationBudget: Int = 5,
      maxIter: Int = 30, strict: Boolean = true): DataFrame = {
    require(propagationBudget >= 1,
      s"propagationBudget must be >= 1, got $propagationBudget")
    val (labels, converged) = propagateMinLabels(pairs, aCol, bCol, propagationBudget)
    if (converged) labels
    else {
      System.err.println(s"[graft] dupClustersAuto: propagation budget " +
        s"($propagationBudget rounds) exhausted — falling over to " +
        "large-star/small-star contraction; call dupClustersContract directly " +
        "if this graph is always deep")
      dupClustersContract(pairs, aCol, bCol, maxIter, strict)
    }
  }

  /** The [[dupClusters]] propagation loop, returning (labels,
    * converged) so [[dupClustersAuto]] can dispatch on budget
    * exhaustion instead of throwing. */
  private def propagateMinLabels(pairs: DataFrame, aCol: String,
      bCol: String, maxIter: Int): (DataFrame, Boolean) = {
    // The cached frame carries a SELF-LOOP per node next to the
    // symmetric adjacency (round-14 optimization, guide §2.4): a round
    // is then ONE edge⋈labels join + ONE min agg computing
    // min(self ∪ neighbours) directly — the old form joined the n-row
    // neighbour-min frame back onto the n-row label frame every round
    // (a second keyed exchange per round) just to fold the node's own
    // label in. The node's previous label rides the self-loop row
    // (dst = src), so the convergence check still reads the
    // materialized frame, never re-joins generations. Label sequence,
    // seed, and round count are IDENTICAL to the old recurrence:
    // L_{k+1}(u) = min(L_k(u), min_{v~u} L_k(v)).
    val sym = pairs.select(col(aCol).as("src"), col(bCol).as("dst"))
      .unionByName(pairs.select(col(bCol).as("src"), col(aCol).as("dst")))
    val edges = sym.unionByName(sym.select(col("src"), col("src").as("dst")))
      .distinct()
      .cache()
    // seed with min(self, direct neighbours) — the first propagation
    // round folded into one aggregate over the (cached) edge list, so the
    // loop starts a hop ahead: shallow near-dup components (diameter ≤ 2,
    // the common case) converge one full join-round earlier (the
    // self-loop makes min(dst) = min(self ∪ neighbours) by itself)
    var labels = edges.groupBy(col("src"))
      .agg(min(col("dst")).as("cluster_id"))
      .select(col("src").as("doc_id"), col("cluster_id"))
    var converged = false
    var iter = 0
    while (!converged && iter < maxIter) {
      val updated = edges
        .join(labels, edges("dst") === labels("doc_id"))
        .groupBy(col("src"))
        .agg(min(col("cluster_id")).as("cluster_id"),
          // the self-loop row is always present, so this min is the
          // node's own previous label — carried for the convergence
          // check without a second join
          min(when(col("dst") === col("src"), col("cluster_id"))).as("_old"))
        .select(col("src").as("doc_id"), col("cluster_id"), col("_old"))
        .localCheckpoint() // eager: materialize + truncate lineage
      converged = updated.where(col("cluster_id") =!= col("_old")).isEmpty
      labels = updated.select(col("doc_id"), col("cluster_id"))
      iter += 1
    }
    edges.unpersist()
    (labels, converged)
  }

  /** [[dupClusters]] by alternating large-star/small-star contraction
    * (Kiveris et al., "Connected Components in MapReduce and Beyond",
    * SoCC'14) — the DEEP-component scale path. Min-label propagation
    * converges in O(diameter) rounds, which is fine for near-dup
    * graphs (diameter ≤ 2 typical) but unbounded on chained
    * boilerplate; contraction halves path lengths every round
    * (O(log d) rounds), so a diameter-10⁶ chain finishes in ~20
    * rounds where propagation needs 10⁶.
    *
    * Per round: LARGE-STAR — each node u connects every larger
    * neighbour v > u to m = min(N(u) ∪ {u}) (one symmetric-adjacency
    * aggregate + one join); SMALL-STAR — each node u re-attaches
    * itself and all its parents to its minimum parent (edges are
    * child→parent, parent < child, after any large-star round). Both
    * steps preserve undirected connectivity (paper, Lemmas 1–2) and
    * only ever redirect edges toward smaller ids, so the fixpoint is a
    * star forest whose root IS the component minimum — the same
    * (doc_id, cluster_id = min reachable id) contract as
    * [[dupClusters]], verified equivalent in DedupSpec.
    *
    * Convergence test is STRUCTURAL and one action: a star forest is
    * reached exactly when no edge's parent is itself some edge's child
    * (left-semi probe + isEmpty). Each round's edge set materializes
    * through an eager localCheckpoint — the same plan-growth rule as
    * dupClusters: a round references its frame three times, so lineage
    * would triple per round without the truncation. maxIter bounds the
    * loop (paper bound is O(log² n) rounds, practice is ≲ 2·log₂ d);
    * non-convergence throws under strict, never silently-partial. */
  def dupClustersContract(pairs: DataFrame, aCol: String = "doc_a",
      bCol: String = "doc_b", maxIter: Int = 30,
      strict: Boolean = true): DataFrame = {
    val nodes = pairs.select(col(aCol).as("doc_id"))
      .unionByName(pairs.select(col(bCol).as("doc_id"))).distinct()
    var edges = pairs
      .select(greatest(col(aCol), col(bCol)).as("src"),
        least(col(aCol), col(bCol)).as("dst"))
      .where(col("src") =!= col("dst"))
      .distinct()
      .localCheckpoint()
    var stars = false
    var iter = 0
    // Both star steps run as ONE src-partitioned window each (round-14
    // session 2): min(dst) rides the partition and every row emits
    // exactly one redirected edge, so the per-step groupBy + join-back
    // pair (an n-row aggregate exchange plus a 2m-row join per step)
    // collapses to a single exchange + per-partition sort. This is the
    // paper's reduce(node, neighbours) shape verbatim. Emitted edge
    // sets are IDENTICAL round by round: large-star emits (dst, m) for
    // every larger neighbour exactly as the join did; small-star's
    // per-src min row (dst = _pm, unique — (src, dst) is distinct)
    // carries the (src, _pm) self-attachment the old unionByName added.
    // Trade, documented: the old join's src-keyed exchange could be
    // AQE-skew-split; a window partition cannot — but the per-src row
    // concentration is inherent to the algorithm (the reduce owns the
    // node's full current neighbourhood either way), and the window
    // drops a full join stage per step (OPTIMIZATION_r14.md S2-3:
    // 8.5-8.9 -> 4.9-5.5 s steady at sf0.1/32c).
    val wSrc = Window.partitionBy(col("src"))
    while (!stars && iter < maxIter) {
      // large-star over the symmetric adjacency
      val sym = edges.unionByName(
        edges.select(col("dst").as("src"), col("src").as("dst")))
      val large = sym
        .withColumn("_m", least(col("src"), min(col("dst")).over(wSrc)))
        .where(col("dst") > col("src") && col("dst") =!= col("_m"))
        .select(col("dst").as("src"), col("_m").as("dst"))
        .distinct()
      // small-star: re-attach each child and all its parents to its min parent
      val next = large
        .withColumn("_pm", min(col("dst")).over(wSrc))
        .select(when(col("dst") === col("_pm"), col("src"))
          .otherwise(col("dst")).as("src"), col("_pm").as("dst"))
        .distinct()
        .localCheckpoint() // eager: materialize + truncate lineage
      // star forest iff no parent is itself a child
      stars = next.alias("a")
        .join(next.alias("b"), col("a.dst") === col("b.src"), "left_semi")
        .isEmpty
      edges = next
      iter += 1
    }
    if (!stars && strict) {
      throw new IllegalStateException(
        s"dupClustersContract did not converge in $maxIter rounds; " +
          s"raise maxIter or pass strict = false")
    }
    nodes.join(edges, nodes("doc_id") === edges("src"), "left")
      .select(col("doc_id"), coalesce(col("dst"), col("doc_id")).as("cluster_id"))
  }

  /** Substring-level duplication signal (Lee et al., "Deduplicating
    * Training Data Makes Language Models Better", ACL'22 — the
    * EXACT-SUBSTRING complement to document-level minhash): for every
    * doc, how many of its tokens sit inside some `spanN`-token span
    * that also appears verbatim in ≥ `minDocs` distinct docs. Returns
    * (doc_id, n_tokens, n_dup_spans, n_covered, dup_coverage) per
    * non-null-text doc; dup_coverage = n_covered / n_tokens is the
    * "fraction of this doc that is boilerplate" dial a curation
    * pipeline thresholds on.
    *
    * Scale shape — the key property is that span dedup NEVER FORMS
    * PAIRS: a span shared by k docs costs k rows, not k² (contrast
    * minhash candidate generation, which needs bucket caps exactly
    * because of the pair blowup). Work per stage is linear in total
    * token count: one projection hashes every span via md5 (16-byte
    * hashes shuffle, never span text — the d39 rule), one hash-agg
    * counts distinct docs per span (partial aggregation absorbs even a
    * corpus-universal boilerplate span map-side), one hash-join marks
    * duplicated starts, and coverage is an 8× position explode +
    * (doc, pos)-distinct — bounded fan-out, no caps needed. */
  def spanDupCoverage(df: DataFrame, idCol: String, textCol: String,
      spanN: Int = 8, minDocs: Int = 2): DataFrame = {
    require(spanN >= 2, s"spanN must be >= 2, got $spanN")
    require(minDocs >= 2, s"minDocs must be >= 2, got $minDocs")
    val toks = df.where(col(textCol).isNotNull)
      .select(col(idCol).as("doc_id"), split(col(textCol), " ").as("_toks"))
    // span hashes are computed AFTER the position explode, per row —
    // the transform()-lambda-then-posexplode form ran the md5 chain as
    // a CodegenFallback higher-order function (interpreted per doc,
    // whole-stage codegen broken around it) and allocated the full
    // per-doc hash array; identical (start, _h) values either way
    val spans = toks.where(size(col("_toks")) >= spanN)
      .select(col("doc_id"), col("_toks"),
        posexplode(sequence(lit(0), size(col("_toks")) - spanN))
          .as(Seq("start", "_i")))
      .select(col("doc_id"), col("start"),
        md5(concat_ws(" ", slice(col("_toks"), col("_i") + 1, lit(spanN))))
          .as("_h"))
    val dupSpans = spans.groupBy(col("_h"))
      .agg(countDistinct(col("doc_id")).as("_nd"))
      .where(col("_nd") >= minDocs)
      .select(col("_h"))
    // Both per-doc statistics fold out of ONE exploded frame in ONE
    // aggregate. (doc_id, start) is unique by construction (posexplode
    // of per-doc positions), so each duplicated start contributes
    // EXACTLY spanN exploded rows: the span tally is count(*)/spanN —
    // no second distinct — and the coverage union is the one
    // countDistinct(pos), which Spark plans as a two-stage partial
    // distinct with no Expand. A first draft computed the two stats as
    // separate aggregates left-joined one after the other — and
    // because each left-join branch re-derives `spans` AND the
    // dup-span aggregate, the physical plan tokenized + md5-hashed the
    // corpus FOUR times (plan-audited at sf0.01). This shape does it
    // twice — the two-pass minimum for global-frequency-then-join-back
    // (one pass feeds the frequency aggregate, one the join probe).
    val perDoc = spans.join(dupSpans, Seq("_h"))
      .select(col("doc_id"), col("start"),
        explode(sequence(col("start"), col("start") + (spanN - 1))).as("_pos"))
      .groupBy(col("doc_id"))
      .agg((count(lit(1)) / spanN).cast("long").as("n_dup_spans"),
        countDistinct(col("_pos")).as("n_covered"))
    toks.select(col("doc_id"), size(col("_toks")).cast("long").as("n_tokens"))
      .join(perDoc, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_tokens"),
        coalesce(col("n_dup_spans"), lit(0L)).as("n_dup_spans"),
        coalesce(col("n_covered"), lit(0L)).as("n_covered"),
        (coalesce(col("n_covered"), lit(0L)).cast("double") /
          col("n_tokens").cast("double")).as("dup_coverage"))
  }

  /** Apply span-level dedup — the TRANSFORM [[spanDupCoverage]] only
    * measures (Lee et al. ACL'22 actually REMOVE the duplicated
    * substrings; C4 drops repeated three-sentence spans): rebuild each
    * document's text with cross-doc-duplicated span positions removed,
    * keeping the span in its canonical owner.
    *
    * Policy (deterministic, doc-level): for every `spanN`-token span
    * appearing verbatim in ≥ `minDocs` distinct docs, the owner is the
    * MIN doc id containing it; in every other doc, all positions covered
    * by an occurrence of that span are dropped. The owner keeps its
    * text untouched for that span (including internal repeats — the
    * within-doc repetition signal belongs to t07, not here). Tokens not
    * covered by any non-owned dup span survive in original order.
    * Returns (doc_id, n_tokens, n_kept, clean_md5) per non-null-text
    * doc; clean_md5 = md5 of the reconstructed space-joined text (md5,
    * not the text itself, so the result stays fixed-width however large
    * the documents are).
    *
    * Scale shape — inherits [[spanDupCoverage]]'s no-pair-formation
    * property (a span in k docs costs k rows, never k², so no caps and
    * no cap columns in the oracle). Two corpus-wide passes (one feeds
    * the span-frequency aggregate, one the join probe — the
    * global-frequency-then-join-back minimum), then the rewrite itself
    * is NARROW: dropped positions collapse to one per-doc array
    * (bounded by document length — the same per-row bound as holding
    * the tokenized doc at all), and reconstruction is array_except +
    * element_at arithmetic inside codegen, no further shuffle. */
  def spanDedupRewrite(df: DataFrame, idCol: String, textCol: String,
      spanN: Int = 8, minDocs: Int = 2): DataFrame = {
    require(spanN >= 2, s"spanN must be >= 2, got $spanN")
    require(minDocs >= 2, s"minDocs must be >= 2, got $minDocs")
    val toks = df.where(col(textCol).isNotNull)
      .select(col(idCol).as("doc_id"), split(col(textCol), " ").as("_toks"))
    // span hashes are computed AFTER the position explode, per row —
    // the transform()-lambda-then-posexplode form ran the md5 chain as
    // a CodegenFallback higher-order function (interpreted per doc,
    // whole-stage codegen broken around it) and allocated the full
    // per-doc hash array; identical (start, _h) values either way
    val spans = toks.where(size(col("_toks")) >= spanN)
      .select(col("doc_id"), col("_toks"),
        posexplode(sequence(lit(0), size(col("_toks")) - spanN))
          .as(Seq("start", "_i")))
      .select(col("doc_id"), col("start"),
        md5(concat_ws(" ", slice(col("_toks"), col("_i") + 1, lit(spanN))))
          .as("_h"))
    // owner = min doc id per duplicated span (countDistinct gate first)
    val owners = spans.groupBy(col("_h"))
      .agg(countDistinct(col("doc_id")).as("_nd"), min(col("doc_id")).as("_owner"))
      .where(col("_nd") >= minDocs)
      .select(col("_h"), col("_owner"))
    // every position covered by a NON-OWNED dup-span occurrence, as one
    // sorted per-doc array (sort_array makes the array — and therefore
    // clean_md5's reconstruction — independent of aggregation order)
    val dropped = spans.join(owners, Seq("_h"))
      .where(col("doc_id") > col("_owner"))
      .select(col("doc_id"),
        explode(sequence(col("start"), col("start") + (spanN - 1))).as("_pos"))
      .groupBy(col("doc_id"))
      .agg(sort_array(collect_set(col("_pos"))).as("_drop"))
    val idx = sequence(lit(0), size(col("_toks")) - 1)
    // array_except preserves left order over unique positions → kept
    // positions ascending; graft_gather (codegen) maps them back to
    // tokens — the transform(kept, i => element_at(...)) form ran an
    // interpreted lambda frame per kept token of every doc (round 14)
    val kept = array_except(idx, coalesce(col("_drop"),
      array().cast("array<int>")))
    toks.join(dropped, Seq("doc_id"), "left")
      .select(col("doc_id"), size(col("_toks")).cast("long").as("n_tokens"),
        graft.functions.TextHashExpressions.gather(col("_toks"), kept).as("_keep"))
      .select(col("doc_id"), col("n_tokens"),
        size(col("_keep")).cast("long").as("n_kept"),
        md5(concat_ws(" ", col("_keep"))).as("clean_md5"))
  }

  /** WITHIN-doc repeated-span removal — [[spanDedupRewrite]]'s
    * complement along the other axis (that op removes spans duplicated
    * ACROSS docs; this one removes a doc's own internal repetition —
    * the Gopher dup-n-gram signal t07 measures, applied as a
    * transform). For every `spanN`-token span occurring more than once
    * in a doc, the FIRST occurrence (min start) is kept; positions
    * covered by later occurrences are dropped and the text is
    * reconstructed. Returns (doc_id, n_tokens, n_kept, clean_md5).
    *
    * Scale shape: every stage is keyed by the doc (span hashing is
    * narrow; the first-occurrence aggregate and the dropped-position
    * fold both group on doc-prefixed keys, so partial aggregation
    * absorbs them map-side and a single doc never concentrates more
    * state than its own length). No corpus-wide frequency table at all
    * — unlike the cross-doc rewrite this op needs no global pass, so it
    * composes with d47 at scan-bandwidth cost. */
  def selfDupRewrite(df: DataFrame, idCol: String, textCol: String,
      spanN: Int = 8): DataFrame = {
    require(spanN >= 2, s"spanN must be >= 2, got $spanN")
    val toks = df.where(col(textCol).isNotNull)
      .select(col(idCol).as("doc_id"), split(col(textCol), " ").as("_toks"))
    // span hashes are computed AFTER the position explode, per row —
    // the transform()-lambda-then-posexplode form ran the md5 chain as
    // a CodegenFallback higher-order function (interpreted per doc,
    // whole-stage codegen broken around it) and allocated the full
    // per-doc hash array; identical (start, _h) values either way
    val spans = toks.where(size(col("_toks")) >= spanN)
      .select(col("doc_id"), col("_toks"),
        posexplode(sequence(lit(0), size(col("_toks")) - spanN))
          .as(Seq("start", "_i")))
      .select(col("doc_id"), col("start"),
        md5(concat_ws(" ", slice(col("_toks"), col("_i") + 1, lit(spanN))))
          .as("_h"))
    val firstStart = spans.groupBy(col("doc_id"), col("_h"))
      .agg(min(col("start")).as("_first"), count(lit(1)).as("_n"))
      .where(col("_n") > 1)
      .select(col("doc_id"), col("_h"), col("_first"))
    val dropped = spans.join(firstStart, Seq("doc_id", "_h"))
      .where(col("start") > col("_first"))
      .select(col("doc_id"),
        explode(sequence(col("start"), col("start") + (spanN - 1))).as("_pos"))
      .groupBy(col("doc_id"))
      .agg(sort_array(collect_set(col("_pos"))).as("_drop"))
    val idx = sequence(lit(0), size(col("_toks")) - 1)
    // graft_gather: codegen'd token rebuild (see spanDedupRewrite)
    val kept = array_except(idx, coalesce(col("_drop"),
      array().cast("array<int>")))
    toks.join(dropped, Seq("doc_id"), "left")
      .select(col("doc_id"), size(col("_toks")).cast("long").as("n_tokens"),
        graft.functions.TextHashExpressions.gather(col("_toks"), kept).as("_keep"))
      .select(col("doc_id"), col("n_tokens"),
        size(col("_keep")).cast("long").as("n_kept"),
        md5(concat_ws(" ", col("_keep"))).as("clean_md5"))
  }

  /** End-to-end minhash dedup: signatures → LSH candidates → clusters →
    * canonical keep decision (min doc id per cluster; docs with no
    * near-dup candidate keep themselves).
    *
    * An exact-text dedup pass (one hash-agg, linear) runs over ALL docs
    * alongside the LSH candidates, for two reasons: (a) docs shorter
    * than shingleN have no shingles, so minhash can't see them at all;
    * (b) a massively-duplicated document overflows every band bucket at
    * once, so the bucket-size cap would drop all of its LSH pairs — the
    * exact pass keeps byte-identical duplicates clustered no matter how
    * many copies exist, and the cap only ever costs NEAR-dup recall on
    * degenerate buckets. Each doc pairs with the min-id doc of its
    * identical-text group; those pairs feed the same cluster resolution. */
  def resolveMinhashDups(df: DataFrame, idCol: String, textCol: String,
      shingleN: Int = 3, numHashes: Int = 16, bands: Int = 4,
      minEstJaccard: Double = 0.5, maxBucketSize: Int = 10000): DataFrame = {
    val pairs = minhashCandidates(df, idCol, textCol, shingleN, numHashes,
      bands, minEstJaccard, maxBucketSize)
    // keyed by md5(text): the exact pass shuffles hashes, not documents
    val keyed = df.select(col(idCol).as("doc_id"), md5(col(textCol)).as("_th"))
    val exactPairs = keyed
      .join(keyed.groupBy(col("_th")).agg(min(col("doc_id")).as("_keep")), Seq("_th"))
      .where(col("doc_id") =!= col("_keep"))
      .select(col("_keep").as("doc_a"), col("doc_id").as("doc_b"),
        lit(1.0).as("est_jaccard"))
    val clusters = dupClusters(pairs.unionByName(exactPairs))
    df.select(col(idCol).as("doc_id"))
      .join(clusters, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("cluster_id"), col("doc_id")).as("cluster_id"))
      .withColumn("is_canonical", col("doc_id") === col("cluster_id"))
  }

  /** Duplicate-aware SOFT dedup: keep every row, downweight each by
    * 1/|cluster| so a document duplicated k times contributes ~one
    * document of total loss mass in training — the curation alternative
    * to hard dropping (near-dups sometimes carry the only clean copy of
    * a passage; soft weights preserve it while killing the
    * memorization-pressure of the repeats). Clusters come from
    * [[resolveMinhashDups]] (exact-text ∪ signature-identity ∪ LSH
    * pairs at `minEstJaccard`); the weight is ONE IEEE division of two
    * exact longs (the q97 bit-portability rule).
    *
    * Scale shape: everything up to the weights is the d09 plan; the
    * member count is a window over the cluster key — one keyed
    * exchange, no join back, no driver state. Returns
    * (doc_id, cluster_id, n_members, weight). */
  def softDedupWeights(df: DataFrame, idCol: String, textCol: String,
      shingleN: Int = 3, numHashes: Int = 16, bands: Int = 4,
      minEstJaccard: Double = 1.0, maxBucketSize: Int = 10000): DataFrame = {
    val byCluster = org.apache.spark.sql.expressions.Window
      .partitionBy(col("cluster_id"))
    resolveMinhashDups(df, idCol, textCol, shingleN, numHashes, bands,
        minEstJaccard, maxBucketSize)
      .select(col("doc_id"), col("cluster_id"),
        count(lit(1)).over(byCluster).as("n_members"))
      .select(col("doc_id"), col("cluster_id"), col("n_members"),
        (lit(1.0) / col("n_members").cast("double")).as("weight"))
  }

  /** The LSH banding dial derived from a TARGET Jaccard threshold —
    * the d44/d48 auto-dial lesson applied to the (bands, rowsPerBand)
    * pair, which every fixed-dial caller today guesses by hand. The
    * detection S-curve for b bands of r rows has its knee at
    * t* = (1/b)^(1/r); this picks the LARGEST r dividing `numHashes`
    * with t* ≤ `targetJaccard` — the most selective banding (fewest
    * false-positive candidates, the cost driver of the verify stage)
    * that still catches pairs at the target similarity with at least
    * the knee probability. Falls back to r = 1 (bands = numHashes, the
    * highest-recall banding) when even one-row bands overshoot.
    *
    * Exactness: t* ≤ t  ⇔  1/b ≤ t^r  ⇔  b·T^r ≥ 100^r with
    * T = round(100·t), evaluated in BigInt — no pow(), no libm
    * divergence (the autoPlanes integer-bit-length rule). BigInt is
    * arbitrary-precision, so the comparison is exact at ANY divisor
    * (100^64 is ~426 bits — do NOT "optimize" this to a fixed 128-bit
    * representation); centi-quantization exists to make the rule a
    * pure integer comparison, not to bound its width. The dial depends
    * only on CONSTANTS, so an
    * oracle inlines the resulting bands value and the derivation itself
    * is property-tested (DedupSpec) rather than re-derived per row.
    * Returns the bands count b = numHashes / r. */
  def autoBands(numHashes: Int, targetJaccard: Double): Int = {
    require(numHashes >= 1 && numHashes <= 64,
      s"numHashes must be in [1,64], got $numHashes")
    val t = math.round(targetJaccard * 100).toInt
    require(t >= 1 && t <= 99,
      s"targetJaccard must round into [0.01, 0.99], got $targetJaccard")
    val divisors = (1 to numHashes).filter(numHashes % _ == 0)
    val rBest = divisors.reverse.find { r =>
      val b = numHashes / r
      BigInt(b) * BigInt(t).pow(r) >= BigInt(100).pow(r)
    }.getOrElse(1)
    numHashes / rBest
  }

  /** [[minhashCandidates]] with the banding derived from the target
    * threshold ([[autoBands]]) and the estimated-Jaccard floor set AT
    * the target — one dial (the similarity you care about) instead of
    * three (bands × rows × floor) that silently disagree. */
  def minhashCandidatesAtThreshold(df: DataFrame, idCol: String,
      textCol: String, targetJaccard: Double, shingleN: Int = 3,
      numHashes: Int = 16, maxBucketSize: Int = 10000): DataFrame =
    minhashCandidates(df, idCol, textCol, shingleN, numHashes,
      autoBands(numHashes, targetJaccard), targetJaccard, maxBucketSize)

  /** Edit-distance-verified near-dup pairs: MinHash/LSH candidate
    * generation (the scalable stage) followed by EXACT Levenshtein
    * verification of each surviving pair — the character-level verify
    * for short-text corpora (titles, queries, captions) where a word
    * n-gram Jaccard is too coarse: a one-character typo changes every
    * 3-shingle it touches but costs edit distance 1. Keep rule is the
    * pure-integer comparison (max_len − lev)·1000 ≥ minSimMilli·max_len
    * — i.e. similarity 1 − lev/max_len at a milli threshold, decided
    * with no float arithmetic; the reported `edit_sim` is one IEEE
    * division of exact longs (the q97 rule). Both engines run the
    * textbook DP (Spark `levenshtein`, DuckDB `levenshtein`) — exact
    * integers, hash-portable.
    *
    * Scale shape: pair formation is ENTIRELY the capped LSH stage
    * (Σ bucket² bounded by maxBucketSize, over-cap buckets audited by
    * the family's overflow twin — never silent all-pairs); the verify
    * joins text back onto candidate pairs by id (two hash joins,
    * shuffling ids + the candidate pairs' text only) and runs one
    * O(len_a·len_b) DP per pair. `maxChars` bounds that DP: a pair
    * whose LONGER side exceeds it is emitted with lev = NULL and
    * `verified` = false (cap + audit, the d24 rule — a 100 MB doc pair
    * must not quadratic-DP an executor; its verdict is explicitly
    * "unverified", not a silent drop or a silent keep). Returns
    * (doc_a, doc_b, lev, max_len, edit_sim, is_dup, verified). */
  def editVerifiedPairs(df: DataFrame, idCol: String, textCol: String,
      minSimMilli: Int = 800, shingleN: Int = 3, numHashes: Int = 16,
      bands: Int = 4, maxBucketSize: Int = 10000,
      maxChars: Int = 10000): DataFrame = {
    require(minSimMilli >= 0 && minSimMilli <= 1000,
      s"minSimMilli must be in [0,1000], got $minSimMilli")
    val cands = minhashCandidates(df, idCol, textCol, shingleN, numHashes,
      bands, 0.0, maxBucketSize)
    val texts = df.where(col(textCol).isNotNull)
      .select(col(idCol).as("_tid"), col(textCol).as("_txt"),
        length(col(textCol)).cast("long").as("_len"))
    val paired = cands
      .join(texts.select(col("_tid").as("doc_a"), col("_txt").as("_ta"),
        col("_len").as("_la")), Seq("doc_a"))
      .join(texts.select(col("_tid").as("doc_b"), col("_txt").as("_tb"),
        col("_len").as("_lb")), Seq("doc_b"))
      .select(col("doc_a"), col("doc_b"),
        greatest(col("_la"), col("_lb")).as("max_len"),
        (greatest(col("_la"), col("_lb")) <= maxChars).as("verified"),
        col("_ta"), col("_tb"))
    paired
      .select(col("doc_a"), col("doc_b"),
        when(col("verified"), levenshtein(col("_ta"), col("_tb")).cast("long"))
          .as("lev"),
        col("max_len"), col("verified"))
      .select(col("doc_a"), col("doc_b"), col("lev"), col("max_len"),
        when(col("verified"),
          (col("max_len") - col("lev")).cast("double") / col("max_len"))
          .as("edit_sim"),
        when(col("verified"),
          (col("max_len") - col("lev")) * 1000L >= col("max_len") * minSimMilli)
          .as("is_dup"),
        col("verified"))
  }

  /** Incremental dedup — the APPEND-time form of the dedup family: a
    * crawl increment is deduped against an existing corpus without
    * re-clustering the world. Each incoming doc gets a verdict:
    * `dup_of` = the min-id existing doc it duplicates (byte-identical
    * text OR identical full minhash signature — the threshold-1.0
    * identity level), or NULL with `is_new` = true.
    *
    * Scale shape: at threshold 1.0 banding is unnecessary — signature
    * equality IS the join key, so the whole op is two fingerprint
    * equi-joins (md5 of text; md5 of the joined signature lanes — the
    * lshBands(bands=1) key), shuffling 32-char hashes, never text. In
    * production the existing side's two fingerprint tables are exactly
    * what the corpus catalog stores, so the increment's cost is
    * independent of corpus re-processing. Docs shorter than shingleN
    * have no signature and dedup by exact text only (the resolveMinhash
    * rule); a NULL-text incoming doc has no identity and reports
    * is_new (it matches nothing, including other NULL texts). */
  def incrementalDedup(existing: DataFrame, incoming: DataFrame,
      idCol: String, textCol: String, shingleN: Int = 3,
      numHashes: Int = 16): DataFrame = {
    def sigKeyed(df: DataFrame): DataFrame =
      signatures(df.where(col(textCol).isNotNull &&
          size(split(col(textCol), " ")) >= shingleN),
          idCol, textCol, shingleN, numHashes)
        .select(col("doc"),
          // the lshBands(bands = 1) bucket, lambda-free: md5 over every
          // lane comma-joined — identical string, codegen'd
          md5(concat_ws(",", col("sig").cast("array<string>"))).as("_sk"))
    val exText = existing.where(col(textCol).isNotNull)
      .select(md5(col(textCol)).as("_th"), col(idCol).as("_eid"))
      .groupBy(col("_th")).agg(min(col("_eid")).as("_tdup"))
    val exSig = sigKeyed(existing)
      .groupBy(col("_sk")).agg(min(col("doc")).as("_sdup"))
    incoming.select(col(idCol).as("doc_id"), md5(col(textCol)).as("_th"))
      .join(exText, Seq("_th"), "left")
      .join(sigKeyed(incoming).select(col("doc").as("doc_id"), col("_sk")),
        Seq("doc_id"), "left")
      .join(exSig, Seq("_sk"), "left")
      .select(col("doc_id"),
        least(col("_tdup"), col("_sdup")).as("dup_of"),
        (col("_tdup").isNull && col("_sdup").isNull).as("is_new"))
  }

  /** Curation-grade keep decision over resolved clusters: keep the
    * HIGHEST-scoring doc per cluster (ties → min id) instead of the
    * min-id doc. resolveMinhashDups' min-id canonical is correct for
    * identity dedup (stable, order-free); for corpus curation the
    * cluster should surrender its most complete copy — longest text,
    * best quality score, newest crawl — which is a caller-supplied
    * score, not an id. Input: per-doc labels (any frame with id,
    * cluster and score columns, e.g. resolveMinhashDups joined to a
    * score). One exchange on the cluster key serving two stacked window
    * aggregates: best score, then min id AMONG best-scored rows. The
    * earlier single-struct-max form ordered ids ascending by NEGATING
    * the id — which silently casts a string id to double NULL (making
    * is_kept NULL for every row) and overflows on Long.MinValue
    * (-MinValue == MinValue, the trap topKStream documents); the
    * two-aggregate form works for ANY orderable id type with no
    * arithmetic on the id at all.
    *
    * NULL scores rank below every non-NULL score (max() ignores nulls,
    * and a null score fails the null-safe `<=>` match against the best
    * score); a cluster whose EVERY score is null falls back to the
    * min-id keep (null <=> null is TRUE, so all rows match and min id
    * wins) — is_kept stays a real boolean in both cases (the family
    * NULL rule: a missing score must not silently drop the cluster). */
  def keepBestPerCluster(labeled: DataFrame, idCol: String,
      clusterCol: String, scoreCol: String, as: String = "is_kept"): DataFrame = {
    val w = Window.partitionBy(col(clusterCol))
    labeled
      .withColumn("_bs", max(col(scoreCol)).over(w))
      .withColumn("_bid",
        min(when(col(scoreCol) <=> col("_bs"), col(idCol))).over(w))
      .withColumn(as,
        (col(scoreCol) <=> col("_bs")) && col(idCol) === col("_bid"))
      .drop("_bs", "_bid")
  }

  /** Cross-corpus contamination scan — the train/eval overlap check a
    * training pipeline runs before shipping a corpus: pairs
    * (train doc, eval doc) sharing at least `minSharedGrams` distinct
    * word n-grams (the GPT-3-style long-n-gram collision test).
    *
    * Plan shape: shingle both sides (narrow, distinct n-grams per doc),
    * explode, join on the md5 of the gram (compact portable key), count
    * shared grams per pair. Grams whose per-side document frequency
    * exceeds `maxGramDf` are dropped before the join (window count on
    * the join key — no extra exchange): a boilerplate n-gram appearing
    * in k docs per side would contribute k² join rows while carrying no
    * contamination signal. Audit what the cap dropped with
    * [[contaminationGramOverflow]].
    */
  def contaminationScan(train: DataFrame, evalSet: DataFrame,
      idCol: String, textCol: String, shingleN: Int = 8,
      minSharedGrams: Int = 2, maxGramDf: Int = 1000): DataFrame = {
    def grams(df: DataFrame, as: String) =
      withShingles(df, idCol, textCol, shingleN)
        .select(col(idCol).as(as), explode(col("_grams")).as("_g"))
        .select(col(as), md5(col("_g")).as("_gh"))
    def capped(g: DataFrame) = capBuckets(g, Seq("_gh"), maxGramDf)
    capped(grams(train, "train_id"))
      .join(capped(grams(evalSet, "eval_id")), Seq("_gh"))
      .groupBy(col("train_id"), col("eval_id"))
      .agg(count(lit(1)).as("n_shared_grams"))
      .where(col("n_shared_grams") >= minSharedGrams)
  }

  /** Decontamination APPLIED — [[contaminationScan]]'s removal twin
    * (the scan reports colliding pairs; a training run needs the
    * per-train-doc KEEP decision): every train doc sharing
    * ≥ `minSharedGrams` distinct `shingleN`-grams with ANY eval doc is
    * flagged, with its eval-hit count and worst collision strength.
    * Returns one row per train doc: (doc_id, n_eval_hits,
    * max_shared_grams, keep). Null-text docs carry no grams and always
    * keep.
    *
    * Scale shape is the scan's (two gram projections, per-side df caps
    * with audits, one hash-join on 16-byte gram hashes) plus one
    * train-keyed aggregate and one left join back to the train ids —
    * the per-doc fold is bounded by that doc's eval collisions, which
    * the `maxGramDf` cap already bounds per gram. */
  def decontaminate(train: DataFrame, evalSet: DataFrame,
      idCol: String, textCol: String, shingleN: Int = 8,
      minSharedGrams: Int = 2, maxGramDf: Int = 1000): DataFrame = {
    val hits = contaminationScan(train, evalSet, idCol, textCol,
        shingleN, minSharedGrams, maxGramDf)
      // (train_id, eval_id) is unique from the scan's aggregate
      .groupBy(col("train_id"))
      .agg(count(lit(1)).as("n_eval_hits"),
        max(col("n_shared_grams")).as("max_shared_grams"))
    train.select(col(idCol).as("doc_id"))
      .join(hits, col("doc_id") === col("train_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_eval_hits"), lit(0L)).as("n_eval_hits"),
        coalesce(col("max_shared_grams"), lit(0L)).as("max_shared_grams"),
        col("train_id").isNull.as("keep"))
  }

  /** Source-overlap duplication matrix — the dataset-card governance
    * view of [[resolveMinhashDups]]'s clusters: for every ordered
    * source pair (src_a, src_b), how many docs of src_a have a
    * duplicate (same resolution cluster, different doc) in src_b; the
    * diagonal counts docs with another copy in their OWN source.
    * `share` = n_overlap / n_docs_a, one IEEE division of exact longs.
    *
    * Scale shape — NO doc-pair formation: clusters reduce to
    * (cluster, source, count) first, so the cross join inside a cluster
    * fans out by SOURCE CARDINALITY (≤ a few hundred in any real
    * corpus), never by cluster size — a million-copy boilerplate
    * cluster contributes |sources|² rows, not 10¹² pairs. */
  def sourceOverlapMatrix(docs: DataFrame, idCol: String, textCol: String,
      sourceCol: String): DataFrame = {
    val resolved = resolveMinhashDups(docs.where(col(textCol).isNotNull),
        idCol, textCol, minEstJaccard = 1.0)
      .select(col("doc_id"), col("cluster_id"))
    val withSrc = resolved.join(
      docs.select(col(idCol).as("doc_id"), col(sourceCol).as("_src")), Seq("doc_id"))
    // NOT pinned, deliberately (round-14 A/B): the (cluster, source)
    // counts feed both sides of the overlap self-join and do recompute
    // once per side (plan-audited 2×) — but an eager localCheckpoint
    // here measured 3–4× WORSE at the 10× corpus (4.4/5.1 s → 15.4/23.1 s
    // cross-binary interleaved): the stats-less checkpoint scans deny
    // AQE the post-shuffle sizes it uses to plan the self-join, and the
    // recomputed agg is one doc-keyed join + a partial-agged exchange —
    // cheaper than the planning it costs.
    val perClusterSrc = withSrc.groupBy(col("cluster_id"), col("_src"))
      .agg(count(lit(1)).as("_n"))
    val aSide = perClusterSrc.select(col("cluster_id"),
      col("_src").as("src_a"), col("_n").as("_na"))
    val bSide = perClusterSrc.select(col("cluster_id"),
      col("_src").as("src_b"), col("_n").as("_nb"))
    val overlap = aSide.join(bSide, Seq("cluster_id"))
      // a doc of src_a has a dup in src_b iff the cluster holds another
      // doc there: any b-doc when the sources differ, a second a-doc on
      // the diagonal
      .where((col("src_a") =!= col("src_b")) or (col("_na") >= 2))
      .groupBy(col("src_a"), col("src_b"))
      .agg(sum(col("_na")).as("n_overlap"))
    val totals = docs.where(col(textCol).isNotNull)
      .groupBy(col(sourceCol).as("src_a"))
      .agg(count(lit(1)).as("n_docs_a"))
    overlap.join(totals, Seq("src_a"))
      .select(col("src_a"), col("src_b"), col("n_docs_a"),
        col("n_overlap"),
        (col("n_overlap").cast("double") / col("n_docs_a").cast("double"))
          .as("share"))
  }

  /** Grams contaminationScan would drop at this cap (per side), with
    * their document frequencies. */
  def contaminationGramOverflow(df: DataFrame, idCol: String, textCol: String,
      shingleN: Int = 8, maxGramDf: Int = 1000): DataFrame =
    bucketOverflowOf(
      withShingles(df, idCol, textCol, shingleN)
        .select(col(idCol), explode(col("_grams")).as("_g"))
        .select(col(idCol), md5(col("_g")).as("_gh")),
      Seq("_gh"), maxGramDf)

  /** Exact n-gram Jaccard similarity of each doc against one query doc
    * (a one-row DataFrame, broadcast cross join — no driver collect):
    * |A∩B| / |A∪B| on distinct word n-grams. Integer set sizes → the
    * final division is the only float op, so the result is
    * bit-deterministic regardless of partitioning. */
  def ngramJaccardVs(df: DataFrame, idCol: String, textCol: String,
      query: DataFrame, queryTextCol: String, n: Int): DataFrame = {
    val qGrams = broadcast(
      withShingles(query.select(lit(0L).as("_qid"), col(queryTextCol).as("_qtext")),
        "_qid", "_qtext", n, gramsCol = "_qgrams").select("_qgrams"))
    withShingles(df, idCol, textCol, n)
      .crossJoin(qGrams)
      .select(col(idCol),
        size(array_intersect(col("_grams"), col("_qgrams"))).cast("long").as("n_inter"),
        size(col("_grams")).cast("long").as("n_self"),
        size(col("_qgrams")).cast("long").as("n_query"))
      .withColumn("jaccard",
        col("n_inter").cast("double") /
          (col("n_self") + col("n_query") - col("n_inter")))
  }

  /** C4-style cross-document chunk dedup audit: split every doc into
    * disjoint `chunkTokens`-token chunks, keep only the globally FIRST
    * occurrence of each distinct chunk (ordered by (doc, chunk_idx) — a
    * deterministic total order), and report per-doc kept/removed tallies.
    * This is the "line-level dedup" step of C4/CCNet pipelines, expressed
    * over token chunks because the corpus has no line structure.
    *
    * Scale shape: chunking is narrow (chunkByTokens — zero shuffles);
    * chunk text is md5-keyed BEFORE the shuffle so 32-char hashes
    * travel, not text; first-occurrence is one window on the hash and
    * the tally one doc-keyed hash-agg.
    *
    * `maxChunkDf` guards the skew failure mode: a chunk duplicated
    * across a huge fraction of the corpus (corpus-wide boilerplate)
    * lands ALL its copies in one window partition — the same degenerate
    * bucket as the LSH caps. Chunks whose document frequency exceeds the
    * cap are dropped from the tallies BEFORE the first-occurrence
    * window (the guard count shuffles on the same `_h` key the window
    * needs, so it adds no exchange), and the drop is not silent: audit
    * it with [[chunkOverflow]]. A doc made entirely of over-cap
    * boilerplate disappears from the output — by design, since every
    * chunk it contributes is boilerplate the dedup could not adjudicate
    * within the cap. */
  def chunkDedupStats(df: DataFrame, idCol: String, textCol: String,
      chunkTokens: Int = 8, maxChunkDf: Int = 100000): DataFrame = {
    val chunks = hashedChunks(df, idCol, textCol, chunkTokens)
    val guarded = capBuckets(chunks, Seq("_h"), maxChunkDf)
    val w = Window.partitionBy(col("_h")).orderBy(col(idCol), col("chunk_idx"))
    guarded.withColumn("_rk", row_number().over(w))
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_chunks"),
        sum(when(col("_rk") === 1, 1L).otherwise(0L)).as("n_kept"),
        sum(when(col("_rk") > 1, 1L).otherwise(0L)).as("n_removed"))
  }

  /** Chunk hashes chunkDedupStats would drop at this cap, with their
    * document frequencies (empty when no chunk exceeds it). */
  def chunkOverflow(df: DataFrame, idCol: String, textCol: String,
      chunkTokens: Int = 8, maxChunkDf: Int = 100000): DataFrame =
    bucketOverflowOf(hashedChunks(df, idCol, textCol, chunkTokens),
      Seq("_h"), maxChunkDf)

  /** (id, chunk_idx, _h): disjoint token chunks md5-keyed before any
    * shuffle — shared by chunkDedupStats and its overflow audit. */
  private def hashedChunks(df: DataFrame, idCol: String, textCol: String,
      chunkTokens: Int): DataFrame =
    Packing.chunkByTokens(df, idCol, textCol, chunkTokens, chunkTokens)
      .select(col(idCol), col("chunk_idx"), md5(col("chunk_text")).as("_h"))

  /** Boilerplate CHUNK removal (the CCNet/RefinedWeb pass): a chunk
    * appearing in ≥ `minDocs` DISTINCT documents is boilerplate and is
    * removed EVERYWHERE — including its first occurrence. That
    * semantics is what separates this from [[chunkDedupStats]]'s
    * first-wins C4 dedup (d24: the first copy is worth keeping) and
    * [[spanDedupRewrite]]'s keep-one-owner (d47): a header, footer, or
    * cookie banner carries no training signal in ANY copy, so document
    * frequency — not duplication order — is the removal criterion.
    *
    * Scale shape: no pair formation anywhere — chunks hash-agg by md5
    * (hashes shuffle, never text; df via countDistinct inside the
    * keyed agg), membership returns by ONE hash equi-join, and the
    * per-doc reassembly sorts each doc's own bounded chunk list
    * map-side inside a doc-keyed agg. A chunk shared by k docs costs
    * k rows, never k² — the d45 no-caps property, and the oracle
    * carries none. Returns (doc_id, n_chunks, n_boiler, clean_md5)
    * with clean_md5 = md5 of the kept chunks joined in order (md5("")
    * for an all-boilerplate doc — pinned, not engine-defaulted). */
  def boilerplateRewrite(df: DataFrame, idCol: String, textCol: String,
      chunkTokens: Int = 8, minDocs: Int = 2): DataFrame = {
    require(chunkTokens >= 1, s"chunkTokens must be >= 1, got $chunkTokens")
    require(minDocs >= 2, s"minDocs must be >= 2, got $minDocs")
    val chunks = Packing.chunkByTokens(df.where(col(textCol).isNotNull),
        idCol, textCol, chunkTokens, chunkTokens)
      .select(col(idCol).as("doc_id"), col("chunk_idx"), col("chunk_text"),
        md5(col("chunk_text")).as("_h"))
    val boiler = chunks.groupBy(col("_h"))
      .agg(countDistinct(col("doc_id")).as("_nd"))
      .where(col("_nd") >= minDocs)
      .select(col("_h"), lit(true).as("_b"))
    chunks.join(boiler, Seq("_h"), "left")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_chunks"),
        sum(when(col("_b"), 1L).otherwise(0L)).as("n_boiler"),
        sort_array(collect_list(when(col("_b").isNull,
          struct(col("chunk_idx"), col("chunk_text"))))).as("_keep"))
      .select(col("doc_id"), col("n_chunks"), col("n_boiler"),
        // array-of-struct field extraction is the native
        // GetArrayStructFields (codegen) — the transform(s => getField)
        // lambda form ran interpreted per doc (round 14)
        md5(concat_ws(" ", col("_keep").getField("chunk_text")))
          .as("clean_md5"))
  }

  /** Dataset-version diff — the audit between two corpus snapshots a
    * versioned training pipeline publishes with every release: per-doc
    * status (`added` / `removed` / `changed` / `unchanged`, by id
    * presence and content fingerprint) plus the token delta each doc
    * contributes. Both sides reduce to (id, fingerprint, token count)
    * BEFORE the full-outer join, so the shuffle carries 32-char hashes
    * and two longs per doc — never document text — and the join key is
    * the id (no skew: ids are unique). NULL text is fingerprinted as a
    * distinct marker, so null→text and text→null transitions count as
    * `changed`, not added/removed. */
  def corpusDiff(v1: DataFrame, v2: DataFrame, idCol: String,
      textCol: String): DataFrame = {
    def side(df: DataFrame, tag: String): DataFrame = df.select(
      col(idCol).as("_id"),
      coalesce(graft.ops.TextAnalysis.fingerprint(col(textCol)), lit("-"))
        .as(s"_fp_$tag"),
      coalesce(size(split(col(textCol), " ")).cast("long"), lit(0L))
        .as(s"_tok_$tag"))
    side(v1, "a").join(side(v2, "b"), Seq("_id"), "full_outer")
      .select(col("_id").as(idCol),
        when(col("_fp_a").isNull, "added")
          .when(col("_fp_b").isNull, "removed")
          .when(col("_fp_a") === col("_fp_b"), "unchanged")
          .otherwise("changed").as("status"),
        (coalesce(col("_tok_b"), lit(0L)) - coalesce(col("_tok_a"), lit(0L)))
          .as("token_delta"))
  }

  /** Per-document n-gram NOVELTY against a reference corpus — the
    * data-valuation signal incremental-crawl curation ranks on ("how
    * much of this document is text we do not already have?"; the
    * complement of d11's contamination, which asks "how much do we
    * share?"): for each candidate doc, the fraction of its DISTINCT
    * `shingleN`-grams absent from the reference's gram set, in exact
    * ppm (novelty_ppm = 10⁶·n_new div n_grams). Docs with fewer than
    * `shingleN` tokens carry zero grams and are dropped (nothing to
    * score — the d11 convention).
    *
    * Scale shape: both sides project to md5 gram hashes (16-byte keys
    * shuffle, never text — the verifyJaccard rule); the reference
    * collapses to its DISTINCT gram set BEFORE the join (set
    * membership, not df — so no cap is needed: a gram seen in 10⁶ ref
    * docs is ONE build row), then one gram-keyed left join and one
    * doc-keyed count agg. Linear in total gram volume on both sides;
    * gram-hash keys are near-uniform, so no skew regime exists. */
  def noveltyScore(candidates: DataFrame, reference: DataFrame,
      idCol: String, textCol: String, shingleN: Int = 3): DataFrame = {
    def grams(df: DataFrame, as: String) =
      withShingles(df, idCol, textCol, shingleN)
        .select(col(idCol).as(as), explode(col("_grams")).as("_g"))
        .select(col(as), md5(col("_g")).as("_gh"))
    val refSet = grams(reference, "_rid").select(col("_gh")).distinct()
      .select(col("_gh"), lit(1L).as("_seen"))
    grams(candidates, "doc_id")
      .join(refSet, Seq("_gh"), "left")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_grams"),
        count(when(col("_seen").isNull, 1)).as("n_new"))
      .select(col("doc_id"), col("n_grams"), col("n_new"),
        expr("(1000000L * n_new) div n_grams").as("novelty_ppm"))
  }

  /** Candidates → CLIPPED n-gram precision (the BLEU-n modified
    * precision of Papineni et al. 2002, per candidate pair): treating
    * doc_a as hypothesis and doc_b as reference,
    * p_n = Σ_g min(c_a(g), c_b(g)) / Σ_g c_a(g) over MULTISET gram
    * counts — the overlap strength measure the distinct-set verify
    * family (Jaccard d15, containment d61) cannot see (a doc that
    * repeats one shared phrase 50× scores the same distinct-set
    * Jaccard as one that shares it once; clipping counts each
    * occurrence, capped at the reference's own multiplicity). Exact
    * ppm via one floor division of longs; symmetric columns for the
    * reverse direction ride the same aggregate.
    *
    * Scale shape: the verifyJaccard funnel with COUNTS instead of
    * sets — pair ids semi-join the corpus down before the explode,
    * per-doc gram multiset counts hash-agg once (md5 keys travel,
    * never text), then one join per pair side and one pair-keyed
    * clipped-sum. Work ∝ candidate gram volume, never O(n²); the
    * pair set is materialized once (the managed-lifetime rule). */
  def ngramPrecisionVerify(df: DataFrame, idCol: String, textCol: String,
      pairs: DataFrame, aCol: String = "doc_a", bCol: String = "doc_b",
      shingleN: Int = 2): DataFrame = {
    val p = pairs.select(col(aCol).as("doc_a"), col(bCol).as("doc_b"))
      .dropDuplicates("doc_a", "doc_b").localCheckpoint(true)
    // Each candidate doc's gram MULTISET travels as one sorted xxhash64
    // array (graft_shingle_hashes — one hash per window position, dups
    // kept) and the clip is the codegen'd sorted merge-intersect per
    // pair: over multisets, matched-element count = Σ_h min(count_a(h),
    // count_b(h)) — exactly the modified-precision clip the old
    // (doc, md5(gram))-count aggregate + two stream joins + pair-keyed
    // sum(least(ca, cb)) recovered (the round-14 verifyAgainst shape,
    // applied to the multiset family). n_a/n_b = array size = total
    // window count, the old totals sum. Same collision-freeness
    // contract as the md5-keyed join.
    def idsOf(side: String) = p.select(col(side).as("_gid")).distinct()
    val gramArrs = df
      .select(col(idCol).as("_gid"), split(col(textCol), " ").as("_toks"))
      .where(size(col("_toks")) >= shingleN)
      .join(idsOf("doc_a").unionByName(idsOf("doc_b")).distinct(),
        Seq("_gid"), "left_semi")
      .select(col("_gid"),
        graft.functions.TextHashExpressions
          .shingleHashes(col("_toks"), shingleN).as("_hs"))
      .select(col("_gid"), col("_hs"), size(col("_hs")).cast("long").as("_nt"))
      .localCheckpoint(true)
    p.join(gramArrs.select(col("_gid").as("doc_a"), col("_hs").as("_ha"),
        col("_nt").as("n_a")), Seq("doc_a"))
      .join(gramArrs.select(col("_gid").as("doc_b"), col("_hs").as("_hb"),
        col("_nt").as("n_b")), Seq("doc_b"))
      .select(col("doc_a"), col("doc_b"),
        graft.functions.TextHashExpressions
          .sortedIntersectCount(col("_ha"), col("_hb")).as("n_clip"),
        col("n_a"), col("n_b"))
      .withColumn("prec_a_ppm", expr("(1000000L * n_clip) div n_a"))
      .withColumn("prec_b_ppm", expr("(1000000L * n_clip) div n_b"))
  }
}
