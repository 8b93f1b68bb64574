package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables
import graft.operators.TextAnalysis.words

/** Deduplication operators for training-data curation (north-star
  * extension). Five families, in increasing sophistication:
  *
  *  1. exact (content-hash groupBy)          — [[exactDedup]]
  *  2. exact n-gram Jaccard (inverted index) — [[jaccardPairs]]
  *  3. MinHash + LSH banding                 — [[minhashLshPairs]]
  *  4. SimHash + Hamming blocking            — [[simhashPairs]]
  *  5. embedding cosine near-dup             — [[embeddingDupPairs]]
  *
  * Scale design notes (the whole point of these algorithms):
  *  - Exact dedup shuffles 64-char digests, not document bodies.
  *  - The Jaccard inverted index is O(sum of posting-list^2) — exact but
  *    only viable when shared shingles are rare; it is the *oracle* for
  *    the sketch-based paths, not the 100 TB path itself.
  *  - MinHash/LSH is the 100 TB path: per-doc signatures (96 hashes)
  *    computed in one codegen'd pass with NO explode of shingles; only
  *    band keys (32/doc) shuffle, so candidate generation is linear in
  *    corpus size and the quadratic cost is confined to true-collision
  *    buckets.
  *  - SimHash reduces each doc to 64 bits; Hamming-≤k search uses the
  *    pigeonhole chunk trick (k+1 chunks, join per chunk) — again
  *    linear shuffle, quadratic only inside chunk-collision buckets.
  *  - Embedding near-dup at this corpus size is a broadcast cross
  *    product; the LSH-bucketed form for large corpora lives in
  *    [[Similarity.lshNeighbors]].
  *
  * Caller contract: several operators `cache()` intermediates that the
  * RETURNED DataFrame still depends on (they cannot self-unpersist
  * before the caller's action), and [[duplicateClusters]] returns
  * labels that may sit in `localCheckpoint` blocks — persistent RDDs
  * that `spark.catalog.clearCache()` does not free. Long-lived
  * sessions invoking these in a loop should call
  * `graft.GraftSession.reset` between invocations, as Verify and Bench
  * do.
  */
object Dedup {

  /** Distinct word 3-gram shingles per document, as (doc_id, shingle)
    * pairs. Pure higher-order functions — no UDF, no explode until the
    * caller asks for one.
    */
  /** Shingles from a MATERIALIZED word-array column. The word array
    * must be a bound attribute, not an inline `split(...)`: the slice
    * lambda references it once per shingle position, and an embedded
    * split subtree would re-tokenize the document O(positions) times
    * (measured ~7s → ~0.5s at sf0.1).
    */
  def shinglesFromWords(ws: Column, n: Int = 3): Column =
    // Guard: sequence(0, -1) would produce a DESCENDING range in Spark,
    // so short docs (<n words) must short-circuit to an empty set.
    when(size(ws) >= n,
      array_distinct(
        transform(
          sequence(lit(0), size(ws) - lit(n)),
          i => concat_ws(" ", slice(ws, i + lit(1), lit(n))))))
      .otherwise(array().cast("array<string>"))

  /** Convenience single-expression form (tests / small inputs). For
    * table-scale use, stage `words(text)` into its own projection and
    * call [[shinglesFromWords]] — see the note there.
    */
  def shingleArray(text: Column, n: Int = 3): Column =
    shinglesFromWords(words(text), n)

  /** Documents with the word array staged behind a projection. */
  private def docWords(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .select(col("doc_id"), words(col("text")).as("ws"))

  private def shingles(spark: SparkSession, dir: String): DataFrame =
    docWords(spark, dir)
      .select(col("doc_id"), explode(shinglesFromWords(col("ws"))).as("shingle"))

  /** 1. Exact dedup: group by SHA-256 of the body, keep the smallest
    * doc_id per group. Hash-groupBy semantics: the shuffle key is the
    * 32-byte digest — at 100 TB the text bodies never move, only
    * digests and ids do (project first, then shuffle).
    */
  def exactDedup(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .select(sha2(col("text"), 256).as("text_sha"), col("doc_id"))
      .groupBy(col("text_sha"))
      .agg(min(col("doc_id")).as("keep_doc_id"), count(lit(1)).as("n_copies"))
      .orderBy(col("keep_doc_id"))

  /** 2. Exact n-gram Jaccard with document-frequency-capped candidate
    * generation: explode distinct shingles, DROP shingles whose df is
    * outside [2, dfCap] before the posting-list self-join, then confirm
    * candidates with the exact Jaccard over the FULL shingle sets.
    *
    * Why the cap: the posting self-join is O(Σ df²) — one hot shingle
    * ("of the and" at web scale) turns a linear pass into a
    * billion-row² bucket. Shingles with df > cap are the classic
    * "stop shingles": they connect essentially random documents, so
    * they generate candidates without ever being decisive for a
    * J ≥ 0.5 pair (near-dup pairs share many RARE shingles; a pair
    * found only through a hot shingle has J ≈ 0). df < 2 shingles
    * cannot form a pair at all — dropping them is a pure win. The
    * confirm step counts the intersection over the FULL posting lists,
    * so every emitted jaccard value is exact; the cap only bounds WHICH
    * pairs are examined.
    *
    * RECALL BLIND SPOT (inherent to df-capped generation, stated
    * honestly): a pair whose shared shingles ALL have df > dfCap — e.g.
    * boilerplate duplicated more than dfCap times — produces no
    * candidate and is never emitted regardless of its true J. Exact
    * byte-identical mass duplication is covered by [[exactDedup]];
    * NEAR-dup boilerplate beyond the cap needs [[minhashLshPairs]],
    * whose banding does not depend on df. For pairs that ARE emitted,
    * the value is the true Jaccard.
    *
    * Jaccard is a ratio of two integers — bit-identical across
    * engines, hence oracle-checkable (the oracle CTE mirrors the
    * capped generation and the full-set confirm).
    */
  def jaccardPairs(spark: SparkSession, dir: String,
                   threshold: Double = 0.5, dfCap: Int = 1000): DataFrame =
    jaccardPairsFrom(docWords(spark, dir), threshold, dfCap)

  /** [[jaccardPairs]] over an explicit (doc_id, ws: array<string>)
    * frame — the seam the hot-shingle spec drives synthetically. The
    * candidate pairs and their exact overlaps come from
    * [[sharedShingleCounts]].
    */
  def jaccardPairsFrom(docWords: DataFrame,
                       threshold: Double = 0.5, dfCap: Int = 1000): DataFrame = {
    val (common, sizes) = sharedShingleCounts(docWords
      .select(col("doc_id"), explode(shinglesFromWords(col("ws"))).as("shingle")), dfCap)
    common
      .join(sizes.withColumnRenamed("doc_id", "doc_a").withColumnRenamed("sz", "sz_a"), "doc_a")
      .join(sizes.withColumnRenamed("doc_id", "doc_b").withColumnRenamed("sz", "sz_b"), "doc_b")
      .select(col("doc_a"), col("doc_b"), round(col("common").cast("double")
        / (col("sz_a") + col("sz_b") - col("common")), 6).as("jaccard"))
      .filter(col("jaccard") >= threshold)
      .orderBy(col("doc_a"), col("doc_b"))
  }

  /** Gated dd13: CONTAINMENT near-dup pairs — the asymmetric measure
    * C(A→B) = |A∩B| / |A| that catches "document A is (mostly) inside
    * document B": quote expansions, boilerplate-wrapped reposts,
    * trailing-append duplicates. Jaccard misses these when B is much
    * longer than A (the union swamps the overlap); containment is the
    * standard complement every serious dedup stack runs alongside it.
    *
    * Same scale machinery as [[jaccardPairsFrom]] over word 5-grams
    * ([[sharedShingleCounts]]). The shared count is symmetric, so each
    * unordered candidate pair is counted once and then emitted in both
    * directions, (a, b) and (b, a) — the ordered pairs a `=!=`
    * self-join would give, for half its pairs. Ratio of exact integers
    * → oracle hash-checkable.
    */
  def containmentPairs(spark: SparkSession, dir: String,
                       n: Int = 5, threshold: Double = 0.5,
                       dfCap: Int = 1000): DataFrame = {
    val (common, sizes) = sharedShingleCounts(docWords(spark, dir)
      .select(col("doc_id"), explode(shinglesFromWords(col("ws"), n)).as("shingle")), dfCap)
    common.select(inline(array(struct(col("doc_a"), col("doc_b"), col("common")),
        struct(col("doc_b").as("doc_a"), col("doc_a").as("doc_b"), col("common")))))
      .join(sizes.withColumnRenamed("doc_id", "doc_a").withColumnRenamed("sz", "sz_a"), "doc_a")
      .select(col("doc_a"), col("doc_b"),
        round(col("common").cast("double") / col("sz_a"), 6).as("containment"))
      .filter(col("containment") >= threshold)
      .orderBy(col("doc_a"), col("doc_b"))
  }

  /** The exact shared-shingle count of every df-capped candidate pair,
    * from (doc_id, shingle) postings with distinct shingles per doc:
    * (doc_a, doc_b, common), one row per unordered pair
    * (`doc_a < doc_b`) that shares at least one shingle of
    * df ∈ [2, dfCap], with `common` = |A∩B| over the FULL shingle
    * sets; and (doc_id, sz), each doc's set size.
    *
    * Plan shape: df is a MAP-SIDE-COMBINABLE `groupBy(shingle).count()`
    * joined back to the postings — NOT a count window. A count window
    * hauls the hot shingle's ENTIRE posting list into one WindowExec
    * task (it spills, so it's a straggler, not an OOM — but at a 100 TB
    * corpus the hottest boilerplate shingle is exactly where that
    * bites). The combinable count reduces that shingle to one row per
    * map partition before the shuffle, and the join back streams the
    * 1-row-per-shingle count side against the postings — bounded
    * per-task memory regardless of df skew (the dd8/dd15 min-struct
    * discipline applied to df). The per-shingle filters then ride the
    * tiny count frame, so the hot/capped splits never re-shuffle the
    * postings. The capped join both GENERATES the candidate pairs and
    * counts their shared df-in-[2,cap] shingles; exactness then needs
    * only a CORRECTION term, because a shared shingle missing from
    * that count must have df > dfCap (df < 2 is impossible for a
    * shared shingle): the candidates are joined back to the HOT
    * (df > cap) postings only — per doc that is at most
    * #distinct-hot-shingles rows, NOT the full set — and the two
    * counts are added. On a corpus where the cap never fires the hot
    * side is empty and the correction costs nothing (measured: the
    * full-postings confirm was 16 s at sf0.1; this shape restores the
    * round-2 2 s while keeping emitted values exact).
    *
    * The postings and the df counts stay cached: the returned frame
    * reads them (see the caller contract in the object header).
    */
  private def sharedShingleCounts(postings: DataFrame,
                                  dfCap: Int): (DataFrame, DataFrame) = {
    val sh = postings.cache()
    val dfCounts = sh.groupBy(col("shingle")).agg(count(lit(1)).as("df")).cache()
    val sizes = sh.groupBy(col("doc_id")).agg(count(lit(1)).as("sz"))
    val hotShingles = dfCounts.filter(col("df") > dfCap).select(col("shingle"))
    val capped = sh.join(
      dfCounts.filter(col("df") >= 2 && col("df") <= dfCap).select(col("shingle")),
      Seq("shingle"))
    val hot = sh.join(broadcast(hotShingles), Seq("shingle"))
    // Candidate generation + capped-space intersection counts in one join.
    val cappedCommon = capped.as("a").join(capped.as("b"),
        col("a.shingle") === col("b.shingle") && col("a.doc_id") < col("b.doc_id"))
      .groupBy(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
      .agg(count(lit(1)).as("capped_common"))
    // Exactness correction: shared HOT shingles of the candidate pairs.
    // Existence probe first (one scalar off the cached per-shingle
    // count frame — NOT the postings): on the common no-hot-shingle
    // corpus the capped counts are already exact and the correction's
    // extra pair-keyed shuffle is skipped entirely.
    val inter = if (hotShingles.isEmpty) {
      cappedCommon.withColumnRenamed("capped_common", "common")
    } else {
      val hotCommon = cappedCommon.select(col("doc_a"), col("doc_b"))
        .join(hot.select(col("doc_id").as("doc_a"), col("shingle")), Seq("doc_a"))
        .join(hot.select(col("doc_id").as("doc_b"), col("shingle")), Seq("doc_b", "shingle"))
        .groupBy(col("doc_a"), col("doc_b"))
        .agg(count(lit(1)).as("hot_common"))
      cappedCommon
        .join(hotCommon, Seq("doc_a", "doc_b"), "left")
        .select(col("doc_a"), col("doc_b"),
          (col("capped_common") + coalesce(col("hot_common"), lit(0L))).as("common"))
    }
    (inter, sizes)
  }

  /** Gated dd14: COVERAGE AUDIT for the df-capped candidate
    * generation that [[containmentPairs]] (and [[jaccardPairsFrom]])
    * rely on. Candidates are only generated from shingles with
    * df ∈ [2, dfCap]; a pair whose entire overlap consists of
    * hotter-than-cap shingles (heavy boilerplate corpora) is never
    * emitted, even at containment 1.0. That bound is deliberate — it
    * is what keeps candidate generation from going quadratic on stop
    * shingles — but it must be OBSERVABLE, not silent: this audit
    * emits, per document, the distinct-shingle count, how many fall
    * in the capped band, how many are hotter than the cap, and a
    * `covered` flag (false ⇒ the doc cannot appear in ANY candidate
    * pair, so its duplicates are invisible to the capped path).
    * Operators monitor `covered=false` counts per batch; a spike
    * means the corpus got more boilerplate-heavy and dfCap needs
    * raising (or the boilerplate needs stripping upstream).
    *
    * Scale shape: one shingle explode, one df aggregation, one
    * shingle-keyed join back, one doc-keyed aggregation — all linear,
    * no pair enumeration anywhere.
    */
  def containmentCoverage(spark: SparkSession, dir: String,
                          n: Int = 5, dfCap: Int = 1000): DataFrame = {
    val sh = docWords(spark, dir)
      .select(col("doc_id"), explode(shinglesFromWords(col("ws"), n)).as("shingle"))
    val dfs = sh.groupBy(col("shingle")).agg(count(lit(1)).as("df"))
    val stats = sh.join(dfs, "shingle")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("sz"),
        sum(when(col("df") >= 2 && col("df") <= dfCap, 1L).otherwise(0L))
          .as("capped_sz"),
        sum(when(col("df") > dfCap, 1L).otherwise(0L)).as("hot_sz"))
    Tables.documents(spark, dir).select(col("doc_id"))
      .join(stats, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("sz"), lit(0L)).as("sz"),
        coalesce(col("capped_sz"), lit(0L)).as("capped_sz"),
        coalesce(col("hot_sz"), lit(0L)).as("hot_sz"),
        (coalesce(col("capped_sz"), lit(0L)) > 0).as("covered"))
      .orderBy(col("doc_id"))
  }

  // MinHash parameters: 96 permutations in 32 bands of 3 rows.
  // For pairs at the 0.7 threshold, P(miss) = (1 - 0.7^3)^32 ≈ 2e-6;
  // the planted near-dups in the corpus sit at J ≈ 0.95+ where
  // P(miss) < 1e-30 — LSH recall is not the correctness bottleneck.
  final val NumHashes = 96
  final val Bands = 32
  final val RowsPerBand = 3
  final val HashPrime = 1000000007L

  /** Deterministic (a,b) coefficients for the i-th minhash permutation
    * h_i(x) = (a_i * x + b_i) mod p — splitmix64-derived, fixed seed.
    */
  private def perm(i: Int): (Long, Long) = {
    def mix(z0: Long): Long = {
      var x = z0 + 0x9e3779b97f4a7c15L
      x = (x ^ (x >>> 30)) * 0xbf58476d1ce4e5b9L
      x = (x ^ (x >>> 27)) * 0x94d049bb133111ebL
      x ^ (x >>> 31)
    }
    val a = (mix(i.toLong * 2 + 1) & Long.MaxValue) % (HashPrime - 1) + 1
    val b = (mix(i.toLong * 2 + 2) & Long.MaxValue) % HashPrime
    (a, b)
  }

  /** Shingle hashes: crc32 (codegen'd built-in) reduced mod p. */
  def shingleHashes(shingles: Column): Column =
    transform(shingles, s => crc32(s) % HashPrime)

  /** MinHash signature from a MATERIALIZED shingle-hash array: all 96
    * permutation minima in one native kernel call per row
    * ([[graft.functions.MinHashSigExpr]] — single primitive loop, one
    * output allocation, full codegen).
    *
    * The input must be a projected column, not an inline expression
    * tree: Catalyst expressions are trees, so embedding the shingle
    * hashing inside the signature expression would re-evaluate the
    * shingling per reference (measured 100×+ slowdown at sf0.1 with
    * the higher-order-function formulation).
    */
  def minhashSignature(hashesCol: Column): Column =
    graft.functions.MinHashExpr.minhashSig(hashesCol,
      (0 until NumHashes).map(perm(_)._1).toArray,
      (0 until NumHashes).map(perm(_)._2).toArray,
      HashPrime)

  /** 3. MinHash + LSH banding: signatures → 32 band keys/doc → equi-join
    * on (band index, band hash) → distinct candidate pairs → exact
    * Jaccard confirm ≥ threshold. Output equals the exact all-pairs
    * answer (the oracle) with overwhelming probability; the difference
    * is the cost curve: banding shuffles 32 small keys per doc instead
    * of comparing N² pairs.
    */
  def minhashLshPairs(spark: SparkSession, dir: String,
                      threshold: Double = 0.7): DataFrame = {
    // Stage 1: shingle sets. Stage 2: hash array. Stage 3: 96-way
    // signature over the bound array attribute. The docs cache doubles
    // as the projection barrier so CollapseProject cannot re-inline the
    // shingling into the 96 permutation expressions; `shingled` itself
    // has a single downstream consumer, so caching it would be pure
    // storage overhead (each staged alias below is referenced once —
    // CollapseProject keeps multiply-referenced non-cheap aliases
    // staged, so the un-cached select chain stays a two-pass pipeline).
    val shingled = docWords(spark, dir)
      .select(col("doc_id"), shinglesFromWords(col("ws")).as("sh"))
    val docs = shingled
      .select(col("doc_id"), col("sh"), shingleHashes(col("sh")).as("shh"))
      .select(col("doc_id"), col("sh"), minhashSignature(col("shh")).as("sig"))
      .cache()

    // Band key = hash of the band's signature slice + band index
    // (static slices → plain codegen'd expressions, no lambda).
    val banded = docs.select(
      col("doc_id"),
      posexplode(array((0 until Bands).map(b =>
        hash(slice(col("sig"), b * RowsPerBand + 1, RowsPerBand), lit(b))): _*)))
      .toDF("doc_id", "band_idx", "band_hash")

    val cand = banded.as("x").join(banded.as("y"),
        col("x.band_idx") === col("y.band_idx")
          && col("x.band_hash") === col("y.band_hash")
          && col("x.doc_id") < col("y.doc_id"))
      .select(col("x.doc_id").as("doc_a"), col("y.doc_id").as("doc_b"))
      .distinct()

    // Exact confirm on the candidate set only.
    val withSets = cand
      .join(docs.select(col("doc_id").as("doc_a"), col("sh").as("sh_a")), "doc_a")
      .join(docs.select(col("doc_id").as("doc_b"), col("sh").as("sh_b")), "doc_b")
    withSets
      .withColumn("common", size(array_intersect(col("sh_a"), col("sh_b"))).cast("double"))
      .withColumn("jaccard",
        round(col("common") / (size(col("sh_a")) + size(col("sh_b")) - col("common")), 6))
      .filter(col("jaccard") >= threshold)
      .select(col("doc_a"), col("doc_b"), col("jaccard"))
      .orderBy(col("doc_a"), col("doc_b"))
  }

  /** 4. SimHash: 64-bit signature where bit i is the sign of the sum of
    * (+1/-1) votes from each word-hash's bit i. Near-dups = Hamming
    * distance ≤ maxDist, found via the pigeonhole blocking trick: split
    * the 64 bits into 8 chunks of 8; any pair within distance ≤7 must
    * agree on ≥1 chunk, so an equi-join per chunk finds ALL such pairs
    * (exact, not probabilistic, for maxDist ≤ 7).
    */
  /** SimHash signature from a MATERIALIZED word-hash array, via the
    * native single-pass kernel ([[graft.functions.SimHashSigExpr]]) —
    * one traversal accumulating all 64 bit counters instead of 64
    * separate aggregate folds (same projection-barrier reasoning as
    * [[minhashSignature]]).
    */
  def simhashSignature(hashesCol: Column): Column =
    graft.functions.SimHashExpr.simhashSig(hashesCol)

  /** Cross-engine 60-bit word hash: the first 15 hex chars of md5,
    * parsed as an integer. md5 is bit-identical in Spark and DuckDB
    * (xxhash64 is not), which is what moves the dd3 gate from
    * rows-only to full hash-checking; 60 bits keep the parse inside a
    * signed long on both engines (sig bits 60–63 vote unanimously
    * negative and stay 0 on both sides). At 100 TB, swap in
    * `xxhash64(_)` via the `wordHash` parameter for a ~5× cheaper
    * hash — the signature kernel and join shape are identical.
    */
  def md5WordHash(w: Column): Column =
    conv(substring(md5(w), 1, 15), 16, 10).cast("long")

  def simhashPairs(spark: SparkSession, dir: String,
                   maxDist: Int = 7,
                   wordHash: Column => Column = md5WordHash,
                   probeShards: Int = 1, shard: Int = 0): DataFrame = {
    require(probeShards >= 1 && shard >= 0 && shard < probeShards)
    // Single cache at the signature level (reused by both sides of the
    // chunk self-join); the word-hash array is referenced exactly once
    // by the signature kernel, so it needs no barrier of its own.
    val docs = Tables.documents(spark, dir)
      .select(col("doc_id"), transform(words(col("text")), w => wordHash(w)).as("wh"))
      .select(col("doc_id"), simhashSignature(col("wh")).as("sig"))
      .cache()
    // Deterministic probe shard (r12 verdict item #5, xl1's bound
    // pattern): the gated form emits the pairs whose SMALLER doc_id
    // falls in one 1-in-probeShards residue class, so the emitted pair
    // mass — the one cost of this gate that grows with the corpus's
    // planted dup density (121 s of dd3's sf1 wall was output mass,
    // not plan defect) — carries a 1/probeShards deterministic bound
    // at every SF. `probeShards = 1` recovers the full pair set
    // (spec-exercised: the 2-shard union equals the full form); a real
    // dedup deployment fans one job per shard, which is exactly how
    // the full answer parallelizes anyway.
    val probeDocs =
      if (probeShards == 1) docs
      else docs.filter(col("doc_id") % lit(probeShards.toLong) === lit(shard.toLong))
    def chunksOf(d: DataFrame) = d.select(
      col("doc_id"), col("sig"),
      posexplode(array((0 until 8).map(c =>
        shiftright(col("sig"), c * 8).bitwiseAND(lit(0xFFL))): _*)))
      .toDF("doc_id", "sig", "chunk_idx", "chunk_val")
    val chunked = chunksOf(docs)
    chunksOf(probeDocs).as("x").join(chunked.as("y"),
        col("x.chunk_idx") === col("y.chunk_idx")
          && col("x.chunk_val") === col("y.chunk_val")
          && col("x.doc_id") < col("y.doc_id"))
      .select(col("x.doc_id").as("doc_a"), col("y.doc_id").as("doc_b"),
        bit_count(col("x.sig").bitwiseXOR(col("y.sig"))).as("hamming"))
      // Filter BEFORE the pair-dedup exchange. Catalyst would push this
      // through the distinct anyway (hamming is a grouping column — the
      // dd7 plan-trap note, in the benign direction), but stating it
      // here makes the intended shape explicit: the distinct shuffles
      // only pairs that survive the distance test, not every
      // 8-bit-chunk coincidence.
      .filter(col("hamming") <= maxDist)
      .distinct()
      .orderBy(col("doc_a"), col("doc_b"))
  }

  /** Gated dd7: edit-distance near-dup over fixed-width document
    * prefixes (first 40 chars, space-padded) — pairs with Levenshtein
    * ≤ d found via PassJoin segment blocking, NOT the all-pairs
    * matrix. Pigeonhole: split the probe string into d+1 contiguous
    * segments; any string within distance d must contain one of them
    * VERBATIM, displaced by at most d positions (each edit moves the
    * alignment by ≤ 1). So the index side emits every (segment slot,
    * ±d-shifted substring) — (d+1)(2d+1) keys per doc, linear — the
    * probe side its d+1 exact segments, and the equi-join on
    * (slot, text) yields candidates that one levenshtein call
    * confirms. Segment width is the selectivity dial: natural text
    * repeats 6-grams constantly (a 40-char prefix / 7-char segments
    * measured 2.9M collision pairs at sf0.1) but rarely 10-grams, so
    * the default is a 64-char prefix giving 10-11 char segments
    * (14x less collision mass, same 25 true pairs on this corpus).
    *
    * (Round-3 note: the first cut blocked on LENGTH bands, which
    * degenerates to all-pairs here — fixed-width prefixes all share
    * one band; 12.5M levenshtein calls took minutes at sf0.1. Content
    * blocking is the shape that survives scale: ~0.5 s at sf0.1.)
    */
  def editDistancePairs(spark: SparkSession, dir: String,
                        maxDist: Int = 5, prefixLen: Int = 64): DataFrame =
    editDistancePairsFrom(Tables.documents(spark, dir), maxDist, prefixLen)

  /** [[editDistancePairs]] over an explicit (doc_id, text) frame — the
    * seam the indel-recall spec drives synthetically.
    */
  def editDistancePairsFrom(docs: DataFrame,
                            maxDist: Int = 5, prefixLen: Int = 40): DataFrame = {
    val nSeg = maxDist + 1
    val segBounds: Seq[(Int, Int)] = { // (1-based start, len) per slot
      val base = prefixLen / nSeg
      val extra = prefixLen % nSeg
      val lens = (0 until nSeg).map(i => base + (if (i < extra) 1 else 0))
      lens.scanLeft(1)(_ + _).zip(lens)
    }
    val p = docs
      .select(col("doc_id"),
        rpad(substring(col("text"), 1, prefixLen), prefixLen, " ").as("p"))
    // Payloads ride along through the blocking join (measured FASTER
    // here than the dedup-ids-then-refetch shape: the padded prefix is
    // only ~64 bytes, and the refetch variant's two extra joins cost
    // more than the wider shuffle rows save — 8.5 s vs 4.6 s at
    // sf0.1; the refetch lesson applies to ARRAY payloads, not short
    // strings).
    val probe = p.select(col("doc_id").as("doc_a"), col("p").as("pa"),
        explode(array(segBounds.zipWithIndex.map { case ((s, l), i) =>
          struct(lit(i).as("slot"), substring(col("p"), s, l).as("seg"))
        }: _*)).as("k"))
      .select(col("doc_a"), col("pa"), col("k.slot").as("slot"), col("k.seg").as("seg"))
    val index = p.select(col("doc_id").as("doc_b"), col("p").as("pb"),
        explode(array((for {
          ((s, l), i) <- segBounds.zipWithIndex
          shift <- -maxDist to maxDist
          st = s + shift
          if st >= 1 && st + l - 1 <= prefixLen
        } yield struct(lit(i).as("slot"), substring(col("p"), st, l).as("seg"))): _*))
          .as("k"))
      .select(col("doc_b"), col("pb"), col("k.slot").as("slot"), col("k.seg").as("seg"))
    probe.join(index, Seq("slot", "seg"))
      .filter(col("doc_a") < col("doc_b"))
      // Dedup candidates BEFORE the levenshtein confirm — and make it a
      // groupBy/min, not distinct-then-filter: a filter on
      // levenshtein(pa, pb) after distinct() references only grouping
      // columns, so Catalyst legally pushes it below the aggregate into
      // the join residual, running the confirm once per (slot, seg)
      // COLLISION (up to nSeg× per pair) instead of once per pair —
      // measured 4.8 s vs 1.6 s at sf0.1. min(pa) = pa (payloads are
      // functionally dependent on the pair), but as an aggregate OUTPUT
      // it is a pushdown barrier.
      .groupBy(col("doc_a"), col("doc_b"))
      .agg(min(col("pa")).as("pa"), min(col("pb")).as("pb"))
      // Banded confirm: levenshtein with a threshold computes only the
      // |i−j| ≤ d diagonal band and early-exits, returning −1 past the
      // bound — on a candidate set where >99% of pairs miss (measured
      // 255/87k at sf0.1), the confirm cost drops with the band width.
      // −1 must not pass the ≤ maxDist filter, hence BETWEEN.
      .withColumn("dist", levenshtein(col("pa"), col("pb"), maxDist))
      .filter(col("dist").between(0, maxDist))
      .select(col("doc_a"), col("doc_b"), col("dist"))
      .orderBy(col("doc_a"), col("doc_b"))
  }

  /** 5. Embedding cosine near-dup: EXACT pairs with cosine ≥ threshold,
    * distributed as a block-pair equi-join.
    *
    * Why not LSH-bucket-then-confirm here: exactness demands recall 1,
    * and this corpus (measured at sf0.01/sf0.1) carries a dense mass
    * of pairs in cos [0.25, 0.6) with qualifying pairs starting right
    * at the 0.4 threshold — random-hyperplane collision probability at
    * cos 0.4 is (1 - 66.4°/180°)^bits per table, so NO (bits, tables)
    * parameterization reaches recall ≈ 1 without degenerating into the
    * all-pairs join it was meant to avoid. Exact low-threshold
    * all-pairs is irreducibly Ω(N²) score evaluations; what CAN scale
    * is the data movement and memory profile, which is what this
    * operator fixes (the approximate sub-quadratic path for corpora
    * where recall < 1 is acceptable is [[Similarity.lshNeighbors]]).
    *
    * Block scheme: vector → block `pmod(hash(vec_id), B)`; the
    * B(B+1)/2 unordered block pairs form the join key, so each side
    * shuffles ~N·(B+1)/2 rows, every task holds two bounded blocks
    * (no corpus broadcast, no executor-memory cliff, no driver
    * involvement), and the quadratic compute spreads evenly over
    * independently schedulable block-pair tasks. B is the knob: at
    * 100 TB pick B so a block fits executor memory; replication grows
    * as B/2 while per-task memory shrinks as 1/B.
    *
    * Double math mirrors the oracle exactly: left-fold dot and norms,
    * score = dot/(√na·√nb); hoisted norms and the commutativity of
    * per-term products keep the arithmetic bit-identical regardless of
    * which side of the join a vector lands on.
    */
  def embeddingDupPairs(spark: SparkSession, dir: String,
                        threshold: Double = 0.4, blocks: Int = 8): DataFrame = {
    import spark.implicits._
    // Norms are per-vector, so compute them ONCE before the pair join
    // (N sqrt's instead of N²) — the pair score is then a single native
    // dot product plus one multiply-divide.
    val e = Tables.embeddings(spark, dir)
      .select(col("vec_id"), VectorOps.toDoubleArray(col("embedding")).as("v"))
      .withColumn("nrm", sqrt(VectorOps.norm2(col("v"))))
      .withColumn("blk", pmod(hash(col("vec_id")), lit(blocks)))
      .cache()
    // The block-pair table is B(B+1)/2 rows — broadcasting THIS is the
    // small-dim broadcast that is always right; the corpus never is.
    val blockPairs = broadcast(
      (for { i <- 0 until blocks; j <- i until blocks } yield (i, j))
        .toDF("ba", "bb"))
    val left = e.join(blockPairs, col("blk") === col("ba"))
      .select(col("ba"), col("bb"), col("vec_id").as("id_l"),
        col("v").as("v_l"), col("nrm").as("nrm_l"))
    val right = e.join(blockPairs, col("blk") === col("bb"))
      .select(col("ba").as("ba_r"), col("bb").as("bb_r"),
        col("vec_id").as("id_r"), col("v").as("v_r"), col("nrm").as("nrm_r"))
    left.join(right,
        col("ba") === col("ba_r") && col("bb") === col("bb_r")
          // distinct blocks meet in exactly one task and one orientation;
          // the diagonal task (ba = bb) sees both orientations → halve it.
          && (col("ba") =!= col("bb") || col("id_l") < col("id_r")))
      .withColumn("cos", round(
        VectorOps.dot(col("v_l"), col("v_r")) / (col("nrm_l") * col("nrm_r")), 6))
      .filter(col("cos") >= threshold)
      .select(least(col("id_l"), col("id_r")).as("vec_a"),
        greatest(col("id_l"), col("id_r")).as("vec_b"), col("cos"))
      .orderBy(col("vec_a"), col("vec_b"))
  }

  /** Duplicate-cluster resolution: connected components over the
    * near-dup pair graph, labels = min doc_id per component. THE step
    * a curation pipeline runs after pair generation (pairs alone
    * don't say which doc to keep when dups chain A–B–C).
    *
    * Algorithm: BSP min-label propagation — per round, every node
    * takes the min of its label and its neighbors' labels; converges
    * in O(graph diameter) rounds. Each round is one equi-join + one
    * aggregation (both shuffle on doc_id), and the driver sees only
    * the changed-label COUNT — this is the standard scalable CC
    * formulation (near-dup components are shallow: dup clusters chain
    * a handful of docs, so 2–3 rounds in practice; the iteration cap
    * is a safety valve, not the expected path).
    */
  def duplicateClusters(spark: SparkSession, dir: String,
                        threshold: Double = 0.7, maxRounds: Int = 20): DataFrame =
    duplicateClustersFrom(
      Tables.documents(spark, dir).select(col("doc_id")),
      minhashLshPairs(spark, dir, threshold).select(col("doc_a"), col("doc_b")),
      maxRounds)

  /** [[duplicateClusters]] over explicit node/edge frames — the seam
    * the high-diameter chain test drives synthetically. An edge with
    * an endpoint outside `nodes` labels nothing outside `nodes`.
    * Returns the labels LAZILY: their last round stays pinned until
    * `GraftSession.reset`.
    */
  def duplicateClustersFrom(nodes: DataFrame, edges: DataFrame,
                            maxRounds: Int = 20): DataFrame =
      Graph.withoutAqe(nodes.sparkSession) { Pins.scope { p =>
    // Such edges are dropped once, before the loop. Both directions of
    // the rest, plus a self-loop per node, let one join and one min per
    // round fold N(v) ∪ {v}: each round reads the previous labels once.
    // Resident-partitioned on the join key; the labels shuffle-hash to
    // it (the Graph round-12 discipline: under AQE this loop submitted
    // one query-stage job per exchange — 46 for dd15 — pure driver
    // scheduling latency on a contended box).
    val inNodes = edges
      .join(nodes.select(col("doc_id").as("a")), col("doc_a") === col("a"), "left_semi")
      .join(nodes.select(col("doc_id").as("b")), col("doc_b") === col("b"), "left_semi")
    val adj = p(Graph.selfLooped(
      inNodes.union(inNodes.select(col("doc_b"), col("doc_a"))).toDF("src", "dst"),
      nodes.select(col("doc_id"))).repartition(col("src")))
    var labelSum = Long.MinValue
    // Every 5th round is a lineage cut: without it the plan nests one
    // join per round, and a high-diameter graph (a 50-doc duplication
    // chain) would hand Catalyst a 50-join tree to re-analyze every
    // round. The cut is LAZY (round 15): the convergence sum below
    // already materializes every round, so it swaps the nested-join
    // plan for a scan of the materialized labels without the separate
    // materialization job an eager checkpoint submits first.
    val labels = Pins.rounds(nodes.select(col("doc_id"), col("doc_id").as("rep")),
        maxRounds, cutEvery = 5) { (labels, _) =>
      adj.join(labels.hint("shuffle_hash"), col("src") === col("doc_id"))
        .groupBy(col("dst").as("doc_id"))
        .agg(min(col("rep")).as("rep"))
    } { (next, _, _) =>
      // Labels only ever DECREASE, so Σrep is strictly monotone until
      // the fixpoint: an unchanged exact long sum ⇔ converged. One
      // scalar aggregate per round instead of a self-join diff.
      val sumRow = next.agg(org.apache.spark.sql.functions.sum(col("rep")))
        .collect()(0)
      // sum() over an empty frame is NULL — an empty corpus is already
      // converged (and must not NPE on unboxing).
      val sum = if (sumRow.isNullAt(0)) 0L else sumRow.getLong(0)
      val converged = labelSum == sum
      labelSum = sum
      !converged
    }
    labels
      .select(col("doc_id"), col("rep").as("cluster_rep"))
      .orderBy(col("doc_id"))
  }} // withoutAqe

  /** Gated rsp1: REPEATED-SPAN MINING — the corpus-level boilerplate
    * detector: maximal word spans whose every n-gram occurs in ≥
    * minDf distinct documents. This is the span-granular complement
    * of doc-level dedup (Lee et al.'s repeated-substring removal, at
    * word granularity): headers, license blocks and templated
    * paragraphs repeat across documents that are NOT duplicates, and
    * span removal salvages the unique remainder instead of dropping
    * or keeping whole docs.
    *
    * Pipeline: positional n-gram shingles (NOT distinct — position
    * matters) → distinct-doc df per shingle (two-phase aggregate) →
    * keep positions whose shingle clears minDf → gaps-and-islands
    * per doc (row_number delta) merges adjacent repeated positions
    * into maximal spans. Everything is linear scans, one
    * shingle-keyed shuffle and one doc-keyed window; no pair
    * enumeration anywhere, so unlike pairwise dedup this pass is
    * safe to run on the ENTIRE corpus at any scale.
    */
  def repeatedSpans(spark: SparkSession, dir: String, n: Int = 5,
                    minDf: Int = 2, minGrams: Int = 2): DataFrame = {
    val shArr = when(size(col("ws")) >= n,
      transform(sequence(lit(0), size(col("ws")) - lit(n)),
        i => concat_ws(" ", slice(col("ws"), i + lit(1), lit(n)))))
      .otherwise(array().cast("array<string>"))
    val sh = docWords(spark, dir)
      .select(col("doc_id"), posexplode(shArr))
      .toDF("doc_id", "pos", "shingle")
    val dfs = sh.groupBy(col("shingle"))
      .agg(count_distinct(col("doc_id")).as("df"))
    val rep = sh.join(dfs.filter(col("df") >= minDf), "shingle")
      .select(col("doc_id"), col("pos"))
    val byDoc = org.apache.spark.sql.expressions.Window
      .partitionBy(col("doc_id")).orderBy(col("pos"))
    rep
      .withColumn("grp", col("pos") - row_number().over(byDoc))
      .groupBy(col("doc_id"), col("grp"))
      .agg(min(col("pos")).cast("long").as("span_start"),
        (max(col("pos")) + lit(n - 1)).cast("long").as("span_end"),
        count(lit(1)).as("n_grams"))
      .filter(col("n_grams") >= minGrams)
      .select(col("doc_id"), col("span_start"), col("span_end"), col("n_grams"))
      .orderBy(col("doc_id"), col("span_start"))
  }

  /** Gated s3: LEAKAGE-SAFE train/val/test split — the eval-integrity
    * step plain hash splitting ([[TextAnalysis.hashSplit]]) misses:
    * near-duplicate documents must land on the SAME side of a split,
    * or the test set silently contains paraphrases of training data
    * and every eval number is inflated. The split key is therefore
    * the near-dup CLUSTER representative ([[duplicateClusters]]'s
    * connected-component label), not the document id: md5 of the
    * cluster rep buckets 12/2/2 into train/val/test exactly like s1,
    * and every member of a cluster inherits its rep's bucket — a
    * cluster can never straddle a boundary by construction.
    *
    * Scale shape: the expensive part IS [[duplicateClusters]] (banded
    * LSH pairs + iterated min-label propagation, all bucketed); the
    * split itself adds one stateless projection — no extra shuffle,
    * no new state. Singleton documents (their own rep) degrade to
    * exactly s1's content-independent hash split.
    */
  def leakageSafeSplit(spark: SparkSession, dir: String): DataFrame = {
    val h = substring(md5(col("cluster_rep").cast("string")), 1, 1)
    duplicateClusters(spark, dir)
      .withColumn("split",
        when(h.isin("0", "1", "2", "3", "4", "5", "6", "7", "8", "9", "a", "b"), "train")
          .when(h.isin("c", "d"), "val")
          .otherwise("test"))
      .select(col("doc_id"), col("cluster_rep"), col("split"))
      .orderBy(col("doc_id"))
  }

  /** Gated dd15: CANONICAL-DOCUMENT SELECTION per duplicate cluster —
    * the step that turns "these docs are duplicates" into "keep THIS
    * one". Joins the connected-component labels
    * ([[duplicateClusters]]) with the per-doc quality score
    * ([[TextAnalysis.qualityScore]]) and, per cluster, keeps the
    * highest-quality member (ties → smallest doc_id). Real dedup
    * stacks keep best-quality, not first-seen: boilerplate-stripped
    * or longer variants should win over truncated mirrors.
    *
    * Scale shape: the argmax is a map-side-combinable
    * max(struct(quality, −doc_id)) aggregation — NOT a window — so a
    * pathological million-member cluster costs one combiner tree, not
    * one sorted partition. The cluster→canonical table (≤ #clusters
    * rows) joins back on the cluster key. Quality uses the ROUNDED
    * score so the argmax is engine-independent at ties.
    */
  def clusterCanonical(spark: SparkSession, dir: String): DataFrame = {
    val cl = duplicateClusters(spark, dir)
    val q = TextAnalysis.qualityScore(spark, dir)
      .select(col("doc_id"), col("quality"))
    val j = cl.join(q, "doc_id")
    val best = j.groupBy(col("cluster_rep"))
      .agg(max(struct(col("quality"), (-col("doc_id")).as("neg_id"))).as("b"))
      .select(col("cluster_rep"), (-col("b.neg_id")).as("canonical_doc"))
    j.join(best, "cluster_rep")
      .select(col("doc_id"), col("cluster_rep"), col("quality"),
        col("canonical_doc"),
        (col("doc_id") === col("canonical_doc")).as("keep"))
      .orderBy(col("doc_id"))
  }

  /** Reference implementation of [[embeddingDupPairs]]: the broadcast
    * nested-loop form. Correct and simple at test scale; broadcast of
    * the whole corpus makes it a non-starter at 100 TB — kept ONLY as
    * the equivalence oracle for the blocked form (DedupSpec).
    */
  def embeddingDupPairsBrute(spark: SparkSession, dir: String,
                             threshold: Double = 0.4): DataFrame = {
    val e = Tables.embeddings(spark, dir)
      .select(col("vec_id"), VectorOps.toDoubleArray(col("embedding")).as("v"))
      .withColumn("nrm", sqrt(VectorOps.norm2(col("v"))))
      .cache()
    val joined = e.as("a").join(broadcast(e.as("b")),
      col("a.vec_id") < col("b.vec_id"))
    joined
      .withColumn("cos", round(
        VectorOps.dot(col("a.v"), col("b.v")) / (col("a.nrm") * col("b.nrm")), 6))
      .filter(col("cos") >= threshold)
      .select(col("a.vec_id").as("vec_a"), col("b.vec_id").as("vec_b"), col("cos"))
      .orderBy(col("vec_a"), col("vec_b"))
  }

  /** PPJoin prefix-filtered exact Jaccard pairs (gate dd11): the
    * canonical prefix-filtering similarity join. Under ANY global
    * shingle order, two sets with J ≥ t MUST share an element within
    * their first |s| − ceil(t·|s|) + 1 shingles — so candidates come
    * from joining only those PREFIXES, ordered rarest-df-first to
    * make them maximally selective. Unlike [[jaccardPairs]]'s df-cap
    * this loses NOTHING: boilerplate shingles duplicated across
    * millions of docs sort LAST and never enter a prefix unless the
    * doc is nearly all boilerplate — the blind spot dd4 documents is
    * structurally closed here. Verification fetches per-doc sorted
    * shingle ARRAYS after pair dedup (the refetch shape that wins for
    * array payloads) and intersects exactly.
    */
  def ppjoinJaccardPairs(spark: SparkSession, dir: String,
                         threshold: Double = 0.7): DataFrame =
    ppjoinJaccardPairsFrom(
      Tables.documents(spark, dir)
        .select(col("doc_id"), TextAnalysis.words(col("text")).as("ws")),
      threshold)

  /** [[ppjoinJaccardPairs]] over an explicit (doc_id, ws) frame. */
  def ppjoinJaccardPairsFrom(docWords: DataFrame, threshold: Double): DataFrame = {
    val sh = docWords
      .select(col("doc_id"), explode(shinglesFromWords(col("ws"))).as("shingle"))
      .cache()
    // df as a map-side-combinable count joined back to the postings
    // (same hot-shingle rationale as [[jaccardPairsFrom]]): the
    // per-doc windows below are bounded by document length, but a
    // count window over `shingle` would buffer the hottest shingle's
    // whole posting list in one task.
    val dfCounts = sh.groupBy(col("shingle")).agg(count(lit(1)).as("df"))
    val byDocOrdered = org.apache.spark.sql.expressions.Window
      .partitionBy(col("doc_id")).orderBy(asc("df"), asc("shingle"))
    val byDoc = org.apache.spark.sql.expressions.Window.partitionBy(col("doc_id"))
    val ranked = sh.join(dfCounts, Seq("shingle"))
      .select(col("doc_id"), col("shingle"), col("df"))
      .withColumn("r", row_number().over(byDocOrdered))
      .withColumn("sz", count(lit(1)).over(byDoc))
      .cache()
    val prefix = ranked
      .filter(col("r") <= col("sz") - ceil(lit(threshold) * col("sz")) + 1)
      .select(col("doc_id"), col("shingle"))
    val cand = prefix.as("a").join(prefix.as("b"),
        col("a.shingle") === col("b.shingle") && col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
      .distinct()
    // Verification refetch: build sorted shingle arrays ONLY for docs
    // that survived candidate generation (semi-join) — prefix
    // filtering typically leaves a small fraction of the corpus, so
    // paying one extra narrow shuffle here skips the collect_list +
    // sort for everything else (measured 5.6 s → ~3 s at sf0.1).
    val candDocs = cand.select(col("doc_a").as("doc_id"))
      .unionAll(cand.select(col("doc_b").as("doc_id")))
      .distinct()
    val arrs = ranked
      .join(candDocs, Seq("doc_id"), "left_semi")
      .groupBy(col("doc_id"))
      .agg(sort_array(collect_list(col("shingle"))).as("arr"),
        count(lit(1)).as("sz"))
    cand
      .join(arrs.select(col("doc_id").as("doc_a"),
        col("arr").as("arr_a"), col("sz").as("sz_a")), Seq("doc_a"))
      .join(arrs.select(col("doc_id").as("doc_b"),
        col("arr").as("arr_b"), col("sz").as("sz_b")), Seq("doc_b"))
      .withColumn("common", size(array_intersect(col("arr_a"), col("arr_b"))).cast("long"))
      .withColumn("jaccard", round(col("common").cast("double")
        / (col("sz_a") + col("sz_b") - col("common")), 6))
      .filter(col("jaccard") >= threshold)
      .select(col("doc_a"), col("doc_b"), col("jaccard"))
      .orderBy(col("doc_a"), col("doc_b"))
  }

  /** Jaro-Winkler fuzzy pairs (gate dd10): the record-linkage scorer,
    * via the native codegen'd [[graft.functions.JaroWinklerExpr]]
    * (Spark has no built-in JW; a UDF would box rows and break the
    * join's codegen span). The gate scores a bounded all-pairs set —
    * JW is a SCORING function; at corpus scale candidates come from
    * blocking ([[editDistancePairs]]'s PassJoin machinery), and JW
    * replaces or complements the levenshtein confirm.
    * Kernel semantics fuzz-verified bit-exact against DuckDB's
    * jaro_winkler_similarity (50k random pairs, zero mismatches), so
    * the oracle is fully independent of this implementation.
    */
  def jaroWinklerPairs(spark: SparkSession, dir: String, maxDocId: Long = 40,
                       prefixLen: Int = 32, threshold: Double = 0.8): DataFrame = {
    val p = Tables.documents(spark, dir).filter(col("doc_id") < maxDocId)
      .select(col("doc_id"), substring(col("text"), 1, prefixLen).as("s"))
    p.as("a").join(p.as("b"), col("a.doc_id") < col("b.doc_id"))
      .withColumn("jw", round(
        graft.functions.JaroWinkler.jaroWinkler(col("a.s"), col("b.s")), 6))
      .filter(col("jw") >= threshold)
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"), col("jw"))
      .orderBy(col("doc_a"), col("doc_b"))
  }

  /** Semantic dedup (gate dd9) — the SemDedup recipe: k-means-cluster
    * the embedding space, then prune near-duplicates ONLY within each
    * cluster (a dropped item is any vector with a smaller-id
    * same-cluster neighbor at cosine ≥ threshold; the smallest id of
    * each near-dup group survives). Clustering is the blocking key
    * that turns the quadratic all-pairs scan into per-cluster joins —
    * N²/nLists expected work, and at 100 TB the cluster id doubles as
    * a partition key so each join task touches one cluster. The
    * accepted trade (vs the exact blocked join of
    * [[embeddingDupPairs]]): cross-cluster near-dups are not seen.
    *
    * HASH-CHECKED since round 11: the decimal-mean Lloyd trainer is
    * cross-engine exact (ss3's discipline), so the oracle replays the
    * WHOLE chain — seeding, two training sweeps, final assignment,
    * within-cluster round-6 cosine prune — in SQL; DedupSpec
    * additionally checks the kept/dropped partition invariants
    * against a local recompute.
    */
  def semDedup(spark: SparkSession, dir: String,
               threshold: Double = 0.4, nLists: Int = 0): DataFrame = {
    // 2 Lloyd sweeps, same rationale as Similarity.pqSearch: cluster
    // assignments for BLOCKING stabilize almost immediately and the
    // within-cluster pruning is what matters, not centroid polish.
    val centroids = Similarity.ivfCentroids(spark, dir, nLists, iters = 2)
    val corpus = Tables.embeddings(spark, dir)
      .select(col("vec_id"), VectorOps.toDoubleArray(col("embedding")).as("v"))
      .withColumn("nrm", sqrt(VectorOps.norm2(col("v"))))
    val assigned = Similarity.assignListIds(corpus, centroids).cache()
    val a = assigned.select(col("list_id"), col("vec_id").as("id_a"),
      col("v").as("va"), col("nrm").as("na"))
    val b = assigned.select(col("list_id"), col("vec_id").as("id_b"),
      col("v").as("vb"), col("nrm").as("nb"))
    val losers = a.join(b, Seq("list_id"))
      .filter(col("id_a") < col("id_b"))
      .filter(round(VectorOps.dot(col("va"), col("vb")) / (col("na") * col("nb")), 6)
        >= threshold)
      .select(col("id_b").as("vec_id")).distinct()
    assigned
      .join(losers, Seq("vec_id"), "left_anti")
      .select(col("vec_id"), col("list_id"))
      .orderBy(col("vec_id"))
  }

  /** Sub-document (paragraph-level) exact dedup (gate dd8): web-scale
    * corpora repeat SPANS (boilerplate, licence blocks, navigation
    * chrome) far more than whole documents, so pipelines dedup at the
    * paragraph level and keep only the first occurrence of each span
    * corpus-wide. The fixture corpus has no newlines, so the
    * deterministic span unit is the aligned `segLen`-token segment
    * (non-overlapping); a real corpus would split on blank lines and
    * reuse everything below unchanged.
    *
    * Scale design:
    *  - keep-first is a `min(struct(doc_id, seg_idx))` AGGREGATION on
    *    the segment hash, not a row_number window: partial aggregation
    *    combines map-side, so a segment duplicated across millions of
    *    docs (the hot case this operator exists for) reduces to one
    *    row per map partition before the shuffle — a window would haul
    *    every copy to one reducer;
    *  - segments shuffle as fixed-width md5 keys plus the (tiny)
    *    winner struct; document text rides only the doc_id-keyed
    *    reassembly shuffle.
    */
  def segmentDedup(spark: SparkSession, dir: String, segLen: Int = 8): DataFrame = {
    val docs = Tables.documents(spark, dir)
      .select(col("doc_id"), TextAnalysis.words(col("text")).as("ws"))
    val segs = docs
      .select(col("doc_id"),
        posexplode(when(size(col("ws")) >= segLen,
          transform(sequence(lit(0), floor(size(col("ws")) / segLen).cast("int") - lit(1)),
            i => concat_ws(" ", slice(col("ws"), i * segLen + lit(1), lit(segLen)))))
          .otherwise(array().cast("array<string>"))))
      .select(col("doc_id"), col("pos").cast("long").as("seg_idx"), col("col").as("seg"))
      .withColumn("h", md5(col("seg")))
    val keepers = segs
      .groupBy(col("h"))
      .agg(min(struct(col("doc_id"), col("seg_idx"))).as("first"))
      .select(col("h"), col("first.doc_id").as("k_doc"), col("first.seg_idx").as("k_idx"))
    val kept = segs.join(keepers, Seq("h"))
      .filter(col("doc_id") === col("k_doc") && col("seg_idx") === col("k_idx"))
    val rebuilt = kept
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_kept"),
        concat_ws(" ", transform(
          array_sort(collect_list(struct(col("seg_idx"), col("seg")))),
          s => s.getField("seg"))).as("cleaned_text"))
    val totals = segs.groupBy(col("doc_id")).agg(count(lit(1)).as("n_segs"))
    Tables.documents(spark, dir).select(col("doc_id"))
      .join(totals, Seq("doc_id"), "left")
      .join(rebuilt, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_segs"), lit(0L)).as("n_segs"),
        coalesce(col("n_kept"), lit(0L)).as("n_kept"),
        coalesce(col("cleaned_text"), lit("")).as("cleaned_text"))
      .orderBy(col("doc_id"))
  }

  /** Gated dd12: INCREMENTAL ingest dedup — the arriving-batch-vs-
    * existing-corpus shape every continuously-fed training corpus
    * runs (dedup the delta against the base without re-deduping the
    * base). Deterministic split stands in for the arriving batch:
    * doc_id % 10 == 0 is the delta, the rest is the indexed base.
    *
    * Scale shape: both sides reduce to 16-byte md5 digests before the
    * LEFT ANTI join, so the shuffle moves digests, not bodies; the
    * base side is distinct-ed (one map-side-combinable agg) so the
    * anti join probes one row per distinct content. At 100 TB the
    * base digest set is a bucketed table maintained across ingests,
    * and Spark's runtime bloom filter (see [[graft.plans]] bl1 gate)
    * prunes the delta scan before the shuffle.
    */
  /** Gated dd16: INCREMENTAL NEAR-dup dedup — [[incrementalIngestDedup]]'s
    * exact-match shape upgraded to MinHash/LSH similarity: flag each
    * arriving document (doc_id % 10 == 0 stands in for the delta)
    * that is ≥ `threshold` Jaccard-similar to SOME existing base
    * document, with the best match attached (max Jaccard, smallest
    * base id on ties); deltas with no match come back `novel`.
    *
    * Scale shape: delta band keys join only against BASE band keys
    * (one bucketed equi-join, delta-side small by construction in a
    * continuous-ingest pipeline); exact Jaccard confirms the
    * candidate pairs only. At 100 TB the base banding is a persisted
    * index maintained across ingests — the per-batch cost is banding
    * the delta and probing, never re-banding the corpus. Same 96/32
    * signature as [[minhashLshPairs]] (miss probability ≈ 1.4e-6 at
    * J = 0.7), and the oracle is the EXACT cross-split Jaccard, so
    * the gate hash-fails if banding ever drops a true pair.
    */
  def incrementalNearDedup(spark: SparkSession, dir: String,
                           threshold: Double = 0.7): DataFrame = {
    val shingled = docWords(spark, dir)
      .select(col("doc_id"), shinglesFromWords(col("ws")).as("sh"))
    val docs = shingled
      .select(col("doc_id"), col("sh"), shingleHashes(col("sh")).as("shh"))
      .select(col("doc_id"), col("sh"), minhashSignature(col("shh")).as("sig"))
      .withColumn("is_delta", col("doc_id") % 10 === 0)
      .cache()
    val banded = docs.select(col("doc_id"), col("is_delta"),
      posexplode(array((0 until Bands).map(b =>
        hash(slice(col("sig"), b * RowsPerBand + 1, RowsPerBand), lit(b))): _*)))
      .toDF("doc_id", "is_delta", "band_idx", "band_hash")
    val cand = banded.filter(col("is_delta")).as("x")
      .join(banded.filter(!col("is_delta")).as("y"),
        col("x.band_idx") === col("y.band_idx")
          && col("x.band_hash") === col("y.band_hash"))
      .select(col("x.doc_id").as("d"), col("y.doc_id").as("b"))
      .distinct()
    val confirmed = cand
      .join(docs.select(col("doc_id").as("d"), col("sh").as("sh_d")), "d")
      .join(docs.select(col("doc_id").as("b"), col("sh").as("sh_b")), "b")
      .withColumn("common",
        size(array_intersect(col("sh_d"), col("sh_b"))).cast("double"))
      .withColumn("jaccard", round(
        col("common") / (size(col("sh_d")) + size(col("sh_b")) - col("common")), 6))
      .filter(col("jaccard") >= threshold)
      .select(col("d"), col("b"), col("jaccard"))
    // Best match per delta doc: max Jaccard, then smallest base id.
    // Equality on the ROUNDED score is deterministic on both engines.
    val best = confirmed.groupBy(col("d")).agg(max(col("jaccard")).as("jac"))
    val bestId = confirmed.join(best, Seq("d"))
      .filter(col("jaccard") === col("jac"))
      .groupBy(col("d"), col("jac"))
      .agg(min(col("b")).as("matched_doc"))
    docs.filter(col("is_delta")).select(col("doc_id"))
      .join(bestId, col("doc_id") === col("d"), "left")
      .select(col("doc_id"), col("matched_doc"), col("jac").as("jaccard"),
        col("matched_doc").isNull.as("novel"))
      .orderBy(col("doc_id"))
  }

  def incrementalIngestDedup(spark: SparkSession, dir: String): DataFrame = {
    // Prefix fingerprint (first 100 chars): the boilerplate-prefix key
    // crawl dedup uses — cheap, order-preserving, and catches template
    // reuse that whole-body hashing misses.
    def fp(c: Column): Column = md5(substring(c, 1, 100))
    val docs = Tables.documents(spark, dir)
    val delta = docs.filter(col("doc_id") % 10 === 0)
    val base = docs.filter(col("doc_id") % 10 =!= 0)
      .select(fp(col("text")).as("h")).distinct()
    delta.select(col("doc_id"), fp(col("text")).as("h"))
      .join(base, Seq("h"), "left_anti")
      .select(col("doc_id"))
      .orderBy(col("doc_id"))
  }

  /** Gated cdc1: CONTENT-DEFINED CHUNKING + chunk-level dedup — the
    * partial-overlap detector exact whole-doc dedup misses and
    * shingle dedup only scores: boundaries are chosen by a rolling
    * window hash of the CONTENT ([[graft.functions.CdcBoundsExpr]],
    * mean chunk ≈ 64 chars), so an insertion shifts at most its two
    * surrounding chunks and every shared run of text still lands in
    * identical chunks corpus-wide. The report lists the most-repeated
    * chunks ≥ `minLen` chars — the shared-boilerplate inventory.
    *
    * Scale shape: boundary detection is ONE map pass (native kernel,
    * no per-char row explosion — the SQL-oracle formulation windows
    * over exploded chars, which at 100 TB would shuffle a row per
    * BYTE; the kernel keeps that loop inside the scan). Chunks then
    * shuffle ONCE keyed by content hash for the global count — the
    * same digest-not-bodies discipline as [[exactDedup]] would apply
    * at scale by hashing chunks before the exchange (here the chunk
    * text rides along only to measure its length).
    */
  def chunkDedup(spark: SparkSession, dir: String,
                 minLen: Int = 32, k: Int = 20): DataFrame = {
    val docs = Tables.documents(spark, dir)
    val chunks = docs
      .select(col("doc_id"), col("text"),
        graft.functions.CdcBoundsExpr.cdcBounds(col("text")).as("bounds"))
      .select(col("doc_id"),
        explode(zip_with(
          concat(array(lit(0L)), col("bounds")),
          concat(col("bounds"), array(length(col("text")).cast("long"))),
          (s, e) => col("text").substr((s + lit(1L)).cast("int"),
            (e - s).cast("int")))).as("chunk"))
      .filter(length(col("chunk")) >= minLen)
    chunks
      .groupBy(col("chunk"))
      .agg(countDistinct(col("doc_id")).as("n_docs"),
        count(lit(1)).as("n_occurrences"))
      .filter(col("n_occurrences") > 1)
      .select(md5(col("chunk")).as("chunk_md5"),
        length(col("chunk")).cast("long").as("chunk_len"),
        col("n_docs"), col("n_occurrences"))
      .orderBy(desc("n_occurrences"), asc("chunk_md5"))
      .limit(k)
  }

  /** Gated c5: the INCREMENTAL DEDUP PIPELINE composed ON the
    * transactional table — the round's storage seam and the dedup
    * machinery working as one system, the way a production corpus
    * actually runs:
    *
    *  1. base corpus commits to a [[graft.sources.TxTable]] (v1);
    *  2. its MinHash BAND INDEX is materialized into a SECOND TxTable
    *     — the persisted index every incremental ingest probes;
    *  3. a delta batch commits (v2);
    *  4. the consumer reads EXACTLY the delta via the changes feed
    *     (O(new commits), never corpus history), probes the index
    *     snapshot for candidates, confirms with exact Jaccard against
    *     refetched base shingles, and
    *  5. appends the delta's band entries to the index table — the
    *     index is MAINTAINED, not rebuilt, so the next ingest probes
    *     base+delta without ever re-banding the corpus.
    *
    * The readout is [[incrementalNearDedup]]'s contract (best base
    * match or novel, per delta doc) and shares its exact-Jaccard
    * oracle: the composition through commit log + changes feed +
    * persisted index must reproduce the monolithic computation
    * bit-for-bit, or the gate hash-fails.
    */
  def txIncrementalDedupGate(spark: SparkSession, dir: String,
                             threshold: Double = 0.7): DataFrame = {
    val tmp = graft.TmpIO.stableDir("c5") // delta-sized output: staged + lazy
    val corpus = new graft.sources.TxTable(s"$tmp/corpus")
    val index = new graft.sources.TxTable(s"$tmp/index")
    val d = Tables.documents(spark, dir).select(col("doc_id"), col("text"))
    corpus.append(d.filter(col("doc_id") % 10 =!= 0)) // v1: base
    def bandEntries(docs: DataFrame): DataFrame =
      docs.select(col("doc_id"), TextAnalysis.words(col("text")).as("ws"))
        .select(col("doc_id"),
          minhashSignature(shingleHashes(shinglesFromWords(col("ws"))))
            .as("sig"))
        .select(col("doc_id"), posexplode(array((0 until Bands).map(b =>
          hash(slice(col("sig"), b * RowsPerBand + 1, RowsPerBand),
            lit(b))): _*)))
        .toDF("doc_id", "band_idx", "band_hash")
    index.append(bandEntries(corpus.snapshot(spark, Some(1))))
    corpus.append(d.filter(col("doc_id") % 10 === 0)) // v2: delta
    val delta = corpus.readChanges(spark, afterVersion = 1)
      .select(col("doc_id"), col("text"))
    Pins.scope { p =>
      val deltaBands = p(bandEntries(delta))
      // read 3×: both prefilters + the confirm join
      val cand = p(deltaBands.as("x")
        .join(index.snapshot(spark).as("y"),
          col("x.band_idx") === col("y.band_idx")
            && col("x.band_hash") === col("y.band_hash"))
        .select(col("x.doc_id").as("dd"), col("y.doc_id").as("bb"))
        .distinct())
      // Confirm-side PREFILTER (round 14, guide §3.4): shingle arrays are
      // only needed for docs that survived the band probe, but the former
      // shape tokenized+shingled the ENTIRE base snapshot (9/10 of the
      // corpus) and sorted those arrays through the confirm join's
      // exchange before the join discarded the non-candidates. Semi-join
      // each side on the candidate ids FIRST — the candidate id frames
      // are LSH-bounded (broadcast), so the expensive shingle projection
      // runs on candidate rows only. Inner-join semantics make this
      // exactly result-preserving.
      def shingleSets(docs: DataFrame): DataFrame =
        docs.select(col("doc_id"),
          shinglesFromWords(TextAnalysis.words(col("text"))).as("sh"))
      val shD = shingleSets(delta
          .join(cand.select(col("dd").as("doc_id")), Seq("doc_id"), "left_semi"))
        .select(col("doc_id").as("dd"), col("sh").as("sh_d"))
      val shB = shingleSets(corpus.snapshot(spark, Some(1))
          .join(cand.select(col("bb").as("doc_id")), Seq("doc_id"), "left_semi"))
        .select(col("doc_id").as("bb"), col("sh").as("sh_b"))
      val confirmed = cand.join(shD, "dd").join(shB, "bb")
        .withColumn("common",
          size(array_intersect(col("sh_d"), col("sh_b"))).cast("double"))
        .withColumn("jaccard", round(col("common")
          / (size(col("sh_d")) + size(col("sh_b")) - col("common")), 6))
        .filter(col("jaccard") >= threshold)
        .select(col("dd"), col("bb"), col("jaccard"))
      val best = confirmed.groupBy(col("dd")).agg(max(col("jaccard")).as("jac"))
      val bestId = confirmed.join(best, Seq("dd"))
        .filter(col("jaccard") === col("jac"))
        .groupBy(col("dd"), col("jac")).agg(min(col("bb")).as("matched_doc"))
      index.append(deltaBands) // step 5: the index is maintained, not rebuilt
      val out = delta.select(col("doc_id"))
        .join(bestId, col("doc_id") === col("dd"), "left")
        .select(col("doc_id"), col("matched_doc"), col("jac").as("jaccard"),
          col("matched_doc").isNull.as("novel"))
      // The delta scales with the corpus (1/10 of docs): stage the result
      // to parquet inside the stable dir, reclaim the TxTable trees
      // eagerly, and return a lazy reader - never a driver collect.
      // Released AFTER the write (round 14): the former order dropped
      // the deltaBands cache before the only action that reads the
      // confirm pipeline, so the band signatures were recomputed from
      // raw text inside the result write.
      out.write.mode("overwrite").parquet(s"$tmp/result")
    }
    graft.TmpIO.deleteSubdirs(tmp, "corpus", "index")
    spark.read.parquet(s"$tmp/result").orderBy(col("doc_id"))
  }

  /** Gated rl1: FELLEGI–SUNTER PROBABILISTIC RECORD LINKAGE — the
    * multi-field, log-odds-scored member of the dedup/entity-
    * resolution family (the dd-series scores ONE string similarity;
    * real linkage combines evidence across fields with per-field
    * match weights; Fellegi & Sunter 1969 is the canonical model).
    * Links customer records against supplier records: block on
    * nationkey, compare three account-balance-derived fields of
    * increasing specificity, score each candidate pair with
    * Σ agree(i) ? ln(mᵢ/uᵢ) : ln((1-mᵢ)/(1-uᵢ)), top-k by score.
    *
    * Scale shape: BLOCKING is the lever — candidate mass is
    * Σ_blocks |C_b|·|S_b|, not |C|·|S|; the block key rides one hash
    * shuffle of each input and the quadratic expansion happens only
    * within co-partitioned blocks (the same discipline as the LSH
    * band join). At 100 TB the block key gets coarser fields and
    * multi-pass OR-blocking; scoring is unchanged. Field agreements
    * and weights are exact integers end to end (cents-derived bands;
    * weights pre-scaled to BIGINT micro-nats in the plan), so
    * ranking compares exact integers and the gate is hash-exact.
    */
  def recordLinkage(spark: SparkSession, dir: String, k: Int = 20): DataFrame =
      Pins.local(spark) { _ =>
    // Per-field (m, u) conditional-agreement probabilities, fixed by
    // contract; weights = round(ln(m/u)·10⁶) / round(ln((1-m)/(1-u))·10⁶)
    // inlined as exact micro-nat integer LITERALS (not computed at
    // runtime) so both engines sum the same constants bit-for-bit:
    //   f1 sign agreement:       m=.90 u=.55  → wa= 492476 wd=-1504077
    //   f2 $1000 band agreement: m=.70 u=.12  → wa=1763589 wd=-1076139
    //   f3 $10 band agreement:   m=.55 u=.015 → wa=3601868 wd= -783394
    val (wa1, wd1) = (492476L, -1504077L)
    val (wa2, wd2) = (1763589L, -1076139L)
    val (wa3, wd3) = (3601868L, -783394L)

    val c = Tables.customer(spark, dir)
      .select(col("c_custkey"), col("c_nationkey").as("blk"),
        round(col("c_acctbal") * 100).cast("long").as("cb"))
    val s = Tables.supplier(spark, dir)
      .select(col("s_suppkey"), col("s_nationkey").as("blk"),
        round(col("s_acctbal") * 100).cast("long").as("sb"))
    // Block join: both sides hash-shuffle on the block key once; the
    // within-block pair expansion is the only quadratic site.
    // Bands via floor(x/step): cents magnitudes ≪ 2^53, so the double
    // division is exact and floors identically on both engines.
    val scored = c.join(s, Seq("blk"))
      .select(col("c_custkey"), col("s_suppkey"),
        ((col("cb") >= 0) === (col("sb") >= 0)).as("a1"),
        (floor(col("cb") / lit(100000.0)) === floor(col("sb") / lit(100000.0))).as("a2"),
        (floor(col("cb") / lit(1000.0)) === floor(col("sb") / lit(1000.0))).as("a3"))
      .select(col("c_custkey"), col("s_suppkey"),
        (col("a1").cast("int") + col("a2").cast("int") + col("a3").cast("int"))
          .as("n_agree"),
        (when(col("a1"), lit(wa1)).otherwise(lit(wd1))
          + when(col("a2"), lit(wa2)).otherwise(lit(wd2))
          + when(col("a3"), lit(wa3)).otherwise(lit(wd3))).as("su"))
    scored
      .orderBy(desc("su"), asc("c_custkey"), asc("s_suppkey"))
      .limit(k)
      .select(col("c_custkey"), col("s_suppkey"), col("n_agree"),
        round(col("su").cast("double") / lit(1e6), 6).as("score")) // k rows
  }

  /** Gated rl2: MULTI-PASS (OR-)BLOCKED RECORD LINKAGE — the scale
    * contract [[recordLinkage]]'s scaladoc promises, landed in code:
    * at real corpus sizes a single block key either explodes (too
    * coarse) or misses (too specific), so production linkage unions
    * candidates from SEVERAL independent blocking passes and dedups
    * before scoring. Pass A blocks on nationkey (rl1's key); pass B
    * blocks on the $10 account-balance band — the HIGHEST-specificity
    * compare field, so every strong (full-agreement) pair is a pass-B
    * candidate REGARDLESS of nation. At sf0.01 the nation key alone
    * reaches only 3 of the 141 full-agreement pairs; the band pass
    * recovers the other 138 while adding just |B| = 141 candidates to
    * the |A| = 5,949 — OR-blocking buys recall for near-zero mass.
    *
    * Scale shape: each pass is one hash shuffle per side on its key;
    * candidate mass is Σ_passes Σ_blocks |C_b|·|S_b|, and the pair
    * dedup (DISTINCT on the pair key) shuffles only candidate pairs.
    * The band key's cardinality GROWS with the value range, so pass B
    * stays selective at 100× where a fixed-cardinality key (nation:
    * 25 blocks forever) goes quadratic — this is the documented rl1
    * fix, measurable here. Scoring is identical exact-integer
    * Fellegi-Sunter micro-nats; see [[recordLinkage]].
    */
  def recordLinkageMultiPass(spark: SparkSession, dir: String,
                             k: Int = 20): DataFrame =
      Pins.local(spark) { _ =>
    val (wa1, wd1) = (492476L, -1504077L)
    val (wa2, wd2) = (1763589L, -1076139L)
    val (wa3, wd3) = (3601868L, -783394L)
    val c = Tables.customer(spark, dir)
      .select(col("c_custkey"), col("c_nationkey").as("cnat"),
        round(col("c_acctbal") * 100).cast("long").as("cb"))
      .withColumn("cband", floor(col("cb") / lit(1000.0)))
    val s = Tables.supplier(spark, dir)
      .select(col("s_suppkey"), col("s_nationkey").as("snat"),
        round(col("s_acctbal") * 100).cast("long").as("sb"))
      .withColumn("sband", floor(col("sb") / lit(1000.0)))
    val cols = Seq(col("c_custkey"), col("s_suppkey"), col("cb"), col("sb"))
    val candA = c.join(s, col("cnat") === col("snat")).select(cols: _*)
    val candB = c.join(s, col("cband") === col("sband")).select(cols: _*)
    def score(cand: DataFrame): DataFrame = cand
      .select(col("c_custkey"), col("s_suppkey"),
        ((col("cb") >= 0) === (col("sb") >= 0)).as("a1"),
        (floor(col("cb") / lit(100000.0)) === floor(col("sb") / lit(100000.0))).as("a2"),
        (floor(col("cb") / lit(1000.0)) === floor(col("sb") / lit(1000.0))).as("a3"))
      .select(col("c_custkey"), col("s_suppkey"),
        (col("a1").cast("int") + col("a2").cast("int") + col("a3").cast("int"))
          .as("n_agree"),
        (when(col("a1"), lit(wa1)).otherwise(lit(wd1))
          + when(col("a2"), lit(wa2)).otherwise(lit(wd2))
          + when(col("a3"), lit(wa3)).otherwise(lit(wd3))).as("su"))
    // Per-pass top-k BEFORE the cross-pass dedup: the same total order
    // (su desc, keys) rules each pass, so any global-top-k pair is in
    // its own pass's top-k — the union of per-pass top-ks is a
    // sufficient candidate set. This keeps dedup at 2k rows instead of
    // DISTINCTing the full candidate mass (the naive global-distinct
    // form shuffled all Σ|C_b|·|S_b| pairs: 83 s at sf1 vs ~8 s here —
    // TakeOrderedAndProject reduces each pass map-side, no pair
    // shuffle at all).
    val byRank = Seq(desc("su"), asc("c_custkey"), asc("s_suppkey"))
    val topA = score(candA).orderBy(byRank: _*).limit(k)
    val topB = score(candB).orderBy(byRank: _*).limit(k)
    topA.unionByName(topB).distinct()
      .orderBy(byRank: _*)
      .limit(k)
      .select(col("c_custkey"), col("s_suppkey"), col("n_agree"),
        round(col("su").cast("double") / lit(1e6), 6).as("score")) // k rows
  }

  /** Gated dd17: WINNOWING-FINGERPRINT NEAR-DUP PAIRS — candidate
    * pairs sharing ≥ `minShared` winnowed fingerprints, with a
    * containment score. The third near-dup signal family alongside
    * MinHash (dd2, set-similarity) and SimHash (dd3, Hamming):
    * winnowing guarantees any sufficiently long EXACT substring match
    * produces a shared fingerprint, so this catches copy-paste overlap
    * that whole-document sketches dilute. Scale shape is the standard
    * posting-list discipline: docs meet only through shared
    * fingerprints (no all-pairs), and fingerprints in more than
    * `dfCap` docs are dropped before the join (boilerplate grams
    * otherwise create quadratic hot lists — dd4's df-cap lever,
    * applied to fingerprints). Denominators use the FULL per-doc
    * fingerprint count, so the score is cap-independent for the pairs
    * that survive.
    */
  def winnowDupPairs(spark: SparkSession, dir: String, w: Int = 4,
                     minShared: Int = 2, dfCap: Int = 16): DataFrame = {
    // Cache the PER-DOC fingerprint frame BEFORE the explode, for two
    // independent reasons (probed: 38.8 s → ~1 s at sf0.01):
    //  1. Generate(explode) over a computed array column re-evaluates
    //     the array expression per OUTPUT row when the projection is
    //     interpreted — and the winnow chain (higher-order transform
    //     lambdas over trigram md5s) cannot codegen, so exploding the
    //     live chain multiplies the kernel by avg fps/doc (probe:
    //     0.35 s unexploded vs 17.6 s exploded). A materialization
    //     barrier before the Generate makes explode O(rows) again.
    //  2. The frame feeds three consumers (df-cap aggregate + both
    //     self-join sides); the cache collapses them to one kernel
    //     pass. Per-doc arrays are also the cheapest thing to pin —
    //     fingerprints only, no text. The harness unpersists between
    //     gates (Dedup caller contract, top of file).
    val perDoc = graft.operators.TextAnalysis
      .winnowFrom(Tables.documents(spark, dir)
        .select(col("doc_id"), TextAnalysis.words(col("text")).as("ws")), w)
      .select(col("doc_id"), size(col("fps")).cast("bigint").as("n_fp"),
        col("fps"))
      .cache()
    val fps = perDoc.select(col("doc_id"), col("n_fp"),
      explode(col("fps")).as("fp"))
    val rare = fps.groupBy(col("fp")).agg(count(lit(1)).as("df"))
      .filter(col("df") <= dfCap).select(col("fp"))
    val capped = fps.join(rare, "fp")
    val a = capped.select(col("fp"), col("doc_id").as("a"), col("n_fp").as("na"))
    val b = capped.select(col("fp"), col("doc_id").as("b"), col("n_fp").as("nb"))
    a.join(b, Seq("fp"))
      .filter(col("a") < col("b"))
      .groupBy(col("a"), col("b"), col("na"), col("nb"))
      .agg(count(lit(1)).as("n_shared"))
      .filter(col("n_shared") >= minShared)
      .select(col("a"), col("b"), col("n_shared"),
        col("na").as("n_a"), col("nb").as("n_b"),
        round(col("n_shared").cast("double")
          / least(col("na"), col("nb")).cast("double"), 6).as("containment"))
      .orderBy(desc("n_shared"), col("a"), col("b"))
  }
}
