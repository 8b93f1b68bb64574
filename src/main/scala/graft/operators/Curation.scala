package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables
import graft.operators.TextAnalysis.words

/** The capstone composition: a training-data curation pass chaining
  * the engine's text operators into one declarative flow —
  *
  *   quality gate → exact dedup (keep min doc_id) → near-dup removal
  *   (drop the higher doc_id of each MinHash pair) → language filter
  *
  * Everything stays one lazy plan per stage; no driver-side loops. At
  * 100 TB each stage is the operator analyzed in PERF.md — the
  * composition adds two semi/anti joins on doc_id (long keys only).
  */
object Curation {

  /** Survivors of the full curation pass, with their quality stats. */
  def curate(spark: SparkSession, dir: String,
             minWords: Int = 20, langs: Seq[String] = Seq("en"),
             nearDupThreshold: Double = 0.7): DataFrame = {
    val docs = Tables.documents(spark, dir)

    // 1. quality gate: long enough documents
    val quality = docs
      .withColumn("n_words", size(words(col("text"))))
      .filter(col("n_words") >= minWords)

    // 2. exact dedup: keep the smallest doc_id per identical body
    val keepers = docs
      .groupBy(sha2(col("text"), 256).as("sha"))
      .agg(min(col("doc_id")).as("doc_id"))
      .select(col("doc_id"))

    // 3. near-dup removal: for each near-dup pair, drop the larger id
    val nearDupLosers = Dedup.minhashLshPairs(spark, dir, nearDupThreshold)
      .select(col("doc_b").as("doc_id")).distinct()

    // 4. language filter (marker-scoring language ID)
    val langOk = TextAnalysis.langIdMarkers(spark, dir)
      .filter(col("lang_pred").isin(langs.map(x => x: Any): _*))
      .select(col("doc_id"))

    quality
      .join(keepers, Seq("doc_id"), "left_semi")
      .join(nearDupLosers, Seq("doc_id"), "left_anti")
      .join(langOk, Seq("doc_id"), "left_semi")
      .select(col("doc_id"), col("n_words").cast("long").as("n_words"))
      .orderBy(col("doc_id"))
  }

  /** TPC-H-Q6-shaped forecast-revenue query: pure filter + global
    * aggregate — the canonical "did every predicate reach the scan"
    * pushdown check (all three filters land in PushedFilters, the
    * aggregate is a 1-row partial+final).
    */
  def forecastRevenue(spark: SparkSession, dir: String): DataFrame =
    Tables.lineitem(spark, dir)
      .filter(col("l_shipdate") >= lit("1995-01-01").cast("timestamp")
        && col("l_shipdate") < lit("1997-01-01").cast("timestamp")
        && col("l_discount").between(0.03, 0.07)
        && col("l_quantity") < 24)
      .agg(Analytics.exactSum(col("l_extendedprice") * col("l_discount"), 30, 6)
        .as("revenue"),
        count(lit(1)).as("n_rows"))

  /** Adaptive quality gating (gate c2): drop the bottom `pct` of docs
    * by token count, with the threshold derived FROM THE CORPUS — the
    * data-dependent cutoff real curation uses (a fixed constant either
    * over- or under-filters as the corpus drifts). The threshold is an
    * exact ORDER STATISTIC (the ceil(pct·N)-th smallest), computed
    * from a value-domain cumulative histogram: the window runs over
    * DISTINCT token counts (bounded domain, like x5's histogram), not
    * rows, so no data-sized single partition exists; the threshold
    * itself is a one-scalar control-plane read.
    */
  def adaptiveQualityFilter(spark: SparkSession, dir: String,
                            pct: Double = 0.1): DataFrame = {
    val docs = Tables.documents(spark, dir)
      .select(col("doc_id"),
        size(TextAnalysis.words(col("text"))).cast("long").as("n_words"))
    val n = docs.count()
    val k = math.ceil(pct * n).toLong
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(Ranks.boundedOnePartition(col("n_words")))
      .orderBy(col("n_words"))
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)
    val thr = docs.groupBy(col("n_words")).agg(count(lit(1)).as("c"))
      .withColumn("cum", sum(col("c")).over(w))
      .filter(col("cum") >= k)
      .agg(min(col("n_words")))
      .collect()(0).getLong(0)
    docs.filter(col("n_words") >= thr).orderBy(col("doc_id"))
  }

  /** Deterministic planted URL per document (the corpus carries no URL
    * column): host varies by source and a doc_id residue, path by
    * doc_id — enough structure for real host-level operators.
    */
  private def plantedUrl = concat(lit("https://www."), col("source"), lit("-"),
    (col("doc_id") % 7).cast("string"), lit(".example.com/page/"),
    col("doc_id").cast("string"))

  /** Gate u1: per-domain corpus statistics — the first thing a web-scale
    * curation pass computes (CCNet/RefinedWeb both gate on host-level
    * counts before any content filter). Host extraction uses Spark's
    * `parse_url` (codegen'd); one groupBy on the host key.
    */
  def domainStats(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .select(col("doc_id"),
        parse_url(plantedUrl, lit("HOST")).as("host"),
        size(TextAnalysis.words(col("text"))).cast("long").as("n_tokens"))
      .groupBy(col("host"))
      .agg(count(lit(1)).as("n_docs"), sum(col("n_tokens")).as("n_tokens"))
      .orderBy(col("host"))

  /** Gate u2: per-domain document cap — boilerplate-heavy hosts must
    * not dominate a training mix, so each host keeps at most `cap`
    * docs, selected by a DETERMINISTIC md5 rank (stable across runs,
    * partitionings, and engines; no RNG state). The window partitions
    * by host — fully parallel, state bounded by the largest host's doc
    * count, and at 100 TB the same shape runs as a per-host top-k.
    */
  def domainCap(spark: SparkSession, dir: String, cap: Int = 3): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("host"))
      .orderBy(md5(col("doc_id").cast("string")), col("doc_id"))
    Tables.documents(spark, dir)
      .select(col("doc_id"), parse_url(plantedUrl, lit("HOST")).as("host"))
      .withColumn("rk", row_number().over(w))
      .filter(col("rk") <= cap)
      .select(col("doc_id"), col("host"), col("rk"))
      .orderBy(col("doc_id"))
  }

  /** Gated c3: the ROUND-5 curation capstone — the new operator
    * families composed into one pipeline the way a production corpus
    * build chains them:
    *
    *   1. cheap length gate (n_chars ≥ 200),
    *   2. keep-first prefix dedup (drop any doc whose 100-char md5
    *      fingerprint appears on a smaller doc_id — dd12's key,
    *      corpus-wide),
    *   3. LM quality gate (add-one bigram perplexity ≤ 30 under the
    *      corpus model — lm1's scores),
    *   4. weighted selection (Efraimidis–Spirakis key on n_chars —
    *      ws1's key), top 10.
    *
    * Every stage reuses an already-hash-checked fragment, so the
    * capstone proves the pieces COMPOSE without re-deriving any
    * math: one anti-join on digests, one score join, one top-k.
    */
  def curationV2(spark: SparkSession, dir: String, k: Int = 10): DataFrame = {
    val docs = Tables.documents(spark, dir)
      .select(col("doc_id"), col("text"), col("n_chars"))
      .filter(col("n_chars") >= 200)
    val fp = md5(substring(col("text"), 1, 100))
    val withFp = docs.select(col("doc_id"), col("n_chars"), fp.as("h"))
    val earlier = withFp.select(col("h").as("h2"), col("doc_id").as("d2"))
    val deduped = withFp
      .join(earlier, col("h") === col("h2") && col("d2") < col("doc_id"), "left_anti")
    val scores = graft.operators.LanguageModel.bigramScoresAll(spark, dir)
      .select(col("doc_id"), col("ppl"))
    deduped
      .join(scores, "doc_id")
      .filter(col("ppl") <= 30.0)
      .select(col("doc_id"), col("n_chars"), col("ppl"),
        round(log((((col("doc_id") * lit(2654435761L)) % lit(1000003L) + lit(1))
          .cast("double") / lit(1000004.0)))
          / col("n_chars").cast("double"), 10).as("wkey"))
      .orderBy(desc("wkey"), asc("doc_id"))
      .limit(k)
  }

  /** Gated c4: ROUND-6 CAPSTONE — the leakage-controlled training-set
    * assembly a modern pretraining pipeline runs, composed from this
    * round's families without re-deriving any math:
    *
    *  1. GROUP-aware split ([[TextAnalysis.groupSplitMap]], s2):
    *     whole sources assigned train/val/test;
    *  2. SIMILARITY decontamination: any train doc ≥ 0.7 Jaccard to
    *     some val/test doc (via the recall-guaranteed MinHash/LSH
    *     pair set, dd2) is dropped — the near-dup leak a hash-based
    *     decontamination (dc1) cannot see;
    *  3. length quality gate, then per-source kept counts.
    *
    * Costs: the LSH pair set is the dd2 path (band-bucketed),
    * split map broadcasts at group cardinality, contaminated ids are
    * a distinct-id anti join. Oracle replays all three stages in SQL
    * from the exact Jaccard — a banding miss or split drift
    * hash-fails the gate.
    */
  def curationV3(spark: SparkSession, dir: String,
                 minChars: Long = 120, maxChars: Long = 20000): DataFrame = {
    val docs = Tables.documents(spark, dir)
    val d = docs.select(col("doc_id"), col("source"), col("n_chars"))
      .join(broadcast(graft.operators.TextAnalysis.groupSplitMap(docs)), "source")
    val pairs = graft.operators.Dedup.minhashLshPairs(spark, dir)
    val withSplits = pairs
      .join(d.select(col("doc_id").as("doc_a"), col("split").as("sa")), "doc_a")
      .join(d.select(col("doc_id").as("doc_b"), col("split").as("sb")), "doc_b")
    val contaminated = withSplits
      .filter((col("sa") === "train") =!= (col("sb") === "train"))
      .select(when(col("sa") === "train", col("doc_a"))
        .otherwise(col("doc_b")).as("doc_id"))
      .distinct()
    d.filter(col("split") === "train"
        && col("n_chars").between(minChars, maxChars))
      .join(contaminated, Seq("doc_id"), "left_anti")
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_kept"), sum(col("n_chars")).as("kept_chars"))
      .orderBy(col("source"))
  }

  /** Gated c6: END-TO-END ENTITY RESOLUTION — the capstone that
    * chains the round-8 linkage pieces into the canonical ER
    * pipeline shape (the master-data/"golden record" flow):
    *
    *   blocked Fellegi-Sunter scoring ([[Dedup.recordLinkage]]'s
    *   discipline, full candidate set) → match edges (n_agree ≥ 2)
    *   → connected components ([[Dedup.duplicateClustersFrom]]'s
    *   min-label BSP, lineage-checkpointed) → per-cluster golden-
    *   record summary.
    *
    * Scale shape inherits from its parts: blocking bounds the pair
    * mass, components move only node-cardinality label vectors after
    * one edge exchange, and the summary is a single aggregation. The
    * only new cost is the final groupBy on cluster reps.
    */
  def entityResolution(spark: SparkSession, dir: String,
                       minAgree: Int = 2, k: Int = 20): DataFrame =
      Pins.local(spark) { _ =>
    val c = Tables.customer(spark, dir)
      .select((col("c_custkey") * 2).as("id"), col("c_nationkey").as("blk"),
        round(col("c_acctbal") * 100).cast("long").as("cents"))
    val s = Tables.supplier(spark, dir)
      .select((col("s_suppkey") * 2 + 1).as("id"), col("s_nationkey").as("blk"),
        round(col("s_acctbal") * 100).cast("long").as("cents"))
    // Blocked multi-field agreement (rl1's fields); edges = pairs
    // agreeing on at least `minAgree` of the three.
    val edges = c.select(col("id").as("ca"), col("blk"), col("cents").as("cb"))
      .join(s.select(col("id").as("sb"), col("blk"), col("cents").as("sbal")),
        Seq("blk"))
      .select(col("ca"), col("sb"),
        (((col("cb") >= 0) === (col("sbal") >= 0)).cast("int")
          + (floor(col("cb") / lit(100000.0)) === floor(col("sbal") / lit(100000.0))).cast("int")
          + (floor(col("cb") / lit(1000.0)) === floor(col("sbal") / lit(1000.0))).cast("int"))
          .as("n_agree"))
      .filter(col("n_agree") >= minAgree)
      .select(col("ca").as("doc_a"), col("sb").as("doc_b"))
    val nodes = c.select(col("id").as("doc_id"))
      .unionAll(s.select(col("id").as("doc_id")))
    val labels = Dedup.duplicateClustersFrom(nodes, edges)
    val balances = c.select(col("id"), col("cents"))
      .unionAll(s.select(col("id"), col("cents")))
    labels
      .join(balances, col("doc_id") === col("id"))
      .groupBy(col("cluster_rep"))
      .agg(count(lit(1)).as("n_members"),
        sum((col("doc_id") % 2 === 0).cast("long")).as("n_customers"),
        sum((col("doc_id") % 2 === 1).cast("long")).as("n_suppliers"),
        max(col("cents")).as("max_bal_cents"))
      .orderBy(desc("n_members"), asc("cluster_rep"))
      .limit(k) // k rows
  }

  /** Gated c7: the CORPUS CARD — the per-source release report every
    * dataset ships with (what HF dataset cards tabulate): volume,
    * length profile, lexical diversity (type/token ratio), short-doc
    * fraction, dominant language and its share. Composes the engine's
    * text primitives into three aggregation passes over one scan
    * shape: per-source scalars, a token explode for TTR, and the
    * dominant language as an ARGMAX AGGREGATION
    * (`min(struct(-count, lang))` — dd15's discipline: ties break on
    * lang ascending, no per-source window, no skew pivot). Every
    * ratio is a division of exact integers, so the card hashes
    * identically on any engine.
    */
  def corpusCard(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
      .select(col("source"), col("lang"), col("n_chars"),
        words(col("text")).as("ws"))
      .withColumn("n_words", size(col("ws")).cast("long"))
    val base = docs.groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_chars")).as("total_chars"),
        sum(col("n_words")).as("sw"),
        sum(when(col("n_words") < 20, 1L).otherwise(0L)).as("nshort"))
    val tk = docs.select(col("source"), explode(col("ws")).as("tok"))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_tokens"),
        countDistinct(col("tok")).as("n_types"))
    val top = docs.groupBy(col("source"), col("lang"))
      .agg(count(lit(1)).as("nl"))
      .groupBy(col("source"))
      .agg(min(struct((-col("nl")).as("neg"), col("lang").as("lang"))).as("m"))
      .select(col("source"), col("m.lang").as("top_lang"),
        (-col("m.neg")).as("nl"))
    base.join(top, "source").join(tk, "source")
      .select(col("source"), col("n_docs"), col("total_chars"),
        round(col("sw").cast("double") / col("n_docs"), 6).as("mean_words"),
        round(col("n_types").cast("double") / col("n_tokens"), 6)
          .as("type_token_ratio"),
        round(col("nshort").cast("double") / col("n_docs"), 6).as("short_frac"),
        col("top_lang"),
        round(col("nl").cast("double") / col("n_docs"), 6).as("top_lang_share"))
      .orderBy(col("source"))
  }
}
