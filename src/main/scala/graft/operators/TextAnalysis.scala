package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables
import graft.functions.PolyFingerprint

/** Text-analysis operators for a training-data pipeline (north-star
  * extension; the reference computes nothing over text — SURVEY §2.6).
  *
  * Everything here is built from codegen'd Spark built-ins (split,
  * regexp_*, higher-order array functions) plus one native Catalyst
  * expression ([[graft.functions.PolyFingerprintExpr]]) — no Scala
  * closures in the hot path, so at 100 TB every operator is a single
  * scan inside WholeStageCodegen with column pruning down to
  * (doc_id, text).
  */
object TextAnalysis {

  /** Word tokens: whitespace split of trimmed text. */
  def words(c: Column): Column = split(trim(c), "\\s+")

  /** BPE-ish subword tokenization regex: letter runs, digit runs, and
    * single non-alphanumeric marks — the pre-tokenizer shape GPT-style
    * BPE vocabularies assume.
    */
  val TokenPattern = "[a-z]+|[0-9]+|[^a-z0-9\\s]"

  /** Stopword list shared with the oracle SQL (must stay in sync — the
    * SQL is generated from this constant in graft.gates).
    */
  val Stopwords: Seq[String] =
    Seq("the", "and", "of", "to", "a", "in", "is", "it", "for", "on")

  /** Per-language marker words for the marker-scoring language ID.
    * Order matters: ties resolve to the earliest entry.
    */
  val LangMarkers: Seq[(String, Seq[String])] = Seq(
    "en" -> Seq("the", "and", "of", "to", "in", "is"),
    "es" -> Seq("el", "la", "los", "de", "que", "y"),
    "de" -> Seq("der", "die", "und", "das", "ist", "nicht"),
    "fr" -> Seq("le", "la", "les", "et", "que", "est"),
    "zh" -> Seq("de5", "shi4", "zai4", "le5", "he2", "wo3"))

  /** Token counting (query t1): whitespace word count + BPE-ish subword
    * token count + character count, per document.
    */
  def tokenStats(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .select(
        col("doc_id"),
        size(words(col("text"))).cast("long").as("n_words"),
        size(regexp_extract_all(col("text"), lit(TokenPattern), lit(0)))
          .cast("long").as("n_tokens"),
        length(col("text")).cast("long").as("n_chars_measured"))
      .orderBy(col("doc_id"))

  /** Quality scoring (query t2): length, mean word length, punctuation
    * ratio, stopword ratio, and a composite quality score — the
    * standard cheap filters applied before expensive dedup/training.
    * All ratios are exact integer-ratio doubles (identical across
    * engines); the composite is rounded to 6 decimals.
    */
  def qualityScore(spark: SparkSession, dir: String): DataFrame = {
    // Word array staged behind a projection — `ws` is referenced by
    // four downstream expressions, and an inline split would re-
    // tokenize per reference.
    val ws = col("ws")
    val nWords = size(ws).cast("double")
    val nChars = length(col("text")).cast("double")
    val punct  = length(regexp_replace(col("text"), "[^.!?,;:]", "")).cast("double")
    val stop   = size(filter(ws, w => w.isin(Stopwords.map(x => x: Any): _*)))
      .cast("double")
    Tables.documents(spark, dir)
      .select(col("doc_id"), col("text"), words(col("text")).as("ws"))
      .select(
        col("doc_id"),
        nChars.cast("long").as("n_chars_measured"),
        nWords.cast("long").as("n_words"),
        round(nChars / nWords, 6).as("mean_word_len"),
        round(punct / nChars, 6).as("punct_ratio"),
        round(stop / nWords, 6).as("stopword_ratio"),
        // Composite: long-enough docs with natural stopword density win.
        round(least(nWords / lit(100.0), lit(1.0)) * lit(0.5)
          + least(stop / nWords * lit(5.0), lit(1.0)) * lit(0.5), 6)
          .as("quality"))
      .orderBy(col("doc_id"))
  }

  /** Marker-word language ID (query t3): score = count of per-language
    * marker words; prediction = argmax with deterministic tie order
    * (list order in [[LangMarkers]]), 'und' when no marker hits.
    * SQL-mirrorable, so the whole decision function is oracle-checked.
    */
  def langIdMarkers(spark: SparkSession, dir: String): DataFrame = {
    // Same staging discipline as [[langIdNgram]]: word array, then
    // scores, then the cheap argmax — each expensive expression bound
    // once instead of re-evaluated per downstream reference.
    val scored = Tables.documents(spark, dir)
      .select(col("doc_id"), words(lower(col("text"))).as("ws"))
      .select(col("doc_id") +: LangMarkers.map { case (lang, markers) =>
        size(filter(col("ws"), w => w.isin(markers.map(x => x: Any): _*)))
          .as(s"s_$lang")
      }: _*)
    val scores = LangMarkers.map { case (lang, _) => lang -> col(s"s_$lang") }
    val best = scores.map(_._2).reduce((a, b) => greatest(a, b))
    val pred = scores.reverse.foldLeft(lit("und")) { case (acc, (lang, s)) =>
      when(s > 0 && s === best, lit(lang)).otherwise(acc)
    }
    scored
      .select(col("doc_id"), pred.as("lang_pred"))
      .orderBy(col("doc_id"))
  }

  /** Character n-gram profile language ID (library form; exercised in
    * ScalaTest rather than the SQL gate — profile scoring is not
    * reasonably SQL-expressible). Scores each document's character
    * trigram set against small per-language profiles and returns the
    * best-overlap language. Deterministic; one scan; the profiles
    * broadcast as literals inside the plan.
    */
  def langIdNgram(spark: SparkSession, dir: String,
                  profiles: Map[String, Seq[String]] = DefaultTrigramProfiles): DataFrame = {
    // Stage the trigram array and then the per-language scores behind
    // their own projections: expressions are TREES, so an inline
    // `grams` would be re-tokenized once per profile intersect AND
    // once per reference inside best/pred (~12× per row measured at
    // sf0.1 — 9.0 s vs 1.3 s staged).
    val langs = profiles.toSeq.sortBy(_._1)
    val scored = Tables.documents(spark, dir)
      .select(col("doc_id"), charTrigrams(lower(col("text"))).as("grams"))
      .select(col("doc_id") +: langs.map { case (lang, tris) =>
        size(array_intersect(col("grams"), array(tris.map(lit): _*))).as(s"s_$lang")
      }: _*)
    val scores = langs.map { case (lang, _) => lang -> col(s"s_$lang") }
    val best = scores.map(_._2).reduce((a, b) => greatest(a, b))
    val pred = scores.reverse.foldLeft(lit("und")) { case (acc, (lang, s)) =>
      when(s > 0 && s === best, lit(lang)).otherwise(acc)
    }
    scored
      .select(col("doc_id"), pred.as("lang_pred"))
      .orderBy(col("doc_id"))
  }

  /** Distinct character trigrams of a string, via sequence+transform
    * (pure codegen, no UDF).
    */
  def charTrigrams(c: Column): Column =
    // Native single-pass kernel (see CharTrigramsExpr): the HOF
    // transform+substr formulation is interpreted AND O(len²) because
    // substr re-scans codepoints from the string start per position.
    // Sub-3-char strings yield an empty set (the sequence(1,0)
    // descending-range trap the kernel sidesteps by construction).
    graft.functions.CharTrigramsExpr.charTrigrams(c)

  /** English-ish default trigram profiles (tiny, illustrative). */
  val DefaultTrigramProfiles: Map[String, Seq[String]] = Map(
    "en" -> Seq("the", "and", "ing", "ion", "ent"),
    "es" -> Seq("que", "ión", "los", "ado", "nte"),
    "de" -> Seq("der", "und", "ein", "ich", "sch"),
    "fr" -> Seq("les", "ent", "que", "ion", "ais"))

  /** Text normalization pass (t8): strip tag-like markup, collapse
    * whitespace runs, trim, lowercase — the first stage of every web
    * curation pipeline, as one codegen'd regex chain (single scan, no
    * UDF).
    */
  def cleanText(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .select(col("doc_id"),
        lower(trim(regexp_replace(
          regexp_replace(col("text"), "<[^>]*>", " "),
          "\\s+", " "))).as("clean_text"))
      .orderBy(col("doc_id"))

  /** PII redaction (t9): email and long-digit-run scrubbing with
    * typed placeholders — the redaction counts come along so the gate
    * also checks HOW MANY redactions fired, not just the final text.
    */
  def redactPii(spark: SparkSession, dir: String): DataFrame = {
    val emailRe = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
    val digitsRe = "[0-9]{7,}"
    Tables.documents(spark, dir)
      .select(col("doc_id"), col("text"))
      .select(col("doc_id"),
        regexp_replace(regexp_replace(col("text"), emailRe, "<EMAIL>"),
          digitsRe, "<NUM>").as("redacted"),
        size(regexp_extract_all(col("text"), lit(emailRe))).as("n_emails"),
        size(regexp_extract_all(col("text"), lit(digitsRe))).as("n_digit_runs"))
      .orderBy(col("doc_id"))
  }

  /** Deterministic train/val/test assignment (s1): bucket = first hex
    * char of md5(doc_id) — stable across engines, machines, and runs
    * (never `rand()`: a retried task must land every row in the same
    * split or the corpus silently leaks between train and test).
    * 12/16 chars → train, 2/16 → val, 2/16 → test.
    */
  def hashSplit(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .select(col("doc_id"),
        substring(md5(col("doc_id").cast("string")), 1, 1).as("h"))
      .select(col("doc_id"),
        when(col("h").isin("0", "1", "2", "3", "4", "5", "6", "7", "8", "9", "a", "b"), "train")
          .when(col("h").isin("c", "d"), "val")
          .otherwise("test").as("split"))
      .groupBy(col("split"))
      .agg(count(lit(1)).as("n_docs"))
      .orderBy(col("split"))

  /** Gated cv1: deterministic k-fold cross-validation assignment plus
    * the per-fold statistics an eval harness actually needs — each
    * fold's own size AND its complement's (training-set) size/mean,
    * derived from one aggregation pass plus a 1-row broadcast of the
    * global totals (train(fold) = total − fold, no second scan, no
    * k-way self-join). Fold = (first md5 byte of doc_id) mod k — the
    * same content-independent hash-assignment family as
    * [[hashSplit]], so folds are stable under corpus growth and
    * reproducible across engines.
    */
  def kfoldStats(spark: SparkSession, dir: String, k: Int = 5): DataFrame = {
    val folds = Tables.documents(spark, dir)
      .select(col("n_chars"),
        (conv(substring(md5(col("doc_id").cast("string")), 1, 2), 16, 10)
          .cast("long") % k).as("fold"))
    val agg = folds.groupBy(col("fold"))
      .agg(count(lit(1)).as("n_docs"), sum(col("n_chars")).as("fold_chars"))
    val tot = agg.agg(sum(col("n_docs")).as("n_all"),
      sum(col("fold_chars")).as("chars_all"))
    agg.crossJoin(broadcast(tot))
      .select(col("fold"), col("n_docs"), col("fold_chars"),
        (col("n_all") - col("n_docs")).as("train_docs"),
        (col("chars_all") - col("fold_chars")).as("train_chars"),
        round((col("chars_all") - col("fold_chars")).cast("double")
          / (col("n_all") - col("n_docs")).cast("double"), 6)
          .as("train_mean_chars"))
      .orderBy(col("fold"))
  }

  /** Gated t16 (rows-only: DuckDB has no DEFLATE): per-language
    * compression-ratio profile via the native
    * [[graft.functions.DeflateSizeExpr]] kernel — ratio =
    * deflate(utf8)/octet_length. The scan computes both sizes inside
    * one codegen stage and only |langs| summary rows shuffle;
    * `n_repetitive` counts docs under 0.35, the standard
    * boilerplate/generated-text cut. The kernel itself is
    * exact-verified against java.util.zip in the spec, and the
    * aggregate uses order-invariant DECIMAL sums.
    */
  def compressionProfile(spark: SparkSession, dir: String,
                         flagBelow: Double = 0.35): DataFrame =
    Tables.documents(spark, dir)
      .select(col("lang"),
        graft.functions.DeflateSizeExpr.deflateSize(col("text")).as("zlen"),
        octet_length(col("text")).cast("long").as("blen"))
      .select(col("lang"), (col("zlen").cast("double") / col("blen")).as("ratio"))
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n_docs"),
        round(graft.operators.Analytics.exactAvg(col("ratio"), 38, 18), 6)
          .as("avg_ratio"),
        round(min(col("ratio")), 6).as("min_ratio"),
        round(max(col("ratio")), 6).as("max_ratio"),
        sum(when(col("ratio") < flagBelow, 1L).otherwise(0L)).as("n_repetitive"))
      .orderBy(col("lang"))

  /** Gated zipf1: ZIPF SLOPE of the token rank–frequency curve — the
    * corpus-health diagnostic (natural text ≈ −1; synthetic/templated
    * corpora flatten toward 0, spam steepens). One count shuffle
    * builds the token-TYPE table (vocabulary cardinality ≪ corpus),
    * ranks it, and fits ln(freq) ~ ln(rank) over the top `topK` by
    * the same closed-form OLS as ts4 — ln-terms DECIMAL-summed for
    * order invariance. At web-scale vocabularies the rank window
    * would be pre-pruned to the top-k band by the hh1 heavy-hitter
    * sketch; the fit itself is k-bounded either way.
    */
  def tokenZipf(spark: SparkSession, dir: String, topK: Int = 1000): DataFrame = {
    val counts = Tables.documents(spark, dir)
      .select(explode(words(col("text"))).as("tok"))
      .groupBy(col("tok")).agg(count(lit(1)).as("n"))
    // Top-k FIRST via orderBy+limit → TakeOrderedAndProject (per-partition
    // heaps, k rows to the driver-side merge), THEN rank the k-bounded
    // frame. Ranking before pruning was a single-partition WindowExec over
    // the whole vocabulary — unbounded cardinality at corpus scale.
    val top = counts.orderBy(desc("n"), asc("tok")).limit(topK)
    // Ranking the k-bounded frame: the single-valued partition key
    // (x mod 1 = 0 for every row) states the intent — one partition of
    // ≤ topK rows, BY CONSTRUCTION — and keeps WindowExec's unbounded-
    // global-sort warning out of the logs. A plain literal (or any
    // expression provable constant, like isNotNull of a non-nullable
    // column) would be folded out of the partition spec; hash(tok)%1
    // is constant-valued but not foldable.
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(pmod(hash(col("tok")), lit(1)))
      .orderBy(desc("n"), asc("tok"))
    val r = top.withColumn("rk", row_number().over(w).cast("long"))
    def dec(c: Column): Column = sum(c.cast("decimal(38,18)")).cast("double")
    val s = r.agg(count(lit(1)).as("c"),
      dec(log(col("rk"))).as("sx"), dec(log(col("n"))).as("sy"),
      dec(log(col("rk")) * log(col("rk"))).as("sxx"),
      dec(log(col("rk")) * log(col("n"))).as("sxy"))
    val slope = (col("c").cast("double") * col("sxy") - col("sx") * col("sy")) /
      (col("c").cast("double") * col("sxx") - col("sx") * col("sx"))
    s.select(col("c").as("n_tokens"),
      round(slope, 6).as("slope"),
      round((col("sy") - slope * col("sx")) / col("c"), 6).as("intercept"))
  }

  /** Gated ent1: per-document token ENTROPY — the information-density
    * quality cut (templated/generated text collapses toward low
    * entropy long before a human notices; `t13` measures repetition
    * of the max token, this measures the whole distribution).
    * H = ln N − (Σ c·ln c)/N over within-doc token counts, plus the
    * type-count-normalized form in [0,1].
    *
    * Scale shape: two doc-keyed shuffles — (doc, token) term
    * frequency, then the per-doc fold — both combine map-side; no
    * global state, no vocabulary table. The ln-terms are summed as
    * DECIMAL(38,18) (mi1's pattern) so the fold is order-invariant
    * and hash-exact against the oracle.
    */
  def tokenEntropy(spark: SparkSession, dir: String): DataFrame = {
    val tf = Tables.documents(spark, dir)
      .select(col("doc_id"), explode(words(col("text"))).as("tok"))
      .groupBy(col("doc_id"), col("tok")).agg(count(lit(1)).as("c"))
    val n = col("n_tokens").cast("double")
    val h = log(n) - col("s") / n
    tf.groupBy(col("doc_id"))
      .agg(sum(col("c")).as("n_tokens"),
        count(lit(1)).as("n_types"),
        sum((col("c").cast("double") * log(col("c").cast("double")))
          .cast("decimal(38,18)")).cast("double").as("s"))
      .select(col("doc_id"), col("n_tokens"), col("n_types"),
        round(h, 6).as("entropy"),
        round(when(col("n_types") > 1, h / log(col("n_types").cast("double")))
          .otherwise(lit(0.0)), 6).as("norm_entropy"))
      .orderBy(col("doc_id"))
  }

  /** Gated s2: GROUP-AWARE split — the leakage-proof variant of
    * [[hashSplit]]. Hashing doc_id puts near-identical documents from
    * one source on both sides of the train/test wall; hashing the
    * GROUP key (source) sends every document of a source to the same
    * split, which is how eval contamination via sibling documents is
    * actually prevented. The distinct group→split map is tiny
    * (|sources|, not |docs|) and broadcast, so the assignment costs
    * one scan and zero extra shuffles of the corpus at any scale.
    */
  /** The deterministic source→split assignment shared by [[groupSplit]]
    * and the curation capstones: md5 first hex nibble, 12/2/2 —
    * group-cardinality, meant to be broadcast.
    */
  def groupSplitMap(docs: DataFrame): DataFrame =
    docs.select(col("source")).distinct()
      .select(col("source"), substring(md5(col("source")), 1, 1).as("h"))
      .select(col("source"),
        when(col("h").isin("0", "1", "2", "3", "4", "5", "6", "7", "8", "9", "a", "b"), "train")
          .when(col("h").isin("c", "d"), "val")
          .otherwise("test").as("split"))

  def groupSplit(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    docs.join(broadcast(groupSplitMap(docs)), "source")
      .groupBy(col("split"))
      .agg(countDistinct(col("source")).as("n_groups"),
        count(lit(1)).as("n_docs"),
        sum(col("n_chars")).as("total_chars"))
      .orderBy(col("split"))
  }

  /** Word-position lateral view (l1): one row per (doc, position,
    * word) — the generator/flatten shape (posexplode) every
    * tokenization pipeline leans on; capped to the first docs to keep
    * the gate output bounded.
    */
  def wordPositions(spark: SparkSession, dir: String, maxDocId: Long = 50): DataFrame =
    Tables.documents(spark, dir)
      .filter(col("doc_id") < maxDocId)
      .select(col("doc_id"), posexplode(words(col("text"))))
      .select(col("doc_id"), (col("pos") + 1).cast("int").as("pos"), col("col").as("word"))
      .orderBy(col("doc_id"), col("pos"))

  /** Gated ps1: PHRASE SEARCH over the positional inverted index —
    * exact multi-word phrase lookup as adjacency joins between term
    * posting lists, the way every search engine answers quoted
    * queries. Each phrase term's postings are aligned to the phrase
    * start (pos − offset) and intersected with (doc_id, pos)
    * equi-joins; a row survives iff every term sits at its offset.
    *
    * Scale shape: the isin() filter on the phrase's terms reaches the
    * scan (only those postings are ever materialized — for a k-word
    * phrase that is k posting lists, not the corpus), and the k−1
    * joins are equi-joins on (doc_id, aligned_pos) whose inputs
    * shrink monotonically: rarest-term-first ordering would tighten
    * it further; at this k the natural order suffices.
    */
  def phraseSearch(spark: SparkSession, dir: String,
                   phrase: String = "part filter scan"): DataFrame = {
    val terms = phrase.split(" ")
    val postings = Tables.documents(spark, dir)
      .select(col("doc_id"), posexplode(words(col("text"))))
      .select(col("doc_id"), col("pos"), col("col").as("word"))
      .filter(col("word").isin(terms.map(x => x: Any): _*))
    val first = postings.filter(col("word") === terms(0))
      .select(col("doc_id"), col("pos"))
    terms.zipWithIndex.drop(1)
      .foldLeft(first) { case (acc, (t, i)) =>
        acc.join(postings.filter(col("word") === t)
            .select(col("doc_id"), (col("pos") - i).as("pos")),
          Seq("doc_id", "pos"))
      }
      .select(col("doc_id"), col("pos").cast("long").as("start_pos"))
      .orderBy(col("doc_id"), col("start_pos"))
  }

  /** TF-IDF (t10): the canonical sparse text-feature weighting.
    * tf = term count in doc, idf = ln(N / df). One explode + two
    * aggregations; the doc-frequency table joins back on the term —
    * at corpus scale both shuffles key on the term, and the score
    * math is a pure per-row expression. ln() is mirrored by DuckDB's
    * ln() on identical doubles; round(6) absorbs last-ulp libm drift.
    * Output bounded to the first docs to keep the gate small.
    */
  def tfIdf(spark: SparkSession, dir: String, maxDocId: Long = 20): DataFrame = {
    val docs = Tables.documents(spark, dir)
    val n = docs.count()
    val terms = docs
      .select(col("doc_id"), explode(words(col("text"))).as("term"))
    val tf = terms.groupBy(col("doc_id"), col("term"))
      .agg(count(lit(1)).as("tf"))
    val df = terms.select(col("doc_id"), col("term")).distinct()
      .groupBy(col("term")).agg(count(lit(1)).as("df"))
    tf.join(df, "term")
      .filter(col("doc_id") < maxDocId)
      .select(col("doc_id"), col("term"),
        round(col("tf") * log(lit(n.toDouble) / col("df")), 6).as("tfidf"))
      .orderBy(col("doc_id"), col("term"))
  }

  /** Bigram frequencies (t11): the n-gram count table LM data prep
    * builds; same explode-and-count shape as [[topTokens]] one order
    * up.
    */
  def topBigrams(spark: SparkSession, dir: String, k: Int = 20): DataFrame =
    Tables.documents(spark, dir)
      .select(words(col("text")).as("ws"))
      .select(explode(when(size(col("ws")) >= 2,
        transform(sequence(lit(0), size(col("ws")) - lit(2)),
          i => concat_ws(" ", slice(col("ws"), i + lit(1), lit(2)))))
        .otherwise(array().cast("array<string>"))).as("bigram"))
      .groupBy(col("bigram")).agg(count(lit(1)).as("n"))
      .orderBy(desc("n"), asc("bigram"))
      .limit(k)

  /** Deterministic Bernoulli sample (sa1): keep a row iff the md5 hex
    * prefix of its key falls under the rate threshold — reproducible
    * across runs, machines, and retries, unlike `rand()`-based
    * sampling (same rationale as [[hashSplit]]). 4 hex chars → rate
    * granularity 1/65536.
    */
  def hashSample(spark: SparkSession, dir: String, rate: Double = 0.25): DataFrame = {
    // Fixed-width lowercase hex compares lexicographically == numerically,
    // so the threshold is just a hex string — no base conversion on
    // either engine.
    val threshold = f"${(rate * 65536).toInt}%04x"
    Tables.documents(spark, dir)
      .filter(substring(md5(col("doc_id").cast("string")), 1, 4) < threshold)
      .select(col("doc_id"))
      .orderBy(col("doc_id"))
  }

  /** Gated sh1: DETERMINISTIC EPOCH SHUFFLE — a reproducible, seeded
    * permutation of the corpus per training epoch: sort key =
    * md5(epoch ‖ ':' ‖ doc_id), so every epoch is a different but
    * bit-reproducible order (across runs, machines, partitionings,
    * engines — `rand()` is none of these), and no epoch's order leaks
    * into another's. The data-loader contract behind "resume epoch 2
    * at step 41337" on a 100 TB corpus.
    *
    * Scale shape: materializing a full epoch order is ONE
    * `repartitionByRange` on the hash (range exchange + parallel
    * per-partition sorts — the writer's partition files ARE the
    * shuffled shards, no single-partition sort anywhere; exact global
    * positions, if a loader needs them, come from the same
    * [[Ranks.scan]] machinery as w7). The gate probes
    * the first k positions of each epoch via per-epoch
    * TakeOrderedAndProject — k-bounded, and any divergence in the
    * permutation hash-fails against the oracle's window rank.
    */
  def epochShuffle(spark: SparkSession, dir: String,
                   epochs: Int = 2, k: Int = 10): DataFrame = {
    val d = Tables.documents(spark, dir).select(col("doc_id"))
    val perEpoch = (1 to epochs).map { e =>
      val top = d.select(lit(e).as("epoch"), col("doc_id"),
          md5(concat(lit(s"$e:"), col("doc_id").cast("string"))).as("h"))
        .orderBy(col("h"), col("doc_id"))
        .limit(k)
      // k-bounded rank (same non-foldable constant-partition idiom as
      // tokenZipf — the frame is ≤ k rows by construction).
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(pmod(hash(col("h")), lit(1)))
        .orderBy(col("h"), col("doc_id"))
      top.withColumn("rk", row_number().over(w).cast("long"))
        .select(col("epoch"), col("rk"), col("doc_id"))
    }
    perEpoch.reduce(_ unionAll _).orderBy(col("epoch"), col("rk"))
  }

  /** Gated sa2: deterministic STRATIFIED sampling — exactly n docs per
    * language, chosen by md5-hash rank within the stratum (not by
    * position or randomness, so the sample is stable across runs,
    * partitionings, and engines). The per-stratum window ranks inside
    * one shuffle on the stratum key; ties cannot occur (md5 of distinct
    * ids collides nowhere at these cardinalities, and doc_id breaks any
    * residual tie). The balanced-per-class sample every training-data
    * curation run draws.
    */
  def stratifiedSample(spark: SparkSession, dir: String, nPerStratum: Int = 20): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("lang"))
      .orderBy(col("h"), col("doc_id"))
    Tables.documents(spark, dir)
      .select(col("doc_id"), col("lang"),
        md5(col("doc_id").cast("string")).as("h"))
      .withColumn("rk", row_number().over(w))
      .filter(col("rk") <= nPerStratum)
      .select(col("lang"), col("doc_id"), col("rk"))
      .orderBy(col("lang"), col("rk"))
  }

  /** Gated ws1: deterministic WEIGHTED sampling (Efraimidis–Spirakis
    * A-ES): each row draws a pseudo-uniform u from an integer hash of
    * its key and ranks by ln(u)/weight — the top-k under that key is
    * a weighted sample without replacement, with inclusion odds
    * proportional to weight (here n_chars, the "sample long documents
    * more" curation default). Replacing rand() with the integer-hash
    * uniform makes the sample reproducible across runs, engines, and
    * retries, like [[hashSample]]; u is a ratio of exact integers so
    * both engines see bit-identical doubles, and the ranking key is
    * rounded to absorb libm ulp drift in ln().
    *
    * Scale shape: a per-row expression plus one TakeOrderedAndProject
    * (partial top-k per partition, k rows to the driver) — no shuffle
    * of the corpus, no full sort.
    */
  def weightedSample(spark: SparkSession, dir: String, k: Int = 20): DataFrame =
    Tables.documents(spark, dir)
      .filter(col("n_chars") > 0)
      .select(col("doc_id"), col("n_chars"),
        (((col("doc_id") * lit(2654435761L)) % lit(1000003L) + lit(1))
          .cast("double") / lit(1000004.0)).as("u"))
      .select(col("doc_id"), col("n_chars"),
        round(log(col("u")) / col("n_chars").cast("double"), 10).as("wkey"))
      .orderBy(desc("wkey"), asc("doc_id"))
      .limit(k)

  /** Gated div1: n-gram diversity — distinct/total ratio for n=1,2,3.
    * The standard corpus-repetitiveness diagnostic (low distinct-n
    * ratios flag TEMPLATED or machine-looped text before training).
    * Three map-side-combinable aggregations over exploded n-grams;
    * count_distinct rewrites to a two-stage partial aggregate, so no
    * single reducer sees the full gram set.
    */
  def ngramDiversity(spark: SparkSession, dir: String): DataFrame =
    // All three gram orders are cut in ONE corpus scan (nested
    // transform → flatten → explode), then one grouped aggregation;
    // count_distinct rewrites to a two-stage partial agg keyed on
    // (n, gram), so the corpus is read once, not three times.
    Tables.documents(spark, dir)
      .select(words(col("text")).as("ws"))
      .select(explode(flatten(transform(
        array(lit(1), lit(2), lit(3)),
        nn => when(size(col("ws")) >= nn,
          transform(sequence(lit(0), size(col("ws")) - nn),
            i => struct(nn.as("n"),
              concat_ws(" ", slice(col("ws"), i + lit(1), nn)).as("g"))))
          .otherwise(array().cast("array<struct<n:int,g:string>>"))))).as("x"))
      .select(col("x.n").as("n"), col("x.g").as("g"))
      .groupBy(col("n"))
      .agg(count(lit(1)).as("n_total"), count_distinct(col("g")).as("n_distinct"))
      .select(col("n"), col("n_total"), col("n_distinct"),
        round(col("n_distinct").cast("double") / col("n_total"), 6)
          .as("distinct_ratio"))
      .orderBy(col("n"))

  /** Regex group extraction (query t6): the word following 'the' —
    * no-match yields empty string in both engines.
    */
  def regexExtract(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .select(col("doc_id"),
        regexp_extract(col("text"), "the ([a-z]+)", 1).as("after_the"))
      .orderBy(col("doc_id"))

  /** Corpus token frequencies (query t5): explode words, count, top-k.
    * The explode shuffles (word, partial-count) pairs after map-side
    * combine — vocabulary-sized shuffle, not corpus-sized.
    */
  def topTokens(spark: SparkSession, dir: String, k: Int = 20): DataFrame =
    Tables.documents(spark, dir)
      .select(explode(words(col("text"))).as("word"))
      .groupBy(col("word"))
      .agg(count(lit(1)).as("n"))
      .orderBy(desc("n"), asc("word"))
      .limit(k)

  /** Document fingerprint (query t4): Rabin-Karp rolling hash via the
    * native Catalyst expression — stays inside WholeStageCodegen.
    */
  def fingerprints(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .select(col("doc_id"),
        PolyFingerprint.fingerprint(col("text")).as("fingerprint"))
      .orderBy(col("doc_id"))

  /** Gated t12: winnowing fingerprints (the MOSS scheme) — hash every
    * POSITIONAL word 3-gram (no dedup; position matters), slide a
    * window of `w` hashes, keep each window's minimum, dedup the
    * selected set. Winnowing guarantees any shared run of
    * w+k-1 words between two documents shares a fingerprint, at ~2/(w+1)
    * the density of full shingling — the standard sub-linear dedup
    * sketch when MinHash's fixed signature width is too coarse.
    *
    * The word hash is the cross-engine md5-60bit prefix (same as dd3),
    * so the whole selection pipeline is hash-checked against the
    * oracle's list-fold mirror. Emitted per doc: fingerprint count +
    * min/max fingerprint (order-invariant aggregates of the set).
    */
  def winnowingFingerprints(spark: SparkSession, dir: String,
                            w: Int = 4): DataFrame =
    winnowFrom(Tables.documents(spark, dir)
        .select(col("doc_id"), words(col("text")).as("ws")), w)
      .select(col("doc_id"),
        size(col("fps")).as("n_fp"),
        array_min(col("fps")).as("min_fp"),
        array_max(col("fps")).as("max_fp"))
      .orderBy(col("doc_id"))

  /** Winnowing over a (doc_id, ws: array<string>) frame, as STAGED
    * projections — grams and hashes land as their own bound columns
    * before the selection references them repeatedly (an inline
    * expression tree would recompute the md5 array once per reference;
    * CollapseProject keeps non-cheap multiply-referenced aliases
    * staged). Adds a `fps` column: positional 3-gram md5-60bit hashes
    * → per-window minima → distinct; fewer hashes than one window
    * keeps them all (standard winnowing behavior for short docs).
    */
  def winnowFrom(docWords: DataFrame, w: Int = 4): DataFrame =
    docWords
      .withColumn("grams",
        when(size(col("ws")) >= 3,
          transform(sequence(lit(0), size(col("ws")) - lit(3)),
            i => concat_ws(" ", slice(col("ws"), i + lit(1), lit(3)))))
          .otherwise(array().cast("array<string>")))
      .withColumn("hs", transform(col("grams"),
        g => conv(substring(md5(g), 1, 15), 16, 10).cast("long")))
      .withColumn("fps",
        when(size(col("hs")) >= w,
          array_distinct(transform(sequence(lit(0), size(col("hs")) - lit(w)),
            j => array_min(slice(col("hs"), j + lit(1), lit(w))))))
          .otherwise(array_distinct(col("hs"))))
      .drop("grams", "hs")

  /** Balanced source mixture (gate mx1): every LLM data recipe weights
    * its sources; this computes a deterministic balanced mixture —
    * each source contributes ≈ the smallest source's token mass, via a
    * per-source md5-threshold Bernoulli sample (the [[hashSample]]
    * mechanism with a data-derived rate). Deterministic end to end:
    * rates come from exact integer token counts, thresholds are 4-hex
    * md5 prefixes, so the sampled set is stable across runs, engines,
    * and partitionings — a retried job resamples identically.
    * Scale shape: one token-count aggregation (map-side combinable),
    * a #sources-row rate table broadcast back, one filtered pass.
    */
  def sourceMixture(spark: SparkSession, dir: String): DataFrame = {
    val t = Tables.documents(spark, dir)
      .select(col("source"), col("doc_id"),
        size(words(col("text"))).cast("long").as("n_tokens"),
        substring(md5(col("doc_id").cast("string")), 1, 4).as("h4"))
    val s = t.groupBy(col("source")).agg(sum(col("n_tokens")).as("src_tokens"))
    // Budget is ONE scalar — a control-plane collect (like the CC
    // convergence sum or CMS counters), not a 1-row crossJoin that
    // would plan as a BroadcastNestedLoopJoin.
    val budget = s.agg(min(col("src_tokens"))).collect()(0).getLong(0)
    val r = s
      .withColumn("rate",
        least(lit(budget).cast("double") / col("src_tokens").cast("double"), lit(1.0)))
      // rate = 1 keeps everything: 'zzzz' sorts after every hex string,
      // so the threshold filter passes all rows (a 0xffff threshold
      // would silently drop the h4 = 'ffff' docs).
      .withColumn("thr", when(col("rate") >= 1.0, lit("zzzz"))
        .otherwise(format_string("%04x", floor(col("rate") * 65536).cast("int"))))
      .select(col("source"), col("src_tokens"), col("rate"), col("thr"))
    val kept = t.join(broadcast(r.select(col("source"), col("thr"))), Seq("source"))
      .filter(col("h4") < col("thr"))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("nd"), sum(col("n_tokens")).as("nt"))
    r.join(kept, Seq("source"), "left")
      .select(col("source"), col("src_tokens"), round(col("rate"), 6).as("rate"),
        coalesce(col("nd"), lit(0L)).as("n_docs_sampled"),
        coalesce(col("nt"), lit(0L)).as("n_tokens_sampled"))
      .orderBy(col("source"))
  }

  /** Gated rs1: fixed-SIZE deterministic uniform sample — exactly k
    * documents chosen by md5 priority (smallest hashes win), the
    * reservoir-sampling contract without randomness: reproducible
    * across runs/engines/retries, and at scale a TakeOrderedAndProject
    * (per-partition top-k, k rows to the driver) rather than a sort.
    * Complements rate-based sa1 and weighted ws1.
    */
  def fixedSizeSample(spark: SparkSession, dir: String, k: Int = 25): DataFrame =
    Tables.documents(spark, dir)
      .select(col("doc_id"), md5(col("doc_id").cast("string")).as("priority"))
      .orderBy(col("priority"), col("doc_id"))
      .limit(k)

  /** The gate's blocklist dictionary: 12 corpus-vocabulary words, all
    * BORDER-FREE (no proper prefix equal to a suffix), so overlapping
    * and non-overlapping match counts coincide and the DuckDB oracle
    * can restate the kernel with per-pattern split counts.
    */
  final val BlockPatterns: Seq[String] = Seq(
    "scan", "column", "order", "sort", "join", "merge",
    "group", "query", "stream", "filter", "batch", "vector")

  /** Gated t17: BLOCKLIST SCAN via the Aho–Corasick kernel — the
    * taboo-term/contamination-marker pass every pretraining curation
    * pipeline runs over every document, as ONE text walk regardless of
    * dictionary size (the naive shape is one contains()/regexp pass
    * per term: N corpus scans). Per source: total match positions,
    * documents tripping at least one term, and the summed distinct-
    * terms-per-doc signal. The automaton is built once at plan time
    * and rides the serialized plan; per-row cost is O(|text| +
    * matches) inside whole-stage codegen — at 100 TB this is a
    * map-only pass with a 3-row-per-source aggregation on top.
    * Kernel semantics (all match positions, overlapping included) are
    * spec-pinned against a brute scan including the overlap cases the
    * gate's border-free dictionary deliberately avoids.
    */
  def blocklistStats(spark: SparkSession, dir: String): DataFrame = {
    import graft.functions.AhoCorasickExpr.{acCount, acDistinct}
    Tables.documents(spark, dir)
      .select(col("source"),
        acCount(lower(col("text")), BlockPatterns).as("hits"),
        acDistinct(lower(col("text")), BlockPatterns).as("terms"))
      .groupBy(col("source"))
      .agg(sum(col("hits")).as("total_hits"),
        sum(when(col("hits") > 0, 1L).otherwise(0L)).as("n_docs_hit"),
        sum(col("terms")).as("sum_distinct_terms"))
      .orderBy(col("source"))
  }

  /** Gated c8: CURATION CAPSTONE v4 — the round-9 text ops composed
    * into one pipeline: (1) the Aho–Corasick blocklist pass drops
    * every document tripping ≥ 11 distinct dictionary terms (the
    * "too much SQL-manual boilerplate" cut on this corpus); (2) the
    * survivors are WEIGHTED-SAMPLED without replacement (A-ES keys,
    * [[weightedSample]]'s construction) to a 100-doc budget,
    * proportional to length — the mixture step that keeps long docs
    * from being under-represented under a doc-count budget; (3) the
    * readout is the per-source sample composition (docs + chars) the
    * corpus card reports. One codegen'd scan for (1)+(2)'s keys, one
    * TakeOrderedAndProject for the budget, a 20-row aggregation on
    * top — the whole capstone is two passes at any corpus scale.
    */
  def curationV4(spark: SparkSession, dir: String,
                 budget: Int = 100, maxTerms: Int = 11): DataFrame = {
    import graft.functions.AhoCorasickExpr.acDistinct
    val u = (conv(substring(md5(col("doc_id").cast("string")), 1, 8), 16, 10)
      .cast("double") + lit(0.5)) / lit(4294967296.0)
    val clean = Tables.documents(spark, dir)
      .filter(col("n_chars") > 0)
      .filter(acDistinct(lower(col("text")), BlockPatterns) < maxTerms)
    val sample = clean
      .select(col("doc_id"), col("source"), col("n_chars"),
        (log(u) / col("n_chars")).as("k0"))
      .orderBy(desc("k0"), asc("doc_id"))
      .limit(budget)
    sample.groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_chars")).as("sum_chars"))
      .orderBy(col("source"))
  }


  /** Gated hh1: per-group HEAVY HITTERS — top-3 tokens per source via
    * a grouped count + rank window; the per-stratum vocabulary
    * summary corpus cards report. The rank filter hits Spark's
    * WindowGroupLimit pushdown (see w9), so each map partition ships
    * only its local top-k per source.
    */
  def topTokensPerSource(spark: SparkSession, dir: String, k: Int = 3): DataFrame = {
    val counts = Tables.documents(spark, dir)
      .select(col("source"), explode(words(col("text"))).as("w"))
      .groupBy(col("source"), col("w"))
      .agg(count(lit(1)).as("n"))
    val rk = org.apache.spark.sql.expressions.Window
      .partitionBy(col("source")).orderBy(desc("n"), asc("w"))
    counts.withColumn("rank", row_number().over(rk))
      .filter(col("rank") <= k)
      .orderBy(col("source"), col("rank"))
  }

  /** Gated fh1: FEATURE HASHING (the hashing trick) — project sparse
    * token counts into a fixed 32-dim count vector per document via a
    * hash of the token, no vocabulary table needed. The streaming-
    * friendly featurization classic (Weinberger et al.): dimension =
    * md5(token) mod 32, so both engines bucket identically, and at
    * any corpus scale the feature space stays fixed-width with zero
    * global state. One generator + one (doc, dim) count shuffle.
    */
  def featureHashing(spark: SparkSession, dir: String,
                     dims: Int = 32, maxDocId: Long = 10): DataFrame =
    Tables.documents(spark, dir)
      .filter(col("doc_id") < maxDocId)
      .select(col("doc_id"), explode(words(col("text"))).as("w"))
      .select(col("doc_id"),
        (conv(substring(md5(col("w")), 1, 6), 16, 10).cast("long") % lit(dims))
          .cast("int").as("dim"))
      .groupBy(col("doc_id"), col("dim"))
      .agg(count(lit(1)).as("n"))
      .orderBy(col("doc_id"), col("dim"))

  /** Gated pmi1: POINTWISE MUTUAL INFORMATION collocations — the
    * statistical phrase-mining pass ("new york"-style multiword
    * units) tokenizer and n-gram pipelines run before vocabulary
    * induction. PMI = ln(P(w1,w2)/(P(w1)P(w2))) over the bigram
    * stream, min-count 5 to kill noise pairs, top-k.
    *
    * Scale shape: the bigram/marginal counts are the same three
    * map-side-combinable aggregations as the bigram LM; the scoring
    * join keys on the tokens. Probabilities are ratios of exact
    * integer counts (products ≤ Nb² fit a double exactly at these
    * magnitudes — and the ln(round 6) convention absorbs libm drift).
    */
  def pmiCollocations(spark: SparkSession, dir: String,
                      minCount: Long = 5, k: Int = 20): DataFrame = {
    val bigrams = Tables.documents(spark, dir)
      .select(words(col("text")).as("ws"))
      .filter(size(col("ws")) >= 2)
      .select(explode(transform(sequence(lit(0), size(col("ws")) - lit(2)),
        i => struct(element_at(col("ws"), i + lit(1)).as("w1"),
          element_at(col("ws"), i + lit(2)).as("w2")))).as("bg"))
      .select(col("bg.w1"), col("bg.w2"))
    val nb = bigrams.count() // control-plane scalar
    val c2 = bigrams.groupBy(col("w1"), col("w2")).agg(count(lit(1)).as("c12"))
    val ch = bigrams.groupBy(col("w1")).agg(count(lit(1)).as("c1"))
    val ct = bigrams.groupBy(col("w2")).agg(count(lit(1)).as("c2t"))
    c2.filter(col("c12") >= minCount)
      .join(ch, "w1").join(ct, "w2")
      .select(col("w1"), col("w2"), col("c12"),
        round(log((col("c12").cast("double") * lit(nb.toDouble))
          / (col("c1").cast("double") * col("c2t"))), 6).as("pmi"))
      .orderBy(desc("pmi"), asc("w1"), asc("w2"))
      .limit(k)
  }

  /** Gated mx2: TEMPERATURE-scaled mixture weights — the multilingual/
    * multi-source training-mix math (share^(1/T) renormalized, T=2):
    * up-weights tail sources relative to proportional sampling without
    * letting any head source dominate. Output per source: raw token
    * share, temperature weight, and the effective token budget the
    * weight implies.
    *
    * Scale shape: one token-count aggregation (map-side combinable)
    * → a source-cardinality table; everything after is arithmetic on
    * that tiny frame. The weight normalizer accumulates as
    * DECIMAL(20,8) so the cross-source sum is order-independent;
    * sqrt is IEEE-exact, so both engines derive identical weights.
    */
  def temperatureMixture(spark: SparkSession, dir: String): DataFrame = {
    val s = Tables.documents(spark, dir)
      .select(col("source"), size(words(col("text"))).cast("long").as("n"))
      .groupBy(col("source")).agg(sum(col("n")).as("src_tokens"))
    // control-plane scalar, same rationale as sourceMixture's budget
    val total = s.agg(sum(col("src_tokens"))).head.getLong(0)
    val w = s.select(col("source"), col("src_tokens"),
      (col("src_tokens").cast("double") / lit(total.toDouble)).as("share"))
      .withColumn("sw", sqrt(col("share")))
    val z = w.agg(
      sum(round(col("sw"), 8).cast("decimal(20,8)")).cast("double").as("zsum"))
      .head.getDouble(0)
    w.select(col("source"), col("src_tokens"),
        round(col("share"), 6).as("share"),
        round(col("sw") / lit(z), 6).as("weight"),
        round(col("sw") / lit(z) * lit(total.toDouble), 0)
          .cast("long").as("eff_tokens"))
      .orderBy(col("source"))
  }

  /** Gated mx3: MIXTURE SAMPLE MATERIALIZATION — the step [[temperatureMixture]]
    * stops short of: turn the temperature weights into an ACTUAL
    * document sample. Each source gets a deterministic acceptance
    * threshold t_s = floor(2^32 · B · W_s / (Z · n_s)) (B = the 20%
    * token budget, W_s = the source's 8-dp-quantized temperature
    * weight, n_s = its token count, Z = ΣW_s) and a document is
    * selected iff the first 8 hex digits of md5(doc_id) fall below
    * its source's threshold — Bernoulli by RATE, not per-source
    * top-k, so no per-source sort and no data-sized window partition
    * exists anywhere: the selection is one broadcast join plus a
    * map-side integer compare, and the expected selected token mass
    * per source is exactly the budget share the weights imply.
    *
    * Determinism across engines: share and sqrt are IEEE binary64
    * (bit-identical in Spark and DuckDB), the weight is quantized
    * through floor(round(·,8)·1e8) into a BIGINT before any further
    * arithmetic, the threshold chain is written with explicit
    * parentheses so both engines evaluate the same float ops in the
    * same order, and the final compare is integer-vs-integer.
    */
  def mixtureSample(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
      .select(col("doc_id"), col("source"),
        size(words(col("text"))).cast("long").as("n_words"))
    val s = docs.groupBy(col("source")).agg(sum(col("n_words")).as("src_tokens"))
    // control-plane scalars (source-cardinality frame, ≤ #sources rows)
    val total = s.agg(sum(col("src_tokens"))).head.getLong(0)
    val budget = total / 5
    val w = s.withColumn("wq",
      floor(round(sqrt(col("src_tokens").cast("double") / lit(total.toDouble)), 8)
        * lit(1e8)))
    val z = w.agg(sum(col("wq"))).head.getLong(0)
    val thr = w.select(col("source"),
      floor(lit(4294967296.0) * (lit(budget.toDouble) * (col("wq").cast("double")
        / (lit(z.toDouble) * col("src_tokens").cast("double"))))).as("t"))
    docs.join(broadcast(thr), "source")
      .filter(conv(substring(md5(col("doc_id").cast("string")), 1, 8), 16, 10)
        .cast("long") < col("t"))
      .select(col("doc_id"), col("source"), col("n_words"))
      .orderBy(col("doc_id"))
  }

  /** BPE merge-candidate induction (gate bp1): the first step of
    * byte-pair-encoding tokenizer training — count adjacent symbol
    * pairs (here: character bigrams inside words, weighted by word
    * occurrences) across the corpus and rank merge candidates. One
    * generator + one count shuffle on fine-grained pair keys; at
    * corpus scale this is exactly the distributed pair-count pass a
    * BPE trainer iterates.
    */
  def bpePairCounts(spark: SparkSession, dir: String, k: Int = 20): DataFrame =
    Tables.documents(spark, dir)
      .select(explode(words(col("text"))).as("word"))
      .select(explode(when(length(col("word")) >= 2,
        transform(sequence(lit(1), length(col("word")) - 1),
          i => col("word").substr(i, lit(2))))
        .otherwise(array().cast("array<string>"))).as("pair"))
      .groupBy(col("pair")).agg(count(lit(1)).as("n"))
      .orderBy(desc("n"), asc("pair"))
      .limit(k)

  /** Gated bp2: the BPE TRAINING LOOP itself — iterative greedy merge
    * induction, the algorithm behind every modern tokenizer's vocab.
    * Each step counts adjacent-pair frequencies over the CURRENT
    * tokenization, picks the argmax pair (deterministic tiebreak:
    * count desc, then lexicographic), and merges every occurrence
    * corpus-wide; the output is the learned merge table.
    *
    * The corpus-wide merge uses a marker encoding that both engines
    * replay exactly: a document is the concatenation of
    * `||token`, so the pair (a,b) occurs iff the string
    * `SEP+a+SEP+b` occurs, and `replace()` (left-to-right,
    * non-overlapping in Spark and DuckDB alike) applies the greedy
    * merge in one pass — `SEP+a+b` then tokenizes as the single
    * merged token. Start markers make cross-token false matches
    * impossible (`..xa|b..` does not contain `SEP+a+SEP+b`).
    *
    * Scale shape: per step, ONE map-side-combinable pair count over
    * the corpus and ONE argmax row to the driver (control plane);
    * the merge itself is a per-row string expression, no shuffle.
    * This is exactly how distributed BPE trainers iterate at corpus
    * scale — the candidate table never leaves the cluster.
    */
  def bpeTrain(spark: SparkSession, dir: String, steps: Int = 3): DataFrame = {
    val SEP = "\u001E"
    val docs = Tables.documents(spark, dir)
      .select(col("doc_id"),
        concat(lit(SEP), array_join(words(col("text")), SEP)).as("s"))
    val merges = scala.collection.mutable.ArrayBuffer.empty[(Int, String, String, Long)]
    // Each step's merged corpus is materialized (its count) before
    // the previous one is released.
    Pins.scope { p => p(Pins.rounds(docs, steps, cutEvery = 0) { (cur, step) =>
      val top = cur
        .select(filter(split(col("s"), SEP), x => x =!= "").as("ws"))
        .select(explode(when(size(col("ws")) >= 2,
          transform(sequence(lit(0), size(col("ws")) - lit(2)),
            i => struct(element_at(col("ws"), i + lit(1)).as("w1"),
              element_at(col("ws"), i + lit(2)).as("w2"))))
          .otherwise(array().cast("array<struct<w1:string,w2:string>>"))).as("p"))
        .groupBy(col("p.w1").as("w1"), col("p.w2").as("w2"))
        .agg(count(lit(1)).as("n"))
        .orderBy(desc("n"), asc("w1"), asc("w2"))
        .limit(1).head() // argmax only — the control-plane transfer
      val (w1, w2, n) = (top.getString(0), top.getString(1), top.getLong(2))
      merges += ((step, w1, w2, n))
      cur.select(col("doc_id"),
        call_function("replace", col("s"),
          lit(SEP + w1 + SEP + w2), lit(SEP + w1 + w2)).as("s"))
    } { (next, _, _) => next.count(); true }) }
    import scala.jdk.CollectionConverters._
    spark.createDataFrame(
      merges.map { case (st, w1, w2, n) =>
        org.apache.spark.sql.Row(st, w1, w2, n) }.asJava,
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("step",
          org.apache.spark.sql.types.IntegerType),
        org.apache.spark.sql.types.StructField("w1",
          org.apache.spark.sql.types.StringType),
        org.apache.spark.sql.types.StructField("w2",
          org.apache.spark.sql.types.StringType),
        org.apache.spark.sql.types.StructField("n",
          org.apache.spark.sql.types.LongType))))
      .orderBy(col("step"))
  }

  /** Vocabulary token-id encoding (gate t14): the tokenize→ids step a
    * training pipeline runs last — build a frequency-ranked vocabulary
    * over the FULL corpus (deterministic tiebreak: count desc, word
    * asc), then map every token position to its id (0 = OOV). At scale
    * the vocabulary is dimension-sized and broadcasts; the encode pass
    * is one generator + one broadcast hash join, no corpus shuffle.
    * Output exploded to (doc, pos, word, id) rows over a bounded doc
    * range to keep the gate small.
    */
  def vocabEncode(spark: SparkSession, dir: String,
                  vocabSize: Int = 25, maxDocId: Long = 50): DataFrame = {
    val toks = Tables.documents(spark, dir)
      .select(col("doc_id"), posexplode(words(col("text"))))
      .select(col("doc_id"), (col("pos") + 1).cast("int").as("pos"),
        col("col").as("word"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(Ranks.boundedOnePartition(col("word")))
      .orderBy(desc("n"), asc("word"))
    val vocab = toks.groupBy(col("word")).agg(count(lit(1)).as("n"))
      .withColumn("id", row_number().over(w))
      .filter(col("id") <= vocabSize)
      .select(col("word"), col("id"))
    toks.filter(col("doc_id") < maxDocId)
      .join(broadcast(vocab), Seq("word"), "left")
      .select(col("doc_id"), col("pos"), col("word"),
        coalesce(col("id"), lit(0)).as("token_id"))
      .orderBy(col("doc_id"), col("pos"))
  }

  /** Gated tok1: ENCODE→DECODE round-trip invariant — token ids from
    * a full-coverage vocabulary decode back to the exact normalized
    * text (tokens joined by single spaces). The lossless-ness
    * contract every id-encoded training shard must satisfy; emitted
    * as a per-corpus attestation row so a single flipped id fails
    * the gate.
    */
  def encodeRoundtrip(spark: SparkSession, dir: String,
                      maxDocId: Long = 50): DataFrame = {
    val toks = Tables.documents(spark, dir)
      .select(col("doc_id"), posexplode(words(col("text"))))
      .select(col("doc_id"), col("pos"), col("col").as("word"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(Ranks.boundedOnePartition(col("word")))
      .orderBy(desc("n"), asc("word"))
    val vocab = toks.groupBy(col("word")).agg(count(lit(1)).as("n"))
      .withColumn("id", row_number().over(w))
      .select(col("word"), col("id"))
    val decoded = toks.filter(col("doc_id") < maxDocId)
      .join(broadcast(vocab), Seq("word"))
      .join(broadcast(vocab.select(col("id"), col("word").as("decoded_word"))),
        Seq("id"))
      .groupBy(col("doc_id"))
      .agg(concat_ws(" ", transform(
        array_sort(collect_list(struct(col("pos"), col("decoded_word")))),
        s => s.getField("decoded_word"))).as("decoded"))
    val original = Tables.documents(spark, dir)
      .filter(col("doc_id") < maxDocId)
      .select(col("doc_id"),
        concat_ws(" ", words(col("text"))).as("normalized"))
    original.join(decoded, Seq("doc_id"))
      .agg(count(lit(1)).as("n_docs"),
        sum(when(col("decoded") === col("normalized"), 1).otherwise(0))
          .as("n_roundtrip_ok"))
  }

  /** Repetition quality signals (gate t13) — the Gopher-style
    * within-document repetition filters: type-token ratio, fraction of
    * bigram occurrences that are repeats, and the dominant bigram with
    * its occurrence share. Docs scoring high on repetition are
    * degenerate (keyboard mash, SEO spam, template loops) and get
    * filtered before training.
    *
    * Scale design: computing a per-doc mode with array higher-order
    * functions is O(len²) per doc (HOFs are interpreted, and counting
    * each element rescans the array) — unusable on long web docs.
    * Instead unigrams and bigrams EXPLODE into one row stream in a
    * single pass (one generator, kind-tagged), count by
    * (doc, kind, gram) with map-side partial aggregation, then reduce
    * per doc. Keys are fine-grained, so no skew; text never shuffles.
    */
  def repetitionStats(spark: SparkSession, dir: String): DataFrame = {
    val ws = col("ws")
    val grams = Tables.documents(spark, dir)
      .select(col("doc_id"), words(col("text")).as("ws"))
      .select(col("doc_id"), explode(concat(
        transform(ws, w => struct(lit(1).as("kind"), w.as("gram"))),
        when(size(ws) >= 2,
          transform(sequence(lit(0), size(ws) - lit(2)),
            i => struct(lit(2).as("kind"),
              concat_ws(" ", slice(ws, i + lit(1), lit(2))).as("gram"))))
          .otherwise(array().cast("array<struct<kind:int,gram:string>>")))).as("g"))
      .select(col("doc_id"), col("g.kind").as("kind"), col("g.gram").as("gram"))
    val counts = grams.groupBy(col("doc_id"), col("kind"), col("gram"))
      .agg(count(lit(1)).as("c"))
    val perDoc = counts.groupBy(col("doc_id"))
      .agg(
        sum(when(col("kind") === 1, col("c"))).as("n_words"),
        count(when(col("kind") === 1, lit(1))).as("n_distinct_words"),
        sum(when(col("kind") === 2, col("c"))).as("n_bi"),
        count(when(col("kind") === 2, lit(1))).as("n_distinct_bi"))
    val topW = org.apache.spark.sql.expressions.Window
      .partitionBy(col("doc_id")).orderBy(desc("c"), asc("gram"))
    val top = counts.filter(col("kind") === 2)
      .withColumn("rn", row_number().over(topW))
      .filter(col("rn") === 1)
      .select(col("doc_id"), col("gram").as("top_bigram"), col("c").as("top_n"))
    perDoc.join(top, Seq("doc_id"))
      .select(col("doc_id"), col("n_words"),
        round(col("n_distinct_words").cast("double") / col("n_words").cast("double"), 6)
          .as("ttr"),
        round((col("n_bi") - col("n_distinct_bi")).cast("double") / col("n_bi").cast("double"), 6)
          .as("dup_bigram_frac"),
        col("top_bigram"),
        round(col("top_n").cast("double") / col("n_bi").cast("double"), 6)
          .as("top_bigram_frac"))
      .orderBy(col("doc_id"))
  }

  /** Gate t15: Unicode NFC normalization via the native
    * [[graft.functions.NfcNormalizeExpr]] kernel. The corpus text is
    * ASCII, so the gate PLANTS a decomposed suffix on every doc
    * (`"e" + U+0301 + "f"`, the canonical composed/decomposed pair):
    * normalization must fuse it to `"é" + "f"`, shortening the string
    * by exactly one codepoint. Oracle = DuckDB's `nfc_normalize` on
    * the identically-built string — a cross-engine check that the
    * kernel implements the real UAX#15 composition, not a lookalike.
    *
    * Scale: per-row expression inside WholeStageCodegen, no shuffle;
    * the ASCII fast path means real corpora pay one byte/char-count
    * compare per row.
    */
  def nfcNormalizeGate(spark: SparkSession, dir: String): DataFrame = {
    // U+0301 as a literal: Spark's chr() is ASCII-mod-256 (chr(769) =
    // chr(1)), unlike DuckDB's codepoint chr — don't use it here.
    val raw = concat(substring(col("text"), 1, 12), lit("éf"))
    Tables.documents(spark, dir)
      .select(col("doc_id"), raw.as("raw"))
      .select(col("doc_id"),
        length(col("raw")).as("len_raw"),
        graft.functions.NfcNormalizeExpr.nfcNormalize(col("raw")).as("normalized"))
      .withColumn("len_norm", length(col("normalized")))
      .orderBy(col("doc_id"))
  }

  /** Gated vj1: SOURCE VOCABULARY OVERLAP — pairwise Jaccard and
    * containment between sources' word vocabularies, the corpus
    * diagnostic that tells a mixture designer whether two sources are
    * near-duplicates of each other (high containment) or genuinely
    * complementary (low Jaccard) BEFORE committing mixture weights
    * (mx1). Scale shape: the corpus collapses to the DISTINCT
    * (source, word) vocabulary first — everything after (sizes, the
    * intersection self-join on word, the ratio math) runs on
    * vocabulary-cardinality frames, and sizes broadcast onto the
    * ≤ sources² pair rows. Ratios divide exact BIGINT counts.
    */
  def vocabOverlap(spark: SparkSession, dir: String): DataFrame =
      Pins.local(spark) { p =>
    // vocabulary-sized; released after the ≤ sources² row collect
    val vocab = p(Tables.documents(spark, dir)
      .select(col("source"), explode(words(col("text"))).as("word"))
      .distinct())
    val sizes = vocab.groupBy(col("source")).agg(count(lit(1)).as("n"))
    val a = vocab.select(col("source").as("sa"), col("word"))
    val b = vocab.select(col("source").as("sb"), col("word"))
    val pairs = a.join(b, Seq("word")).filter(col("sa") < col("sb"))
      .groupBy(col("sa"), col("sb")).agg(count(lit(1)).as("n_common"))
    pairs
      .join(broadcast(sizes.select(col("source").as("sa"), col("n").as("n_a"))), "sa")
      .join(broadcast(sizes.select(col("source").as("sb"), col("n").as("n_b"))), "sb")
      .select(col("sa"), col("sb"), col("n_a"), col("n_b"), col("n_common"),
        round(col("n_common").cast("double")
          / (col("n_a") + col("n_b") - col("n_common")).cast("double"), 6)
          .as("jaccard"),
        round(col("n_common").cast("double")
          / least(col("n_a"), col("n_b")).cast("double"), 6)
          .as("containment"))
      .orderBy(col("sa"), col("sb"))
  }

  /** Gated dsir1: DSIR-STYLE IMPORTANCE WEIGHTS (Xie et al. 2023,
    * "Data Selection for Language Models via Importance Resampling") —
    * score every document by how target-like its hashed n-gram
    * distribution is, the selection signal used to up-sample
    * domain-relevant raw data before pretraining. Target here = the
    * `en` slice; features = md5-bucketed word unigrams (the fh1 hash,
    * `dims` buckets); per-bucket log-likelihood ratio
    * ln(p̂_target(b)/p̂_raw(b)) under add-one smoothing.
    *
    * Numeric contract: bucket counts are exact BIGINTs; each bucket's
    * log-ratio is computed once, rounded to 6, and CAST to
    * DECIMAL(38,6) — per-document weights are then DECIMAL sums of
    * (occurrence count × bucket weight), exactly order-invariant, so
    * the per-source readout hash-matches however Spark partitions the
    * token stream.
    *
    * Scale shape: two map-side-combinable token aggregations build a
    * `dims`-row weight table (broadcast); documents fold to
    * (doc, bucket) counts — the only corpus-sized shuffle, keyed and
    * combinable — then join the broadcast table and collapse to
    * doc → source. The target/raw totals are 1-row control-plane
    * scalars. Nothing grows with corpus size except the linear passes.
    */
  def dsirWeights(spark: SparkSession, dir: String,
                  dims: Int = 64, targetLang: String = "en"): DataFrame = {
    val tok = Tables.documents(spark, dir)
      .select(col("doc_id"), col("source"), col("lang"),
        explode(words(col("text"))).as("w"))
      .select(col("doc_id"), col("source"), col("lang"),
        (conv(substring(md5(col("w")), 1, 6), 16, 10).cast("long")
          % lit(dims)).cast("int").as("b"))
    val rc = tok.groupBy(col("b")).agg(count(lit(1)).as("cr"))
    val tc = tok.filter(col("lang") === targetLang)
      .groupBy(col("b")).agg(count(lit(1)).as("ct"))
    val nr = rc.agg(sum(col("cr"))).head().getLong(0) // control-plane scalar
    val nt = tc.agg(sum(col("ct"))).head().getLong(0) // control-plane scalar
    val wts = rc.join(tc, Seq("b"), "left")
      .select(col("b"),
        round(log(((coalesce(col("ct"), lit(0L)) + 1).cast("double")
            * lit((nr + dims).toDouble))
          / ((col("cr") + 1).cast("double") * lit((nt + dims).toDouble))), 6)
          .cast("decimal(38,6)").as("lw"))
    val perDoc = tok.groupBy(col("doc_id"), col("source"), col("b"))
      .agg(count(lit(1)).as("cnt"))
      .join(broadcast(wts), Seq("b"))
      .groupBy(col("doc_id"), col("source"))
      .agg(sum(col("cnt") * col("lw")).as("dlw"))
    perDoc.groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
        round(sum(col("dlw")).cast("double"), 6).as("sum_lw"),
        sum(when(col("dlw") > 0, 1).otherwise(0)).cast("long").as("n_pos"))
      .orderBy(col("source"))
  }

  /** Gated vg1: VOCABULARY GROWTH CURVE (Heaps'-law readout) — V(n),
    * the distinct-vocabulary size after the first n documents in
    * doc_id order, and T(n), the cumulative token count, sampled at
    * `points` evenly-spaced checkpoints. The curve a tokenizer team
    * reads before freezing a vocab size, and the corpus-level dedup
    * tripwire (a V(n) plateau = the crawl started repeating itself).
    *
    * The naive plan — distinct-count per prefix — is n scans (or a
    * quadratic self-join). The scalable identity: a token contributes
    * to V(n) exactly when its FIRST-occurrence doc rank ≤ n, so
    *   V(n) = Σ_{r≤n} newTokens(r),  newTokens(r) = #{tokens whose
    *   min doc rank = r}
    * — one groupBy(token).min(rank) shuffle (the only corpus-sized
    * exchange, keyed on token), a rank-keyed count, and an exact
    * distributed prefix sum over the DOC spine
    * ([[Ranks.scan]], no single-partition window).
    * All-integer outputs hash cross-engine with no float discipline.
    */
  def vocabGrowth(spark: SparkSession, dir: String,
                  points: Int = 10): DataFrame = {
    val np = spark.conf.get("spark.sql.shuffle.partitions", "32").toInt
    val docs = Tables.documents(spark, dir)
      .select(col("doc_id"), words(lower(col("text"))).as("ws"))
      .select(col("doc_id"), size(col("ws")).as("n_tok"), col("ws"))
    // doc_id is unique; rank = dense position in doc_id order, via the
    // distributed ranking helper (doc spine is corpus-sized too).
    val (ranked, nDocs, _) = Ranks.scan(docs.select(col("doc_id"), col("n_tok")),
      Seq(col("doc_id").asc), np, Some("rnk"), Nil)
    val firstRank = docs
      .select(col("doc_id"), explode(array_distinct(col("ws"))).as("tok"))
      .groupBy(col("tok")).agg(min(col("doc_id")).as("fdoc"))
      .groupBy(col("fdoc")).agg(count(lit(1)).as("new_toks"))
    val spine = ranked
      .join(firstRank, ranked("doc_id") === firstRank("fdoc"), "left")
      .select(col("rnk"), col("n_tok"),
        coalesce(col("new_toks"), lit(0L)).as("new_toks"))
    // Both running sums share one ranged pass.
    val (withVT, _, _) = Ranks.scan(spine, Seq(col("rnk").asc), np, None,
      Seq(col("new_toks") -> "v_excl", col("n_tok") -> "t_excl"))
    val step = math.max(1L, nDocs / math.max(points, 1))
    withVT
      .withColumn("vocab", col("v_excl") + col("new_toks"))
      .withColumn("cum_tokens", col("t_excl") + col("n_tok"))
      .filter(col("rnk") % step === 0 || col("rnk") === nDocs)
      .select(col("rnk").as("n_docs"), col("cum_tokens"), col("vocab"))
      .orderBy(col("n_docs"))
  }

  /** Gated t18: the GOPHER/MassiveText rule battery (Rae et al. 2021,
    * §A1.1) — the published heuristic filter set every large-scale
    * LLM curation pipeline starts from: word-count bounds, mean word
    * length bounds, symbol-to-word ratio, bullet/ellipsis line
    * ratios, alphabetic-word fraction, and minimum distinct-stopword
    * presence. One rule diverges by necessity: the stopword list is
    * the engine's corpus-appropriate [[Stopwords]] (the synthetic
    * vocabulary lacks 6 of Gopher's 8 function words, which would
    * make the rule constant-false); the ≥2-distinct threshold and
    * every other constant match the paper.
    *
    * Every threshold is evaluated in INTEGER arithmetic (3 ≤ mean ≤
    * 10 as 3n ≤ Σlen ∧ Σlen ≤ 10n, ratio ≤ 0.1 as 10x ≤ n), so the
    * pass/fail decisions are bit-exact across engines — no float
    * boundary can flip a document. One scan, one narrow aggregation
    * keyed by source; per-doc flags never leave the map side.
    */
  def gopherRules(spark: SparkSession, dir: String): DataFrame = {
    val flagged = gopherFlags(Tables.documents(spark, dir))
    def fails(c: String): Column =
      sum(when(!col(c), 1L).otherwise(0L)).cast("bigint")
    flagged.groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
        sum(when(col("keep"), 1L).otherwise(0L)).cast("bigint").as("n_kept"),
        fails("r_wc").as("f_wordcount"),
        fails("r_mwl").as("f_meanwordlen"),
        fails("r_sym").as("f_symbol"),
        fails("r_bul").as("f_bullet"),
        fails("r_ell").as("f_ellipsis"),
        fails("r_alpha").as("f_alpha"),
        fails("r_stop").as("f_stopword"))
      .orderBy(col("source"))
  }

  /** Doc-level Gopher rule flags (+ the conjunction as `keep`) —
    * shared by the t18 readout and the c9 capstone's filter stage.
    */
  private[operators] def gopherFlags(docs: DataFrame): DataFrame = {
    val ws = col("ws")
    val lines = col("lines")
    docs
      .select(col("doc_id"), col("source"), col("text"),
        words(col("text")).as("ws"),
        split(col("text"), "\n", -1).as("lines"))
      .select(col("doc_id"), col("source"), col("text"),
        size(ws).cast("long").as("n_words"),
        aggregate(ws, lit(0L), (acc, w) => acc + length(w)).as("sum_wl"),
        size(filter(ws, w => w.rlike("[a-zA-Z]"))).cast("long").as("alpha_words"),
        (length(regexp_replace(col("text"), "[^#]", "")).cast("long")
          + size(regexp_extract_all(col("text"), lit("\\.\\.\\."), lit(0)))
            .cast("long")).as("symbols"),
        size(lines).cast("long").as("n_lines"),
        size(filter(lines, l => l.rlike("^\\s*[-*•]"))).cast("long").as("bullets"),
        size(filter(lines, l => l.rlike("(\\.\\.\\.|…)\\s*$"))).cast("long").as("ell"),
        Stopwords.map(s => array_contains(ws, s).cast("int"))
          .reduce(_ + _).as("stop_hits"))
      .select(col("doc_id"), col("source"), col("text"),
        (col("n_words").between(50L, 100000L)).as("r_wc"),
        (lit(3L) * col("n_words") <= col("sum_wl")
          && col("sum_wl") <= lit(10L) * col("n_words")).as("r_mwl"),
        (lit(10L) * col("symbols") <= col("n_words")).as("r_sym"),
        (lit(10L) * col("bullets") <= lit(9L) * col("n_lines")).as("r_bul"),
        (lit(10L) * col("ell") <= lit(3L) * col("n_lines")).as("r_ell"),
        (lit(5L) * col("alpha_words") >= lit(4L) * col("n_words")).as("r_alpha"),
        (col("stop_hits") >= 2).as("r_stop"))
      .withColumn("keep",
        col("r_wc") && col("r_mwl") && col("r_sym") && col("r_bul")
          && col("r_ell") && col("r_alpha") && col("r_stop"))
  }

  /** Gated c9: CURATION CAPSTONE v5 — the round's new primitives
    * composed into one corpus build: Gopher-rule filter
    * ([[gopherFlags]]) → exact-hash dedup keep-first → per-source
    * budget APPORTIONMENT by the largest-remainder method (Hamilton):
    * base_s = ⌊B·n_s/N⌋ by integer division, the B−Σbase leftover
    * seats go to the largest remainders B·n_s mod N (tie: source
    * asc) — the standard exact-integer answer to "hit a total budget
    * with proportional source mixture", no float quota can
    * over/under-allocate. Selection within a source is the
    * deterministic md5 order (sa1's convention). Everything is
    * integer arithmetic end to end; the card hashes.
    */
  def curationV5(spark: SparkSession, dir: String, budget: Int = 200): DataFrame =
      Pins.local(spark) { p =>
    import org.apache.spark.sql.expressions.Window
    val kept = gopherFlags(Tables.documents(spark, dir))
      .filter(col("keep"))
      .select(col("doc_id"), col("source"), col("text"))
    val deduped = p(kept
      .withColumn("h", md5(col("text")))
      .withColumn("dr", row_number().over(
        Window.partitionBy(col("h")).orderBy(col("doc_id"))))
      .filter(col("dr") === 1)
      .select(col("doc_id"), col("source"),
        size(words(col("text"))).cast("long").as("n_words")))
    val avail = deduped.groupBy(col("source"))
      .agg(count(lit(1)).as("available"))
    val wSrc = Window.partitionBy(Ranks.boundedOnePartition(col("source")))
    val quotas = avail
      .withColumn("total", sum(col("available")).over(wSrc))
      .withColumn("base", expr(s"available * $budget div total"))
      .withColumn("rem", expr(s"available * $budget % total"))
      .withColumn("extra_rank", row_number().over(
        wSrc.orderBy(desc("rem"), asc("source"))))
      .withColumn("extras", lit(budget) - sum(col("base")).over(wSrc))
      .withColumn("allocated",
        col("base") + when(col("extra_rank") <= col("extras"), 1L)
          .otherwise(0L))
      .select(col("source"), col("available"), col("allocated"))
    val picked = deduped
      .withColumn("pr", row_number().over(
        Window.partitionBy(col("source"))
          .orderBy(md5(col("doc_id").cast("string")), col("doc_id"))))
      .join(broadcast(quotas), "source")
      .filter(col("pr") <= col("allocated"))
    picked.groupBy(col("source"))
      .agg(max(col("available")).as("available"),
        max(col("allocated")).as("allocated"),
        count(lit(1)).as("picked_docs"),
        sum(col("n_words")).cast("bigint").as("sum_words"))
      .orderBy(col("source"))
  }
}
