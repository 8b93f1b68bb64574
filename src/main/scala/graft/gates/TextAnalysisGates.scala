package graft.gates

import graft.operators.TextAnalysis
import Oracles.{sqlList, langidCtes}

/** The gates of [[graft.operators.TextAnalysis]]: each run with its DuckDB oracle. */
object TextAnalysisGates {
  val gates: Seq[Gate] = Seq(
    Gate("t1_token_stats", (s, d) => TextAnalysis.tokenStats(s, d),
      s"""SELECT doc_id,
         |  CAST(len(regexp_split_to_array(trim(text), '\\s+')) AS BIGINT) AS n_words,
         |  CAST(len(regexp_extract_all(text, '${TextAnalysis.TokenPattern}')) AS BIGINT) AS n_tokens,
         |  CAST(length(text) AS BIGINT) AS n_chars_measured
         |FROM documents ORDER BY doc_id""".stripMargin),
    Gate("t2_quality_score", (s, d) => TextAnalysis.qualityScore(s, d),
      s"""WITH w AS (SELECT doc_id, text,
         |    regexp_split_to_array(trim(text), '\\s+') AS ws FROM documents),
         |m AS (SELECT doc_id,
         |    CAST(length(text) AS DOUBLE) AS n_chars,
         |    CAST(len(ws) AS DOUBLE) AS n_words,
         |    CAST(length(regexp_replace(text, '[^.!?,;:]', '', 'g')) AS DOUBLE) AS punct,
         |    CAST(len(list_filter(ws, x -> x IN (${sqlList(TextAnalysis.Stopwords)}))) AS DOUBLE) AS stop
         |  FROM w)
         |SELECT doc_id,
         |  CAST(n_chars AS BIGINT) AS n_chars_measured,
         |  CAST(n_words AS BIGINT) AS n_words,
         |  round(n_chars / n_words, 6) AS mean_word_len,
         |  round(punct / n_chars, 6) AS punct_ratio,
         |  round(stop / n_words, 6) AS stopword_ratio,
         |  round(least(n_words / 100.0, 1.0) * 0.5
         |    + least(stop / n_words * 5.0, 1.0) * 0.5, 6) AS quality
         |FROM m ORDER BY doc_id""".stripMargin),
    Gate("t3_langid_markers", (s, d) => TextAnalysis.langIdMarkers(s, d), langidOracle),
    Gate("t4_fingerprint", (s, d) => TextAnalysis.fingerprints(s, d),
      """SELECT doc_id,
        |  list_reduce(
        |    list_prepend(CAST(0 AS BIGINT),
        |      list_transform(string_split(text, ''), c -> CAST(unicode(c) AS BIGINT))),
        |    (a, b) -> (a * 131 + b) % 1000000007) AS fingerprint
        |FROM documents ORDER BY doc_id""".stripMargin),
    Gate("t6_regex_extract", (s, d) => TextAnalysis.regexExtract(s, d),
      """SELECT doc_id, regexp_extract(text, 'the ([a-z]+)', 1) AS after_the
        |FROM documents ORDER BY doc_id""".stripMargin),
    Gate("t5_top_tokens", (s, d) => TextAnalysis.topTokens(s, d),
      """SELECT word, count(*) AS n FROM (
        |  SELECT unnest(regexp_split_to_array(trim(text), '\s+')) AS word
        |  FROM documents)
        |GROUP BY word ORDER BY n DESC, word ASC LIMIT 20""".stripMargin),
    Gate("t7_langid_ngram", (s, d) => TextAnalysis.langIdNgram(s, d), {
      val profiles = TextAnalysis.DefaultTrigramProfiles.toSeq.sortBy(_._1)
      val scoreCols = profiles.map { case (lang, tris) =>
        s"len(list_filter(grams, x -> list_contains([${sqlList(tris)}], x))) AS s_$lang"
      }.mkString(",\n  ")
      val best = profiles.map(p => s"s_${p._1}").mkString("greatest(", ", ", ")")
      val cases = profiles.map { case (lang, _) =>
        s"WHEN s_$lang > 0 AND s_$lang = $best THEN '$lang'"
      }.mkString("\n    ")
      s"""WITH g AS (SELECT doc_id,
         |  CASE WHEN length(lower(text)) >= 3 THEN
         |    list_distinct(list_transform(range(1, length(lower(text)) - 1),
         |      i -> substr(lower(text), i, 3)))
         |  ELSE CAST([] AS VARCHAR[]) END AS grams FROM documents),
         |s AS (SELECT doc_id,
         |  $scoreCols
         |FROM g)
         |SELECT doc_id, CASE
         |    $cases
         |  ELSE 'und' END AS lang_pred
         |FROM s ORDER BY doc_id""".stripMargin
    }),
    Gate("t8_text_clean", (s, d) => TextAnalysis.cleanText(s, d),
      """SELECT doc_id,
        |  lower(trim(regexp_replace(
        |    regexp_replace(text, '<[^>]*>', ' ', 'g'), '\s+', ' ', 'g'))) AS clean_text
        |FROM documents ORDER BY doc_id""".stripMargin),
    Gate("t9_pii_redact", (s, d) => TextAnalysis.redactPii(s, d),
      """SELECT doc_id,
        |  regexp_replace(regexp_replace(text,
        |    '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
        |    '[0-9]{7,}', '<NUM>', 'g') AS redacted,
        |  CAST(len(regexp_extract_all(text,
        |    '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')) AS INT) AS n_emails,
        |  CAST(len(regexp_extract_all(text, '[0-9]{7,}')) AS INT) AS n_digit_runs
        |FROM documents ORDER BY doc_id""".stripMargin),
    Gate("s1_hash_split", (s, d) => TextAnalysis.hashSplit(s, d),
      """SELECT CASE
        |    WHEN substring(md5(CAST(doc_id AS VARCHAR)), 1, 1)
        |      IN ('0','1','2','3','4','5','6','7','8','9','a','b') THEN 'train'
        |    WHEN substring(md5(CAST(doc_id AS VARCHAR)), 1, 1) IN ('c','d') THEN 'val'
        |    ELSE 'test' END AS split,
        |  count(*) AS n_docs
        |FROM documents GROUP BY 1 ORDER BY 1""".stripMargin),
    Gate("s2_group_split", (s, d) => TextAnalysis.groupSplit(s, d),
      """WITH g AS (SELECT source, CASE
        |    WHEN substring(md5(source),1,1)
        |      IN ('0','1','2','3','4','5','6','7','8','9','a','b') THEN 'train'
        |    WHEN substring(md5(source),1,1) IN ('c','d') THEN 'val'
        |    ELSE 'test' END AS split
        |  FROM (SELECT DISTINCT source FROM documents))
        |SELECT split, CAST(count(DISTINCT d.source) AS BIGINT) AS n_groups,
        |  count(*) AS n_docs, CAST(sum(n_chars) AS BIGINT) AS total_chars
        |FROM documents d JOIN g USING (source)
        |GROUP BY 1 ORDER BY 1""".stripMargin),
    // Group-aware split: the group→split assignment hashes SOURCE, so
    // the oracle derives the same map from the distinct sources.
    Gate("zipf1_token_zipf", (s, d) => TextAnalysis.tokenZipf(s, d),
      """WITH t AS (SELECT unnest(regexp_split_to_array(trim(text),'\s+')) AS tok
        |  FROM documents),
        |c AS (SELECT tok, CAST(count(*) AS BIGINT) AS n FROM t GROUP BY 1),
        |r AS (SELECT n, CAST(row_number() OVER (ORDER BY n DESC, tok) AS BIGINT) AS rk
        |  FROM c QUALIFY rk <= 1000),
        |s AS (SELECT CAST(count(*) AS BIGINT) AS c,
        |    CAST(sum(CAST(ln(rk) AS DECIMAL(38,18))) AS DOUBLE) AS sx,
        |    CAST(sum(CAST(ln(n) AS DECIMAL(38,18))) AS DOUBLE) AS sy,
        |    CAST(sum(CAST(ln(rk)*ln(rk) AS DECIMAL(38,18))) AS DOUBLE) AS sxx,
        |    CAST(sum(CAST(ln(rk)*ln(n) AS DECIMAL(38,18))) AS DOUBLE) AS sxy
        |  FROM r)
        |SELECT c AS n_tokens,
        |  round((CAST(c AS DOUBLE)*sxy - sx*sy)/(CAST(c AS DOUBLE)*sxx - sx*sx), 6) AS slope,
        |  round((sy - (CAST(c AS DOUBLE)*sxy - sx*sy)/(CAST(c AS DOUBLE)*sxx - sx*sx)*sx)/c, 6)
        |    AS intercept
        |FROM s""".stripMargin),
    // Per-doc entropy: c·ln c terms DECIMAL-summed (order-invariant,
    // mi1's pattern) before the closed-form H = ln N − S/N.
    Gate("ent1_token_entropy", (s, d) => TextAnalysis.tokenEntropy(s, d),
      """WITH t AS (SELECT doc_id,
        |    unnest(regexp_split_to_array(trim(text),'\s+')) AS tok FROM documents),
        |tf AS (SELECT doc_id, tok, CAST(count(*) AS BIGINT) AS c FROM t GROUP BY 1, 2),
        |d AS (SELECT doc_id, CAST(sum(c) AS BIGINT) AS n_tokens,
        |    CAST(count(*) AS BIGINT) AS n_types,
        |    CAST(sum(CAST(c*ln(c) AS DECIMAL(38,18))) AS DOUBLE) AS s
        |  FROM tf GROUP BY 1)
        |SELECT doc_id, n_tokens, n_types,
        |  round(ln(n_tokens) - s/n_tokens, 6) AS entropy,
        |  round(CASE WHEN n_types > 1
        |    THEN (ln(n_tokens) - s/n_tokens)/ln(n_types) ELSE 0.0 END, 6) AS norm_entropy
        |FROM d ORDER BY doc_id""".stripMargin),
    // Fold = first md5 byte of doc_id mod 5 (hex-fold via strpos —
    // DuckDB has no conv()); train(fold) = global − fold.
    Gate("cv1_kfold_stats", (s, d) => TextAnalysis.kfoldStats(s, d),
      """WITH folds AS (
        |  SELECT doc_id, n_chars,
        |    ((strpos('0123456789abcdef', md5(CAST(doc_id AS VARCHAR))[1]) - 1) * 16
        |     + strpos('0123456789abcdef', md5(CAST(doc_id AS VARCHAR))[2]) - 1) % 5 AS fold
        |  FROM documents
        |), agg AS (
        |  SELECT fold, CAST(COUNT(*) AS BIGINT) AS n_docs,
        |    CAST(SUM(n_chars) AS BIGINT) AS fold_chars
        |  FROM folds GROUP BY fold
        |), tot AS (SELECT SUM(n_docs) AS n_all, SUM(fold_chars) AS chars_all FROM agg)
        |SELECT CAST(fold AS BIGINT) AS fold, n_docs, fold_chars,
        |  CAST(n_all - n_docs AS BIGINT) AS train_docs,
        |  CAST(chars_all - fold_chars AS BIGINT) AS train_chars,
        |  round(CAST(chars_all - fold_chars AS DOUBLE)
        |    / CAST(n_all - n_docs AS DOUBLE), 6) AS train_mean_chars
        |FROM agg, tot ORDER BY fold""".stripMargin),
    // The permutation restated as a rank window over the same md5 sort
    // key — any divergence in epoch order or tiebreak hash-fails.
    Gate("sh1_epoch_shuffle", (s, d) => TextAnalysis.epochShuffle(s, d),
      """WITH e AS (SELECT 1 AS epoch UNION ALL SELECT 2),
        |h AS (SELECT e.epoch, d.doc_id,
        |    md5(e.epoch || ':' || d.doc_id) AS h
        |  FROM documents d CROSS JOIN e),
        |r AS (SELECT epoch, doc_id,
        |    row_number() OVER (PARTITION BY epoch ORDER BY h, doc_id) AS rk
        |  FROM h)
        |SELECT CAST(epoch AS INT) AS epoch, CAST(rk AS BIGINT) AS rk, doc_id
        |FROM r WHERE rk <= 10 ORDER BY epoch, rk""".stripMargin),
    // Gopher rule battery: every threshold restated in the same
    // integer arithmetic (no float boundary can disagree).
    Gate("t18_gopher_rules", (s, d) => TextAnalysis.gopherRules(s, d),
      raw"""WITH w AS (SELECT doc_id, source, text,
        |    regexp_split_to_array(trim(text), '\s+') AS ws,
        |    string_split(text, chr(10)) AS lines
        |  FROM documents),
        |m AS (SELECT doc_id, source,
        |    CAST(len(ws) AS BIGINT) AS n_words,
        |    CAST(list_sum(list_transform(ws, x -> length(x))) AS BIGINT) AS sum_wl,
        |    CAST(len(list_filter(ws, x -> regexp_matches(x, '[a-zA-Z]'))) AS BIGINT) AS alpha_words,
        |    CAST(length(regexp_replace(text, '[^#]', '', 'g'))
        |      + len(regexp_extract_all(text, '\.\.\.')) AS BIGINT) AS symbols,
        |    CAST(len(lines) AS BIGINT) AS n_lines,
        |    CAST(len(list_filter(lines, x -> regexp_matches(x, '^\s*[-*•]'))) AS BIGINT) AS bullets,
        |    CAST(len(list_filter(lines, x -> regexp_matches(x, '(\.\.\.|…)\s*$$'))) AS BIGINT) AS ell,
        |    CAST(list_contains(ws, 'the') AS INT) + CAST(list_contains(ws, 'and') AS INT)
        |      + CAST(list_contains(ws, 'of') AS INT) + CAST(list_contains(ws, 'to') AS INT)
        |      + CAST(list_contains(ws, 'a') AS INT) + CAST(list_contains(ws, 'in') AS INT)
        |      + CAST(list_contains(ws, 'is') AS INT) + CAST(list_contains(ws, 'it') AS INT)
        |      + CAST(list_contains(ws, 'for') AS INT) + CAST(list_contains(ws, 'on') AS INT) AS stop_hits
        |  FROM w),
        |r AS (SELECT source,
        |    (n_words BETWEEN 50 AND 100000) AS r_wc,
        |    (3*n_words <= sum_wl AND sum_wl <= 10*n_words) AS r_mwl,
        |    (10*symbols <= n_words) AS r_sym,
        |    (10*bullets <= 9*n_lines) AS r_bul,
        |    (10*ell <= 3*n_lines) AS r_ell,
        |    (5*alpha_words >= 4*n_words) AS r_alpha,
        |    (stop_hits >= 2) AS r_stop
        |  FROM m)
        |SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
        |  CAST(sum(CASE WHEN r_wc AND r_mwl AND r_sym AND r_bul AND r_ell
        |    AND r_alpha AND r_stop THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
        |  CAST(sum(CASE WHEN NOT r_wc THEN 1 ELSE 0 END) AS BIGINT) AS f_wordcount,
        |  CAST(sum(CASE WHEN NOT r_mwl THEN 1 ELSE 0 END) AS BIGINT) AS f_meanwordlen,
        |  CAST(sum(CASE WHEN NOT r_sym THEN 1 ELSE 0 END) AS BIGINT) AS f_symbol,
        |  CAST(sum(CASE WHEN NOT r_bul THEN 1 ELSE 0 END) AS BIGINT) AS f_bullet,
        |  CAST(sum(CASE WHEN NOT r_ell THEN 1 ELSE 0 END) AS BIGINT) AS f_ellipsis,
        |  CAST(sum(CASE WHEN NOT r_alpha THEN 1 ELSE 0 END) AS BIGINT) AS f_alpha,
        |  CAST(sum(CASE WHEN NOT r_stop THEN 1 ELSE 0 END) AS BIGINT) AS f_stopword
        |FROM r GROUP BY source ORDER BY source""".stripMargin),
    // Capstone v5: Gopher filter -> exact dedup -> largest-remainder
    // budget apportionment -> md5-ordered pick -> corpus card. All
    // integer arithmetic end to end.
    Gate("c9_curation_v5", (s, d) => TextAnalysis.curationV5(s, d),
      raw"""WITH w AS (SELECT doc_id, source, text,
        |    regexp_split_to_array(trim(text), '\s+') AS ws,
        |    string_split(text, chr(10)) AS lines
        |  FROM documents),
        |m AS (SELECT doc_id, source, text,
        |    CAST(len(ws) AS BIGINT) AS n_words,
        |    CAST(list_sum(list_transform(ws, x -> length(x))) AS BIGINT) AS sum_wl,
        |    CAST(len(list_filter(ws, x -> regexp_matches(x, '[a-zA-Z]'))) AS BIGINT) AS alpha_words,
        |    CAST(length(regexp_replace(text, '[^#]', '', 'g'))
        |      + len(regexp_extract_all(text, '\.\.\.')) AS BIGINT) AS symbols,
        |    CAST(len(lines) AS BIGINT) AS n_lines,
        |    CAST(len(list_filter(lines, x -> regexp_matches(x, '^\s*[-*•]'))) AS BIGINT) AS bullets,
        |    CAST(len(list_filter(lines, x -> regexp_matches(x, '(\.\.\.|…)\s*$$'))) AS BIGINT) AS ell,
        |    CAST(list_contains(ws, 'the') AS INT) + CAST(list_contains(ws, 'and') AS INT)
        |      + CAST(list_contains(ws, 'of') AS INT) + CAST(list_contains(ws, 'to') AS INT)
        |      + CAST(list_contains(ws, 'a') AS INT) + CAST(list_contains(ws, 'in') AS INT)
        |      + CAST(list_contains(ws, 'is') AS INT) + CAST(list_contains(ws, 'it') AS INT)
        |      + CAST(list_contains(ws, 'for') AS INT) + CAST(list_contains(ws, 'on') AS INT) AS stop_hits
        |  FROM w),
        |kept AS (SELECT doc_id, source, text, n_words FROM m
        |  WHERE (n_words BETWEEN 50 AND 100000)
        |    AND (3*n_words <= sum_wl AND sum_wl <= 10*n_words)
        |    AND (10*symbols <= n_words)
        |    AND (10*bullets <= 9*n_lines) AND (10*ell <= 3*n_lines)
        |    AND (5*alpha_words >= 4*n_words) AND (stop_hits >= 2)),
        |dd AS (SELECT doc_id, source, n_words FROM kept
        |  QUALIFY row_number() OVER (PARTITION BY md5(text) ORDER BY doc_id) = 1),
        |avail AS (SELECT source, CAST(count(*) AS BIGINT) AS available
        |  FROM dd GROUP BY 1),
        |q AS (SELECT source, available,
        |    available * 200 // sum(available) OVER () AS base,
        |    available * 200 % sum(available) OVER () AS rem
        |  FROM avail),
        |q2 AS (SELECT *, row_number() OVER (ORDER BY rem DESC, source) AS xr,
        |    200 - sum(base) OVER () AS extras FROM q),
        |alloc AS (SELECT source, available,
        |    base + CASE WHEN xr <= extras THEN 1 ELSE 0 END AS allocated
        |  FROM q2),
        |p AS (SELECT dd.*, row_number() OVER (PARTITION BY dd.source
        |    ORDER BY md5(CAST(dd.doc_id AS VARCHAR)), dd.doc_id) AS pr
        |  FROM dd),
        |picked AS (SELECT p.source, p.n_words, a.available, a.allocated
        |  FROM p JOIN alloc a ON a.source = p.source
        |  WHERE p.pr <= a.allocated)
        |SELECT source, max(available) AS available,
        |  CAST(max(allocated) AS BIGINT) AS allocated,
        |  CAST(count(*) AS BIGINT) AS picked_docs,
        |  CAST(sum(n_words) AS BIGINT) AS sum_words
        |FROM picked GROUP BY 1 ORDER BY source""".stripMargin),
    Gate("l1_word_positions", (s, d) => TextAnalysis.wordPositions(s, d),
      """WITH w AS (SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS ws
        |  FROM documents WHERE doc_id < 50)
        |SELECT doc_id, CAST(i AS INT) AS pos, ws[i] AS word
        |FROM w, unnest(range(1, len(ws) + 1)) AS t(i)
        |ORDER BY doc_id, pos""".stripMargin),
    // Deterministic stratified sample: md5-rank within stratum is
    // engine-independent (md5 identical; hex strings sort the same).
    Gate("sa2_stratified_sample", (s, d) => TextAnalysis.stratifiedSample(s, d),
      """WITH r AS (SELECT lang, doc_id,
        |    CAST(row_number() OVER (PARTITION BY lang
        |      ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS INT) AS rk
        |  FROM documents)
        |SELECT lang, doc_id, rk FROM r WHERE rk <= 20
        |ORDER BY lang, rk""".stripMargin),
    Gate("tok1_encode_roundtrip", (s, d) => TextAnalysis.encodeRoundtrip(s, d),
      """WITH w AS (SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS ws
        |  FROM documents),
        |toks AS (SELECT doc_id,
        |    unnest(list_transform(range(1, len(ws) + 1), i -> ws[i])) AS word,
        |    unnest(range(1, len(ws) + 1)) AS pos
        |  FROM w),
        |v AS (SELECT word, row_number() OVER (ORDER BY count(*) DESC, word) AS id
        |  FROM toks GROUP BY word),
        |enc AS (SELECT doc_id, pos, v.id FROM toks JOIN v USING (word)
        |  WHERE doc_id < 50),
        |dec AS (SELECT enc.doc_id, string_agg(v2.word, ' ' ORDER BY enc.pos) AS decoded
        |  FROM enc JOIN v v2 ON enc.id = v2.id GROUP BY enc.doc_id),
        |orig AS (SELECT doc_id,
        |    array_to_string(regexp_split_to_array(trim(text), '\s+'), ' ') AS normalized
        |  FROM documents WHERE doc_id < 50)
        |SELECT CAST(count(*) AS BIGINT) AS n_docs,
        |  CAST(sum(CASE WHEN decoded = normalized THEN 1 ELSE 0 END) AS BIGINT) AS n_roundtrip_ok
        |FROM orig JOIN dec USING (doc_id)""".stripMargin),
    Gate("rs1_fixed_sample", (s, d) => TextAnalysis.fixedSizeSample(s, d),
      """SELECT doc_id, md5(CAST(doc_id AS VARCHAR)) AS priority
        |FROM documents ORDER BY priority, doc_id LIMIT 25""".stripMargin),
    // Aho-Corasick blocklist scan restated per pattern: the kernel
    // counts EVERY match position, which for the gate's border-free
    // dictionary equals the non-overlapping split count per pattern.
    Gate("t17_blocklist", (s, d) => TextAnalysis.blocklistStats(s, d),
      """WITH pats AS (SELECT unnest(['scan','column','order','sort','join',
        |    'merge','group','query','stream','filter','batch','vector']) AS p),
        |d AS (SELECT doc_id, source, lower(text) AS t FROM documents),
        |occ AS (SELECT d.doc_id, d.source,
        |    CAST(length(string_split(d.t, pats.p)) - 1 AS BIGINT) AS c
        |  FROM d CROSS JOIN pats),
        |per_doc AS (SELECT doc_id, source, sum(c) AS hits,
        |    sum(CASE WHEN c > 0 THEN 1 ELSE 0 END) AS terms
        |  FROM occ GROUP BY 1, 2)
        |SELECT source, CAST(sum(hits) AS BIGINT) AS total_hits,
        |  CAST(sum(CASE WHEN hits > 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_docs_hit,
        |  CAST(sum(terms) AS BIGINT) AS sum_distinct_terms
        |FROM per_doc GROUP BY source ORDER BY source""".stripMargin),
    // Capstone: blocklist-clean filter (< 11 distinct dictionary
    // terms) -> ES-weighted 100-doc sample -> per-source composition.
    Gate("c8_curation_v4", (s, d) => TextAnalysis.curationV4(s, d),
      """WITH pats AS (SELECT unnest(['scan','column','order','sort','join',
        |    'merge','group','query','stream','filter','batch','vector']) AS p),
        |d AS (SELECT doc_id, source, n_chars, lower(text) AS t,
        |    md5(CAST(doc_id AS VARCHAR)) AS h FROM documents WHERE n_chars > 0),
        |terms AS (SELECT d.doc_id,
        |    sum(CASE WHEN length(string_split(d.t, pats.p)) > 1
        |      THEN 1 ELSE 0 END) AS nt
        |  FROM d CROSS JOIN pats GROUP BY 1),
        |clean AS (SELECT d.* FROM d JOIN terms USING (doc_id)
        |  WHERE terms.nt < 11),
        |k AS (SELECT doc_id, source, n_chars,
        |    ln(((strpos('0123456789abcdef', h[1])-1)*268435456.0 +
        |      (strpos('0123456789abcdef', h[2])-1)*16777216.0 +
        |      (strpos('0123456789abcdef', h[3])-1)*1048576.0 +
        |      (strpos('0123456789abcdef', h[4])-1)*65536.0 +
        |      (strpos('0123456789abcdef', h[5])-1)*4096.0 +
        |      (strpos('0123456789abcdef', h[6])-1)*256.0 +
        |      (strpos('0123456789abcdef', h[7])-1)*16.0 +
        |      (strpos('0123456789abcdef', h[8])-1)*1.0 + 0.5)
        |      / 4294967296.0) / n_chars AS k0 FROM clean),
        |sample AS (SELECT * FROM k ORDER BY k0 DESC, doc_id ASC LIMIT 100)
        |SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
        |  CAST(sum(n_chars) AS BIGINT) AS sum_chars
        |FROM sample GROUP BY source ORDER BY source""".stripMargin),
    Gate("hh1_top_tokens_source", (s, d) => TextAnalysis.topTokensPerSource(s, d),
      """WITH t AS (SELECT source,
        |    unnest(regexp_split_to_array(trim(text), '\s+')) AS w FROM documents),
        |c AS (SELECT source, w, CAST(count(*) AS BIGINT) AS n FROM t GROUP BY 1, 2),
        |r AS (SELECT source, w, n,
        |    CAST(row_number() OVER (PARTITION BY source
        |      ORDER BY n DESC, w ASC) AS INT) AS rank FROM c)
        |SELECT source, w, n, rank FROM r WHERE rank <= 3
        |ORDER BY source, rank""".stripMargin),
    Gate("bp2_bpe_train", (s, d) => TextAnalysis.bpeTrain(s, d),
      """WITH s0 AS (SELECT doc_id,
        |    list_reduce(list_transform(regexp_split_to_array(trim(text), '\s+'),
        |      t -> chr(30) || t), (a,b) -> a || b) AS s
        |  FROM documents),
        |t1 AS (SELECT doc_id, list_filter(string_split(s, chr(30)), x -> x != '') AS ws FROM s0),
        |p1 AS (SELECT ws[i] AS w1, ws[i+1] AS w2, count(*) AS n
        |  FROM t1, unnest(range(1, len(ws))) AS r(i) GROUP BY 1, 2),
        |b1 AS (SELECT w1, w2, n FROM p1 ORDER BY n DESC, w1, w2 LIMIT 1),
        |s1 AS (SELECT doc_id, replace(s, chr(30)||b1.w1||chr(30)||b1.w2,
        |    chr(30)||b1.w1||b1.w2) AS s FROM s0 CROSS JOIN b1),
        |t2 AS (SELECT doc_id, list_filter(string_split(s, chr(30)), x -> x != '') AS ws FROM s1),
        |p2 AS (SELECT ws[i] AS w1, ws[i+1] AS w2, count(*) AS n
        |  FROM t2, unnest(range(1, len(ws))) AS r(i) GROUP BY 1, 2),
        |b2 AS (SELECT w1, w2, n FROM p2 ORDER BY n DESC, w1, w2 LIMIT 1),
        |s2 AS (SELECT doc_id, replace(s, chr(30)||b2.w1||chr(30)||b2.w2,
        |    chr(30)||b2.w1||b2.w2) AS s FROM s1 CROSS JOIN b2),
        |t3 AS (SELECT doc_id, list_filter(string_split(s, chr(30)), x -> x != '') AS ws FROM s2),
        |p3 AS (SELECT ws[i] AS w1, ws[i+1] AS w2, count(*) AS n
        |  FROM t3, unnest(range(1, len(ws))) AS r(i) GROUP BY 1, 2),
        |b3 AS (SELECT w1, w2, n FROM p3 ORDER BY n DESC, w1, w2 LIMIT 1)
        |SELECT CAST(1 AS INT) AS step, w1, w2, CAST(n AS BIGINT) AS n FROM b1
        |UNION ALL SELECT 2, w1, w2, CAST(n AS BIGINT) FROM b2
        |UNION ALL SELECT 3, w1, w2, CAST(n AS BIGINT) FROM b3
        |ORDER BY step""".stripMargin),
    Gate("mx2_temperature_mix", (s, d) => TextAnalysis.temperatureMixture(s, d),
      """WITH s AS (SELECT source,
        |    CAST(sum(len(regexp_split_to_array(trim(text), '\s+'))) AS BIGINT) AS src_tokens
        |  FROM documents GROUP BY 1),
        |tot AS (SELECT CAST(sum(src_tokens) AS BIGINT) AS t FROM s),
        |w AS (SELECT source, src_tokens,
        |    CAST(src_tokens AS DOUBLE) / tot.t AS share,
        |    sqrt(CAST(src_tokens AS DOUBLE) / tot.t) AS sw, tot.t AS t
        |  FROM s CROSS JOIN tot),
        |z AS (SELECT CAST(sum(CAST(round(sw, 8) AS DECIMAL(20,8))) AS DOUBLE) AS zsum FROM w)
        |SELECT source, src_tokens, round(share, 6) AS share,
        |  round(sw / z.zsum, 6) AS weight,
        |  CAST(round(sw / z.zsum * t, 0) AS BIGINT) AS eff_tokens
        |FROM w CROSS JOIN z ORDER BY source""".stripMargin),
    // mx3: same weight chain as mx2 quantized through
    // floor(round(·,8)·1e8) into BIGINT, then the Bernoulli-by-rate
    // threshold replayed with the identical parenthesization; the
    // 8-hex-digit md5 fold is dsir1's idiom.
    Gate("mx3_mixture_sample", (s, d) => TextAnalysis.mixtureSample(s, d),
      """WITH d AS (SELECT doc_id, source,
        |    CAST(len(regexp_split_to_array(trim(text), '\s+')) AS BIGINT) AS n_words
        |  FROM documents),
        |s AS (SELECT source, CAST(sum(n_words) AS BIGINT) AS src_tokens
        |  FROM d GROUP BY 1),
        |tot AS (SELECT CAST(sum(src_tokens) AS BIGINT) AS t,
        |    CAST(sum(src_tokens) AS BIGINT) // 5 AS b FROM s),
        |w AS (SELECT source, src_tokens, tot.b AS b,
        |    CAST(floor(round(sqrt(CAST(src_tokens AS DOUBLE) / tot.t), 8) * 1e8)
        |      AS BIGINT) AS wq
        |  FROM s CROSS JOIN tot),
        |z AS (SELECT CAST(sum(wq) AS BIGINT) AS z FROM w),
        |thr AS (SELECT source,
        |    CAST(floor(4294967296.0 * (CAST(w.b AS DOUBLE) * (CAST(w.wq AS DOUBLE)
        |      / (CAST(z.z AS DOUBLE) * CAST(w.src_tokens AS DOUBLE))))) AS BIGINT) AS t
        |  FROM w CROSS JOIN z)
        |SELECT d.doc_id, d.source, d.n_words
        |FROM d JOIN thr USING (source)
        |WHERE list_reduce(list_prepend(CAST(0 AS BIGINT),
        |    list_transform(range(1, 9), i -> CAST(strpos('0123456789abcdef',
        |      md5(CAST(d.doc_id AS VARCHAR))[i]) - 1 AS BIGINT))),
        |    (a, c) -> a * 16 + c) < thr.t
        |ORDER BY d.doc_id""".stripMargin),
    Gate("fh1_feature_hashing", (s, d) => TextAnalysis.featureHashing(s, d),
      """WITH t AS (SELECT doc_id,
        |    unnest(regexp_split_to_array(trim(text), '\s+')) AS w
        |  FROM documents WHERE doc_id < 10),
        |h AS (SELECT doc_id,
        |    CAST(list_reduce(list_prepend(CAST(0 AS BIGINT),
        |      list_transform(range(1, 7), i -> CAST(strpos('0123456789abcdef',
        |        md5(w)[i]) - 1 AS BIGINT))), (a,c) -> a*16 + c) % 32 AS INT) AS dim
        |  FROM t)
        |SELECT doc_id, dim, CAST(count(*) AS BIGINT) AS n
        |FROM h GROUP BY 1, 2 ORDER BY doc_id, dim""".stripMargin),
    // Winnowing over positional 3-gram md5-60bit hashes; emitted stats
    // are order-invariant so the engines' distinct orders don't matter.
    Gate("t12_winnowing", (s, d) => TextAnalysis.winnowingFingerprints(s, d),
      """WITH w AS (SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS ws FROM documents),
        |g AS (SELECT doc_id, list_transform(range(1, greatest(len(ws) - 1, 1)),
        |    i -> ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2]) AS grams FROM w),
        |h AS (SELECT doc_id, list_transform(grams, g ->
        |    list_reduce(list_prepend(CAST(0 AS BIGINT),
        |      list_transform(range(1, 16),
        |        i -> CAST(strpos('0123456789abcdef', md5(g)[i]) - 1 AS BIGINT))),
        |    (a, c) -> a * 16 + c)) AS hs FROM g),
        |f AS (SELECT doc_id, CASE WHEN len(hs) >= 4
        |    THEN list_distinct(list_transform(range(1, len(hs) - 2),
        |      j -> list_min(hs[j:j+3])))
        |    ELSE list_distinct(hs) END AS fps FROM h)
        |SELECT doc_id, CAST(len(fps) AS INT) AS n_fp,
        |  list_min(fps) AS min_fp, list_max(fps) AS max_fp
        |FROM f ORDER BY doc_id""".stripMargin),
    Gate("t10_tfidf", (s, d) => TextAnalysis.tfIdf(s, d),
      """WITH t AS (SELECT doc_id,
        |    unnest(regexp_split_to_array(trim(text), '\s+')) AS term FROM documents),
        |tf AS (SELECT doc_id, term, count(*) AS tf FROM t GROUP BY 1, 2),
        |dfq AS (SELECT term, count(DISTINCT doc_id) AS df FROM t GROUP BY 1),
        |nn AS (SELECT count(*) AS n FROM documents)
        |SELECT tf.doc_id, tf.term,
        |  round(tf.tf * ln(CAST(nn.n AS DOUBLE) / dfq.df), 6) AS tfidf
        |FROM tf JOIN dfq USING (term) CROSS JOIN nn
        |WHERE tf.doc_id < 20 ORDER BY doc_id, term""".stripMargin),
    Gate("t11_top_bigrams", (s, d) => TextAnalysis.topBigrams(s, d),
      """WITH w AS (SELECT regexp_split_to_array(trim(text), '\s+') AS ws
        |  FROM documents),
        |b AS (SELECT unnest(list_transform(range(1, len(ws)),
        |    i -> ws[i] || ' ' || ws[i+1])) AS bigram
        |  FROM w WHERE len(ws) >= 2)
        |SELECT bigram, count(*) AS n FROM b
        |GROUP BY bigram ORDER BY n DESC, bigram ASC LIMIT 20""".stripMargin),
    Gate("pmi1_collocations", (s, d) => TextAnalysis.pmiCollocations(s, d),
      """WITH w AS (SELECT regexp_split_to_array(trim(text), '\s+') AS ws FROM documents),
        |b AS (SELECT unnest(list_transform(range(1, len(ws)), i -> ws[i])) AS w1,
        |    unnest(list_transform(range(1, len(ws)), i -> ws[i+1])) AS w2
        |  FROM w WHERE len(ws) >= 2),
        |nb AS (SELECT CAST(count(*) AS BIGINT) AS n FROM b),
        |c2 AS (SELECT w1, w2, count(*) AS c12 FROM b GROUP BY 1, 2),
        |ch AS (SELECT w1, count(*) AS c1 FROM b GROUP BY 1),
        |ct AS (SELECT w2, count(*) AS c2t FROM b GROUP BY 1)
        |SELECT c2.w1, c2.w2, CAST(c2.c12 AS BIGINT) AS c12,
        |  round(ln(CAST(c2.c12 AS DOUBLE) * nb.n
        |    / (CAST(ch.c1 AS DOUBLE) * ct.c2t)), 6) AS pmi
        |FROM c2 JOIN ch USING (w1) JOIN ct USING (w2) CROSS JOIN nb
        |WHERE c2.c12 >= 5
        |ORDER BY pmi DESC, w1, w2 LIMIT 20""".stripMargin),
    Gate("ws1_weighted_sample", (s, d) => TextAnalysis.weightedSample(s, d),
      """WITH u AS (SELECT doc_id, n_chars,
        |    CAST((doc_id * 2654435761) % 1000003 + 1 AS DOUBLE) / 1000004.0 AS u
        |  FROM documents WHERE n_chars > 0)
        |SELECT doc_id, n_chars, round(ln(u) / CAST(n_chars AS DOUBLE), 10) AS wkey
        |FROM u ORDER BY wkey DESC, doc_id ASC LIMIT 20""".stripMargin),
    Gate("div1_ngram_diversity", (s, d) => TextAnalysis.ngramDiversity(s, d),
      """WITH w AS (SELECT regexp_split_to_array(trim(text), '\s+') AS ws FROM documents),
        |g1 AS (SELECT unnest(list_transform(range(1, len(ws) + 1), i -> ws[i])) AS g
        |  FROM w WHERE len(ws) >= 1),
        |g2 AS (SELECT unnest(list_transform(range(1, len(ws)), i -> array_to_string(ws[i:i+1], ' '))) AS g
        |  FROM w WHERE len(ws) >= 2),
        |g3 AS (SELECT unnest(list_transform(range(1, len(ws) - 1), i -> array_to_string(ws[i:i+2], ' '))) AS g
        |  FROM w WHERE len(ws) >= 3),
        |a1 AS (SELECT 1 AS n, count(*) AS n_total, count(DISTINCT g) AS n_distinct FROM g1),
        |a2 AS (SELECT 2 AS n, count(*) AS n_total, count(DISTINCT g) AS n_distinct FROM g2),
        |a3 AS (SELECT 3 AS n, count(*) AS n_total, count(DISTINCT g) AS n_distinct FROM g3)
        |SELECT n, n_total, n_distinct,
        |  round(CAST(n_distinct AS DOUBLE) / n_total, 6) AS distinct_ratio
        |FROM (SELECT * FROM a1 UNION ALL SELECT * FROM a2 UNION ALL SELECT * FROM a3)
        |ORDER BY n""".stripMargin),
    Gate("ps1_phrase_search", (s, d) => TextAnalysis.phraseSearch(s, d),
      """WITH w AS (SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS ws FROM documents),
        |p AS (SELECT doc_id, unnest(range(1, len(ws) + 1)) AS i, ws FROM w),
        |t AS (SELECT doc_id, i, ws[i] AS word FROM p)
        |SELECT a.doc_id, CAST(a.i - 1 AS BIGINT) AS start_pos
        |FROM t a JOIN t b ON a.doc_id = b.doc_id AND b.i = a.i + 1
        |JOIN t c ON a.doc_id = c.doc_id AND c.i = a.i + 2
        |WHERE a.word = 'part' AND b.word = 'filter' AND c.word = 'scan'
        |ORDER BY a.doc_id, start_pos""".stripMargin),
    Gate("sa1_hash_sample", (s, d) => TextAnalysis.hashSample(s, d),
      """SELECT doc_id FROM documents
        |WHERE substring(md5(CAST(doc_id AS VARCHAR)), 1, 4) < '4000'
        |ORDER BY doc_id""".stripMargin),
    // Gopher-style repetition signals; top bigram tiebreaks (count desc,
    // gram asc) identically on both engines.
    Gate("t13_repetition_stats", (s, d) => TextAnalysis.repetitionStats(s, d),
      """WITH w AS (SELECT doc_id, regexp_split_to_array(trim(text),'\s+') AS ws
        |  FROM documents),
        |uni AS (SELECT doc_id, 1 AS kind, unnest(ws) AS gram FROM w),
        |bi AS (SELECT doc_id, 2 AS kind, array_to_string(ws[i:i+1],' ') AS gram
        |  FROM w, unnest(range(1, greatest(len(ws),1))) AS t(i)),
        |cnt AS (SELECT doc_id, kind, gram, count(*) AS c
        |  FROM (SELECT * FROM uni UNION ALL SELECT * FROM bi) GROUP BY 1,2,3),
        |agg AS (SELECT doc_id,
        |    sum(CASE WHEN kind=1 THEN c END) AS n_words,
        |    count(CASE WHEN kind=1 THEN 1 END) AS n_distinct_words,
        |    sum(CASE WHEN kind=2 THEN c END) AS n_bi,
        |    count(CASE WHEN kind=2 THEN 1 END) AS n_distinct_bi
        |  FROM cnt GROUP BY doc_id),
        |top AS (SELECT doc_id, gram AS top_bigram, c AS top_n,
        |    row_number() OVER (PARTITION BY doc_id ORDER BY c DESC, gram ASC) AS rn
        |  FROM cnt WHERE kind=2)
        |SELECT a.doc_id, CAST(n_words AS BIGINT) AS n_words,
        |  round(CAST(n_distinct_words AS DOUBLE)/CAST(n_words AS DOUBLE),6) AS ttr,
        |  round(CAST(n_bi - n_distinct_bi AS DOUBLE)/CAST(n_bi AS DOUBLE),6)
        |    AS dup_bigram_frac,
        |  t.top_bigram,
        |  round(CAST(t.top_n AS DOUBLE)/CAST(n_bi AS DOUBLE),6) AS top_bigram_frac
        |FROM agg a JOIN top t ON a.doc_id = t.doc_id AND t.rn = 1
        |ORDER BY a.doc_id""".stripMargin),
    // Balanced source mixture: budget = smallest source's token mass,
    // per-source md5-threshold sampling ('zzzz' sentinel keeps rate=1
    // sources whole).
    Gate("mx1_source_mixture", (s, d) => TextAnalysis.sourceMixture(s, d),
      """WITH t AS (SELECT source, doc_id,
        |    CAST(len(regexp_split_to_array(trim(text),'\s+')) AS BIGINT) AS n_tokens,
        |    substr(md5(CAST(doc_id AS VARCHAR)),1,4) AS h4
        |  FROM documents),
        |s AS (SELECT source, CAST(sum(n_tokens) AS BIGINT) AS src_tokens
        |  FROM t GROUP BY source),
        |b AS (SELECT min(src_tokens) AS budget FROM s),
        |r AS (SELECT source, src_tokens,
        |    least(CAST(budget AS DOUBLE)/CAST(src_tokens AS DOUBLE), 1.0) AS rate
        |  FROM s, b),
        |r2 AS (SELECT source, src_tokens, rate,
        |    CASE WHEN rate >= 1.0 THEN 'zzzz'
        |         ELSE printf('%04x', CAST(floor(rate*65536) AS INT)) END AS thr
        |  FROM r),
        |keep AS (SELECT t.source, t.doc_id, t.n_tokens
        |  FROM t JOIN r2 USING (source) WHERE t.h4 < r2.thr)
        |SELECT r2.source, r2.src_tokens, round(r2.rate,6) AS rate,
        |  CAST(coalesce(count(keep.doc_id),0) AS BIGINT) AS n_docs_sampled,
        |  CAST(coalesce(sum(keep.n_tokens),0) AS BIGINT) AS n_tokens_sampled
        |FROM r2 LEFT JOIN keep ON keep.source = r2.source
        |GROUP BY r2.source, r2.src_tokens, r2.rate
        |ORDER BY r2.source""".stripMargin),
    // BPE first-merge candidates: char bigrams inside words, weighted
    // by occurrences; v[a:b] slicing is 1-based inclusive.
    Gate("bp1_bpe_pairs", (s, d) => TextAnalysis.bpePairCounts(s, d),
      """WITH w AS (SELECT unnest(regexp_split_to_array(trim(text),'\s+')) AS word
        |  FROM documents),
        |p AS (SELECT word[i:i+1] AS pair
        |  FROM w, unnest(range(1, greatest(length(word),1))) AS t(i))
        |SELECT pair, CAST(count(*) AS BIGINT) AS n FROM p
        |GROUP BY pair ORDER BY n DESC, pair ASC LIMIT 20""".stripMargin),
    // Vocabulary from the FULL corpus (count desc, word asc); encode a
    // bounded doc range; 0 = OOV.
    Gate("t14_vocab_encode", (s, d) => TextAnalysis.vocabEncode(s, d),
      """WITH w AS (SELECT doc_id, regexp_split_to_array(trim(text),'\s+') AS ws
        |  FROM documents),
        |tok AS (SELECT doc_id, i AS pos, ws[i] AS word
        |  FROM w, unnest(range(1, len(ws)+1)) AS t(i)),
        |cnt AS (SELECT word, count(*) AS n FROM tok GROUP BY 1),
        |v AS (SELECT word, CAST(row_number() OVER (ORDER BY n DESC, word ASC) AS INT) AS id
        |  FROM cnt ORDER BY n DESC, word ASC LIMIT 25)
        |SELECT t.doc_id, CAST(t.pos AS INT) AS pos, t.word,
        |  CAST(coalesce(v.id, 0) AS INT) AS token_id
        |FROM tok t LEFT JOIN v USING (word)
        |WHERE t.doc_id < 50 ORDER BY t.doc_id, t.pos""".stripMargin),
    // Native NFC kernel vs DuckDB nfc_normalize on an identically
    // planted decomposed suffix (e + U+0301 + f -> é + f).
    Gate("t15_nfc_normalize", (s, d) => TextAnalysis.nfcNormalizeGate(s, d),
      """WITH r AS (SELECT doc_id,
        |    substr(text,1,12) || 'e' || chr(769) || 'f' AS raw FROM documents)
        |SELECT doc_id, CAST(length(raw) AS INT) AS len_raw,
        |  nfc_normalize(raw) AS normalized,
        |  CAST(length(nfc_normalize(raw)) AS INT) AS len_norm
        |FROM r ORDER BY doc_id""".stripMargin),
    // t16: DEFLATE isn't in DuckDB, so the expected per-lang profile is
    // a SPEC-PINNED constant table generated once by CPython's zlib
    // (level 1, raw stream — an INDEPENDENT implementation verified
    // byte-identical to the JDK Deflater the kernel uses, including the
    // DECIMAL(38,18) mean replay), keyed by (corpus byte total, lang,
    // live n_docs): a regenerated/changed corpus empties the join and
    // FAILS loudly instead of matching a stale pin. Pins cover
    // sf0.001 / sf0.01 / sf0.1.
    Gate("t16_compress_profile", (s, d) => TextAnalysis.compressionProfile(s, d),
      """WITH tot AS (SELECT CAST(sum(octet_length(encode(text))) AS BIGINT) AS bt
        |  FROM documents),
        |live AS (SELECT lang, count(*) AS n_docs FROM documents GROUP BY lang),
        |pin AS (SELECT * FROM (VALUES
        |(153156,'de',71,0.520266e0,0.412451e0,0.833333e0,0),
        |(153156,'en',193,0.544388e0,0.396917e0,0.981481e0,0),
        |(153156,'es',80,0.536629e0,0.412791e0,0.887097e0,0),
        |(153156,'fr',82,0.521944e0,0.404943e0,1.0e0,0),
        |(153156,'zh',74,0.533378e0,0.410985e0,0.903226e0,0),
        |(149174,'de',70,0.540438e0,0.396117e0,0.912281e0,0),
        |(149174,'en',218,0.537903e0,0.4e0,0.907407e0,0),
        |(149174,'es',73,0.53266e0,0.405458e0,0.873016e0,0),
        |(149174,'fr',64,0.521404e0,0.409186e0,0.84058e0,0),
        |(149174,'zh',75,0.52877e0,0.402439e0,0.873016e0,0),
        |(1485576,'de',702,0.534918e0,0.400366e0,0.96e0,0),
        |(1485576,'en',2059,0.537418e0,0.395918e0,1.0e0,0),
        |(1485576,'es',744,0.535233e0,0.387156e0,0.948276e0,0),
        |(1485576,'fr',742,0.534133e0,0.388007e0,0.924528e0,0),
        |(1485576,'zh',753,0.550828e0,0.395176e0,0.956522e0,0)
        |) AS t(bt, lang, n_docs, avg_ratio, min_ratio, max_ratio, n_repetitive))
        |SELECT p.lang, l.n_docs, p.avg_ratio, p.min_ratio, p.max_ratio,
        |  CAST(p.n_repetitive AS BIGINT) AS n_repetitive
        |FROM pin p JOIN tot t ON p.bt = t.bt
        |JOIN live l ON l.lang = p.lang AND l.n_docs = p.n_docs
        |ORDER BY p.lang""".stripMargin),
    // The corpus collapses to the distinct (source, word) vocabulary
    // before any join; ratios divide exact BIGINT counts.
    Gate("vj1_vocab_overlap", (s, d) => TextAnalysis.vocabOverlap(s, d),
      """WITH v AS (SELECT DISTINCT source, word FROM (
        |    SELECT source, unnest(regexp_split_to_array(trim(text), '\s+')) AS word
        |    FROM documents)),
        |s AS (SELECT source, CAST(count(*) AS BIGINT) AS n FROM v GROUP BY 1),
        |p AS (SELECT a.source AS sa, b.source AS sb,
        |    CAST(count(*) AS BIGINT) AS n_common
        |  FROM v a JOIN v b ON a.word = b.word AND a.source < b.source
        |  GROUP BY 1, 2)
        |SELECT sa, sb, na.n AS n_a, nb.n AS n_b, n_common,
        |  round(CAST(n_common AS DOUBLE)
        |    / CAST(na.n + nb.n - n_common AS DOUBLE), 6) AS jaccard,
        |  round(CAST(n_common AS DOUBLE)
        |    / CAST(least(na.n, nb.n) AS DOUBLE), 6) AS containment
        |FROM p JOIN s na ON p.sa = na.source JOIN s nb ON p.sb = nb.source
        |ORDER BY sa, sb""".stripMargin),
    Gate("dsir1_importance_weights", (s, d) => TextAnalysis.dsirWeights(s, d),
      """WITH t AS (SELECT doc_id, source, lang,
        |    unnest(regexp_split_to_array(trim(text), '\s+')) AS w
        |  FROM documents),
        |h AS (SELECT doc_id, source, lang,
        |    CAST(list_reduce(list_prepend(CAST(0 AS BIGINT),
        |      list_transform(range(1, 7), i -> CAST(strpos('0123456789abcdef',
        |        md5(w)[i]) - 1 AS BIGINT))), (a,c) -> a*16 + c) % 64 AS INT) AS b
        |  FROM t),
        |tc AS (SELECT b, CAST(count(*) AS BIGINT) AS ct FROM h WHERE lang = 'en' GROUP BY 1),
        |rc AS (SELECT b, CAST(count(*) AS BIGINT) AS cr FROM h GROUP BY 1),
        |tot AS (SELECT (SELECT CAST(sum(ct) AS BIGINT) FROM tc) AS nt,
        |               (SELECT CAST(sum(cr) AS BIGINT) FROM rc) AS nr),
        |w AS (SELECT rc.b,
        |    CAST(round(ln( (CAST(coalesce(tc.ct,0)+1 AS DOUBLE) * CAST(tot.nr+64 AS DOUBLE))
        |              / (CAST(rc.cr+1 AS DOUBLE) * CAST(tot.nt+64 AS DOUBLE)) ), 6)
        |      AS DECIMAL(38,6)) AS lw
        |  FROM rc LEFT JOIN tc USING (b) CROSS JOIN tot),
        |d AS (SELECT h.doc_id, h.source, CAST(sum(w.lw) AS DECIMAL(38,6)) AS dlw
        |  FROM h JOIN w USING (b) GROUP BY 1, 2)
        |SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
        |  round(CAST(sum(dlw) AS DOUBLE), 6) AS sum_lw,
        |  CAST(sum(CASE WHEN dlw > 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_pos
        |FROM d GROUP BY 1 ORDER BY 1""".stripMargin),
    // vg1's oracle uses plain global windows for the prefix sums — the
    // single-partition plan the Spark side specifically avoids.
    Gate("vg1_vocab_growth", (s, d) => TextAnalysis.vocabGrowth(s, d),
      """WITH w AS (SELECT doc_id,
        |    regexp_split_to_array(trim(lower(text)), '\s+') AS ws FROM documents),
        |dt AS (SELECT doc_id, len(ws) AS n_tok FROM w),
        |tok AS (SELECT doc_id, unnest(ws) AS tok FROM w),
        |fr AS (SELECT min(doc_id) AS fdoc FROM tok GROUP BY tok),
        |nf AS (SELECT fdoc, count(*) AS new_toks FROM fr GROUP BY 1),
        |sp AS (SELECT dt.doc_id, dt.n_tok, coalesce(nf.new_toks, 0) AS new_toks,
        |    row_number() OVER (ORDER BY dt.doc_id) AS rnk
        |  FROM dt LEFT JOIN nf ON dt.doc_id = nf.fdoc),
        |cum AS (SELECT rnk,
        |    sum(n_tok) OVER (ORDER BY rnk ROWS UNBOUNDED PRECEDING) AS cum_tokens,
        |    sum(new_toks) OVER (ORDER BY rnk ROWS UNBOUNDED PRECEDING) AS vocab
        |  FROM sp),
        |n AS (SELECT count(*) AS nd FROM sp)
        |SELECT CAST(rnk AS BIGINT) AS n_docs, CAST(cum_tokens AS BIGINT) AS cum_tokens,
        |  CAST(vocab AS BIGINT) AS vocab
        |FROM cum, n WHERE rnk % greatest(nd // 10, 1) = 0 OR rnk = nd
        |ORDER BY n_docs""".stripMargin),
  )

  private lazy val langidOracle: String =
    s"""WITH ${langidCtes("l")}
       |SELECT doc_id, lang_pred FROM lpred ORDER BY doc_id""".stripMargin
}
