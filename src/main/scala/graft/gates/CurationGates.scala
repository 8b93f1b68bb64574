package graft.gates

import graft.operators.Curation
import Oracles.{shingleCtes, langidCtes}

/** The gates of [[graft.operators.Curation]]: each run with its DuckDB oracle. */
object CurationGates {
  val gates: Seq[Gate] = Seq(
    Gate("c1_curation_pipeline", (s, d) => Curation.curate(s, d), curationOracle),
    Gate("q6_forecast_revenue", (s, d) => Curation.forecastRevenue(s, d),
      """SELECT
        |  CAST(sum(CAST(l_extendedprice * l_discount AS DECIMAL(30,6))) AS DOUBLE) AS revenue,
        |  count(*) AS n_rows
        |FROM lineitem
        |WHERE l_shipdate >= TIMESTAMP '1995-01-01'
        |  AND l_shipdate < TIMESTAMP '1997-01-01'
        |  AND l_discount BETWEEN 0.03 AND 0.07
        |  AND l_quantity < 24""".stripMargin),
    // ER capstone: blocked FS scoring -> n_agree>=2 match edges ->
    // recursive-closure components (Spark: min-label BSP) -> golden
    // record summary per cluster.
    Gate("c6_entity_resolution", (s, d) => Curation.entityResolution(s, d),
      """WITH RECURSIVE c AS (SELECT c_custkey * 2 AS id, c_nationkey AS blk,
        |    CAST(round(c_acctbal * 100) AS BIGINT) AS cents FROM customer),
        |s AS (SELECT s_suppkey * 2 + 1 AS id, s_nationkey AS blk,
        |    CAST(round(s_acctbal * 100) AS BIGINT) AS cents FROM supplier),
        |e AS (SELECT c.id AS a, s.id AS b FROM c JOIN s USING (blk)
        |  WHERE CAST((c.cents >= 0) = (s.cents >= 0) AS INT)
        |    + CAST(floor(c.cents / 100000.0) = floor(s.cents / 100000.0) AS INT)
        |    + CAST(floor(c.cents / 1000.0) = floor(s.cents / 1000.0) AS INT) >= 2),
        |ed AS (SELECT a, b FROM e UNION ALL SELECT b, a FROM e),
        |nodes AS (SELECT id FROM c UNION ALL SELECT id FROM s),
        |reach AS (SELECT id AS n, id AS m FROM nodes
        |  UNION
        |  SELECT r.n, ed.b FROM reach r JOIN ed ON r.m = ed.a),
        |lab AS (SELECT n AS id, min(m) AS rep FROM reach GROUP BY 1),
        |bal AS (SELECT id, cents FROM c UNION ALL SELECT id, cents FROM s)
        |SELECT l.rep AS cluster_rep, CAST(count(*) AS BIGINT) AS n_members,
        |  CAST(sum(CASE WHEN l.id % 2 = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_customers,
        |  CAST(sum(CASE WHEN l.id % 2 = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_suppliers,
        |  CAST(max(b.cents) AS BIGINT) AS max_bal_cents
        |FROM lab l JOIN bal b USING (id)
        |GROUP BY 1 ORDER BY n_members DESC, cluster_rep ASC LIMIT 20""".stripMargin),
    // Dominant language via row_number mirrors the Spark side's
    // min(struct(-n, lang)) argmax: count DESC, lang ASC.
    Gate("c7_corpus_card", (s, d) => Curation.corpusCard(s, d),
      """WITH d AS (
        |  SELECT source, lang, n_chars,
        |    len(regexp_split_to_array(trim(text), '\s+')) AS n_words
        |  FROM documents
        |), toks AS (
        |  SELECT source, unnest(regexp_split_to_array(trim(text), '\s+')) AS tok
        |  FROM documents
        |), tk AS (
        |  SELECT source, CAST(count(*) AS BIGINT) AS n_tokens,
        |    CAST(count(DISTINCT tok) AS BIGINT) AS n_types
        |  FROM toks GROUP BY 1
        |), base AS (
        |  SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
        |    CAST(sum(n_chars) AS BIGINT) AS total_chars,
        |    round(CAST(sum(n_words) AS DOUBLE) / count(*), 6) AS mean_words,
        |    round(CAST(sum(CASE WHEN n_words < 20 THEN 1 ELSE 0 END) AS DOUBLE)
        |      / count(*), 6) AS short_frac
        |  FROM d GROUP BY 1
        |), langs AS (
        |  SELECT source, lang, count(*) AS nl,
        |    row_number() OVER (PARTITION BY source
        |      ORDER BY count(*) DESC, lang ASC) AS r
        |  FROM d GROUP BY 1, 2
        |), top AS (SELECT source, lang AS top_lang, nl FROM langs WHERE r = 1)
        |SELECT b.source, b.n_docs, b.total_chars, b.mean_words,
        |  round(CAST(tk.n_types AS DOUBLE) / tk.n_tokens, 6) AS type_token_ratio,
        |  b.short_frac, t.top_lang,
        |  round(CAST(t.nl AS DOUBLE) / b.n_docs, 6) AS top_lang_share
        |FROM base b JOIN top t USING (source) JOIN tk USING (source)
        |ORDER BY b.source""".stripMargin),
    // Round-6 capstone replay: group split + exact cross-split
    // Jaccard decontamination + length gate, per-source keeps.
    Gate("c4_curation_v3", (s, d) => Curation.curationV3(s, d),
      s"""$shingleCtes,
         |g AS (SELECT source, CASE
         |    WHEN substring(md5(source),1,1)
         |      IN ('0','1','2','3','4','5','6','7','8','9','a','b') THEN 'train'
         |    WHEN substring(md5(source),1,1) IN ('c','d') THEN 'val'
         |    ELSE 'test' END AS split
         |  FROM (SELECT DISTINCT source FROM documents)),
         |d AS (SELECT doc_id, d0.source, n_chars, split
         |  FROM documents d0 JOIN g USING (source)),
         |j AS (SELECT doc_a, doc_b FROM inter
         |  JOIN sz sa ON sa.doc_id = doc_a JOIN sz sb ON sb.doc_id = doc_b
         |  WHERE round(CAST(common AS DOUBLE)/(sa.sz + sb.sz - common), 6) >= 0.7),
         |contaminated AS (
         |  SELECT da.doc_id FROM j
         |    JOIN d da ON da.doc_id = j.doc_a JOIN d db ON db.doc_id = j.doc_b
         |  WHERE da.split = 'train' AND db.split <> 'train'
         |  UNION
         |  SELECT db.doc_id FROM j
         |    JOIN d da ON da.doc_id = j.doc_a JOIN d db ON db.doc_id = j.doc_b
         |  WHERE db.split = 'train' AND da.split <> 'train')
         |SELECT source, count(*) AS n_kept, CAST(sum(n_chars) AS BIGINT) AS kept_chars
         |FROM d WHERE split = 'train' AND n_chars BETWEEN 120 AND 20000
         |  AND doc_id NOT IN (SELECT doc_id FROM contaminated)
         |GROUP BY 1 ORDER BY 1""".stripMargin),
    Gate("c3_curation_v2", (s, d) => Curation.curationV2(s, d),
      """WITH w AS (SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS ws FROM documents),
        |b AS (SELECT doc_id,
        |    unnest(list_transform(range(1, len(ws)), i -> ws[i])) AS w1,
        |    unnest(list_transform(range(1, len(ws)), i -> ws[i+1])) AS w2
        |  FROM w WHERE len(ws) >= 2),
        |c2 AS (SELECT w1, w2, count(*) AS c12 FROM b GROUP BY 1, 2),
        |c1 AS (SELECT w1, count(*) AS c1 FROM b GROUP BY 1),
        |vv AS (SELECT count(DISTINCT t.w) AS v FROM (SELECT unnest(ws) AS w FROM w) t),
        |nll AS (SELECT b.doc_id,
        |    CAST(round(-ln(CAST(c2.c12 + 1 AS DOUBLE)
        |      / CAST(c1.c1 + vv.v AS DOUBLE)), 8) AS DECIMAL(20,8)) AS nll
        |  FROM b JOIN c2 ON b.w1 = c2.w1 AND b.w2 = c2.w2
        |  JOIN c1 ON b.w1 = c1.w1 CROSS JOIN vv),
        |ppl AS (SELECT doc_id,
        |    round(exp(CAST(sum(nll) AS DOUBLE) / count(*)), 6) AS ppl
        |  FROM nll GROUP BY doc_id),
        |q AS (SELECT doc_id, n_chars, md5(substring(text, 1, 100)) AS h
        |  FROM documents WHERE n_chars >= 200),
        |dd AS (SELECT q.doc_id, q.n_chars FROM q
        |  WHERE NOT EXISTS (SELECT 1 FROM q q2
        |    WHERE q2.h = q.h AND q2.doc_id < q.doc_id))
        |SELECT dd.doc_id, dd.n_chars, ppl.ppl,
        |  round(ln(CAST((dd.doc_id * 2654435761) % 1000003 + 1 AS DOUBLE) / 1000004.0)
        |    / CAST(dd.n_chars AS DOUBLE), 10) AS wkey
        |FROM dd JOIN ppl USING (doc_id)
        |WHERE ppl.ppl <= 30.0
        |ORDER BY wkey DESC, doc_id LIMIT 10""".stripMargin),
    // Data-derived cutoff: keep docs at/above the ceil(0.1N)-th
    // smallest token count (exact integer order statistic).
    Gate("c2_adaptive_filter", (s, d) => Curation.adaptiveQualityFilter(s, d),
      """WITH t AS (SELECT doc_id,
        |    CAST(len(regexp_split_to_array(trim(text),'\s+')) AS BIGINT) AS n_words
        |  FROM documents),
        |h AS (SELECT n_words, count(*) AS c FROM t GROUP BY 1),
        |cc AS (SELECT n_words,
        |    CAST(sum(c) OVER (ORDER BY n_words) AS BIGINT) AS cum FROM h),
        |thr AS (SELECT min(n_words) AS v FROM cc
        |  WHERE cum >= CAST(ceil(0.1 * (SELECT count(*) FROM t)) AS BIGINT))
        |SELECT t.doc_id, t.n_words FROM t, thr
        |WHERE t.n_words >= thr.v ORDER BY t.doc_id""".stripMargin),
    // Planted URL host = www.<source>-<doc_id%7>.example.com; DuckDB has
    // no parse_url, the regexp extracts the identical host string.
    Gate("u1_domain_stats", (s, d) => Curation.domainStats(s, d),
      """WITH u AS (SELECT doc_id,
        |    'https://www.' || source || '-' || CAST(doc_id % 7 AS VARCHAR)
        |      || '.example.com/page/' || CAST(doc_id AS VARCHAR) AS url,
        |    CAST(len(regexp_split_to_array(trim(text),'\s+')) AS BIGINT) AS n_tokens
        |  FROM documents),
        |h AS (SELECT doc_id, regexp_extract(url, 'https?://([^/]+)/', 1) AS host,
        |    n_tokens FROM u)
        |SELECT host, CAST(count(*) AS BIGINT) AS n_docs,
        |  CAST(sum(n_tokens) AS BIGINT) AS n_tokens
        |FROM h GROUP BY host ORDER BY host""".stripMargin),
    Gate("u2_domain_cap", (s, d) => Curation.domainCap(s, d),
      """WITH u AS (SELECT doc_id,
        |    regexp_extract('https://www.' || source || '-'
        |      || CAST(doc_id % 7 AS VARCHAR) || '.example.com/page/'
        |      || CAST(doc_id AS VARCHAR), 'https?://([^/]+)/', 1) AS host
        |  FROM documents),
        |r AS (SELECT doc_id, host, CAST(row_number() OVER (PARTITION BY host
        |    ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS INT) AS rk FROM u)
        |SELECT doc_id, host, rk FROM r WHERE rk <= 3 ORDER BY doc_id""".stripMargin),
  )

  /** Capstone curation oracle: quality >= 20 words, exact-dedup keeper,
    * not the larger id of any near-dup pair (J >= 0.7), predicted 'en'.
    */
  private lazy val curationOracle: String =
    s"""$shingleCtes,
       |losers AS (
       |  SELECT DISTINCT doc_b AS doc_id FROM inter
       |  JOIN sz sa ON sa.doc_id = doc_a
       |  JOIN sz sb ON sb.doc_id = doc_b
       |  WHERE round(CAST(common AS DOUBLE) / (sa.sz + sb.sz - common), 6) >= 0.7),
       |keepers AS (
       |  SELECT min(doc_id) AS doc_id FROM documents GROUP BY sha256(text)),
       |${langidCtes("l")},
       |q AS (SELECT doc_id,
       |  len(regexp_split_to_array(trim(text), '\\s+')) AS n_words FROM documents)
       |SELECT q.doc_id, CAST(q.n_words AS BIGINT) AS n_words
       |FROM q
       |WHERE q.n_words >= 20
       |  AND q.doc_id IN (SELECT doc_id FROM keepers)
       |  AND q.doc_id NOT IN (SELECT doc_id FROM losers)
       |  AND q.doc_id IN (SELECT doc_id FROM lpred WHERE lang_pred = 'en')
       |ORDER BY q.doc_id""".stripMargin


}
