package graft.gates

import graft.operators.LanguageModel

/** The gates of [[graft.operators.LanguageModel]]: each run with its DuckDB oracle. */
object LanguageModelGates {
  val gates: Seq[Gate] = Seq(
    Gate("lm1_bigram_ppl", (s, d) => LanguageModel.bigramPerplexity(s, d),
      """WITH w AS (SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS ws
        |  FROM documents),
        |b AS (SELECT doc_id,
        |    unnest(list_transform(range(1, len(ws)), i -> ws[i])) AS w1,
        |    unnest(list_transform(range(1, len(ws)), i -> ws[i+1])) AS w2
        |  FROM w WHERE len(ws) >= 2),
        |c2 AS (SELECT w1, w2, count(*) AS c12 FROM b GROUP BY 1, 2),
        |c1 AS (SELECT w1, count(*) AS c1 FROM b GROUP BY 1),
        |vv AS (SELECT count(DISTINCT t.w) AS v
        |  FROM (SELECT unnest(ws) AS w FROM w) t),
        |nll AS (SELECT b.doc_id,
        |    CAST(round(-ln(CAST(c2.c12 + 1 AS DOUBLE)
        |      / CAST(c1.c1 + vv.v AS DOUBLE)), 8) AS DECIMAL(20,8)) AS nll
        |  FROM b JOIN c2 ON b.w1 = c2.w1 AND b.w2 = c2.w2
        |  JOIN c1 ON b.w1 = c1.w1 CROSS JOIN vv),
        |agg AS (SELECT doc_id, sum(nll) AS s, count(*) AS n_bigrams
        |  FROM nll GROUP BY doc_id)
        |SELECT doc_id, n_bigrams,
        |  round(CAST(s AS DOUBLE) / n_bigrams, 6) AS avg_nll,
        |  round(exp(CAST(s AS DOUBLE) / n_bigrams), 6) AS ppl
        |FROM agg ORDER BY ppl DESC, doc_id ASC LIMIT 20""".stripMargin),
    Gate("lm2_trigram_backoff", (s, d) => LanguageModel.trigramBackoffPerplexity(s, d),
      """WITH w AS (SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS ws FROM documents),
        |base AS (SELECT * FROM w WHERE doc_id % 10 != 0),
        |delta AS (SELECT * FROM w WHERE doc_id % 10 = 0),
        |t3 AS (SELECT ws[i] AS w1, ws[i+1] AS w2, ws[i+2] AS w3, count(*) AS c
        |  FROM base, unnest(range(1, len(ws) - 1)) AS r(i) WHERE len(ws) >= 3 GROUP BY 1,2,3),
        |t2 AS (SELECT ws[i] AS w1, ws[i+1] AS w2, count(*) AS c
        |  FROM base, unnest(range(1, len(ws))) AS r(i) WHERE len(ws) >= 2 GROUP BY 1,2),
        |t1 AS (SELECT t.w AS w1, count(*) AS c
        |  FROM (SELECT unnest(ws) AS w FROM base) t GROUP BY 1),
        |tt AS (SELECT CAST(sum(c) AS BIGINT) AS t FROM t1),
        |pos AS (SELECT doc_id, ws[i] AS w1, ws[i+1] AS w2, ws[i+2] AS w3
        |  FROM delta, unnest(range(1, len(ws) - 1)) AS r(i) WHERE len(ws) >= 3),
        |sc AS (SELECT pos.doc_id,
        |    CASE WHEN t3.c IS NOT NULL THEN CAST(t3.c AS DOUBLE) / b12.c
        |         WHEN b23.c IS NOT NULL THEN 0.4 * (CAST(b23.c AS DOUBLE) / u2.c)
        |         WHEN u3.c IS NOT NULL THEN 0.4 * (0.4 * (CAST(u3.c AS DOUBLE) / tt.t))
        |         ELSE 0.4 * (0.4 * (0.5 / tt.t)) END AS s
        |  FROM pos
        |  LEFT JOIN t3 ON pos.w1 = t3.w1 AND pos.w2 = t3.w2 AND pos.w3 = t3.w3
        |  LEFT JOIN t2 b12 ON pos.w1 = b12.w1 AND pos.w2 = b12.w2
        |  LEFT JOIN t2 b23 ON pos.w2 = b23.w1 AND pos.w3 = b23.w2
        |  LEFT JOIN t1 u2 ON pos.w2 = u2.w1
        |  LEFT JOIN t1 u3 ON pos.w3 = u3.w1
        |  CROSS JOIN tt),
        |agg AS (SELECT doc_id, sum(CAST(round(-ln(s), 8) AS DECIMAL(20,8))) AS nll,
        |    CAST(count(*) AS BIGINT) AS n_pos FROM sc GROUP BY 1)
        |SELECT doc_id, n_pos,
        |  round(CAST(nll AS DOUBLE) / n_pos, 6) AS avg_nll,
        |  round(exp(CAST(nll AS DOUBLE) / n_pos), 6) AS ppl
        |FROM agg ORDER BY ppl DESC, doc_id LIMIT 20""".stripMargin),
    // Per-term round(tf·ln p, 8) DECIMAL sums (lm1 discipline) make
    // the per-class posterior order-invariant and libm-drift-proof;
    // argmax tie-break (post DESC, cand ASC) matches the engine's
    // min-struct aggregation.
    Gate("nb1_naive_bayes", (s, d) => LanguageModel.naiveBayesConfusion(s, d),
      """WITH docs AS (SELECT doc_id, lang,
        |    regexp_split_to_array(lower(trim(text)), '\s+') AS ws,
        |    md5(CAST(doc_id AS VARCHAR)) < 'cccccccc' AS is_train FROM documents),
        |tok AS (SELECT doc_id, lang, is_train, unnest(ws) AS w FROM docs),
        |cls AS (SELECT lang AS cand, CAST(count(*) AS BIGINT) AS n_tok
        |  FROM tok WHERE is_train GROUP BY 1),
        |vocab AS (SELECT CAST(count(DISTINCT w) AS BIGINT) AS v FROM tok WHERE is_train),
        |cnt AS (SELECT lang AS cand, w, CAST(count(*) AS BIGINT) AS c
        |  FROM tok WHERE is_train GROUP BY 1, 2),
        |prior AS (SELECT lang AS cand, CAST(count(*) AS BIGINT) AS nd
        |  FROM docs WHERE is_train GROUP BY 1),
        |ptot AS (SELECT CAST(count(*) AS BIGINT) AS t FROM docs WHERE is_train),
        |ttf AS (SELECT doc_id, lang AS true_lang, w, CAST(count(*) AS BIGINT) AS tf
        |  FROM tok WHERE NOT is_train GROUP BY 1, 2, 3),
        |terms AS (SELECT t.doc_id, t.true_lang, cls.cand,
        |    CAST(round(CAST(t.tf AS DOUBLE)
        |      * ln((CAST(COALESCE(cnt.c, 0) AS DOUBLE) + 1.0)
        |        / CAST(cls.n_tok + vocab.v AS DOUBLE)), 8) AS DECIMAL(20,8)) AS term
        |  FROM ttf t CROSS JOIN cls CROSS JOIN vocab
        |  LEFT JOIN cnt ON cnt.cand = cls.cand AND cnt.w = t.w),
        |post AS (SELECT s.doc_id, s.true_lang, s.cand,
        |    sum(s.term) + any_value(CAST(round(ln(CAST(p.nd AS DOUBLE)
        |      / CAST(ptot.t AS DOUBLE)), 8) AS DECIMAL(20,8))) AS post
        |  FROM terms s JOIN prior p ON p.cand = s.cand CROSS JOIN ptot
        |  GROUP BY 1, 2, 3),
        |pred AS (SELECT doc_id, true_lang, cand AS pred_lang,
        |    row_number() OVER (PARTITION BY doc_id ORDER BY post DESC, cand ASC) AS rk
        |  FROM post)
        |SELECT true_lang, pred_lang, CAST(count(*) AS BIGINT) AS n
        |FROM pred WHERE rk = 1 GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin),
  )
}
