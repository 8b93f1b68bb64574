package graft.gates

import graft.operators.Similarity
import Oracles.{foldSum, foldDot, foldCosine, ivfLloydChainSql}

/** The gates of [[graft.operators.Similarity]]: each run with its DuckDB oracle. */
object SimilarityGates {
  val gates: Seq[Gate] = Seq(
    Gate("ss1_knn_brute", (s, d) => Similarity.knnBrute(s, d),
      s"""WITH e AS (SELECT vec_id,
         |    list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v FROM embeddings),
         |q AS (SELECT vec_id AS query_id, v AS qv FROM e WHERE vec_id < 5),
         |s AS (SELECT query_id, e.vec_id,
         |    round(${foldCosine("qv", "e.v")}, 6) AS score
         |  FROM q JOIN e ON e.vec_id <> q.query_id),
         |r AS (SELECT query_id, vec_id AS neighbor_id, score,
         |    CAST(row_number() OVER (PARTITION BY query_id
         |      ORDER BY score DESC, vec_id ASC) AS INT) AS rank FROM s)
         |SELECT query_id, neighbor_id, rank, score FROM r
         |WHERE rank <= 10 ORDER BY query_id, rank""".stripMargin),
    // Full LSH-chain replay (ss2, upgraded from rows-only in round 10):
    // the SAME deterministic hyperplanes (Similarity.planesSqlValues
    // literals), 12-bit signatures per table, band-key equi-join,
    // pair dedup, exact cosine re-rank — the approximate operator's
    // ENTIRE pipeline stated in SQL and hash-matched.
    Gate("ss2_lsh_ann", (s, d) => Similarity.lshNeighbors(s, d),
      s"""WITH e AS (SELECT vec_id,
         |    list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v FROM embeddings),
         |pl AS (SELECT * FROM (VALUES
         |${Similarity.planesSqlValues}
         |) AS t(tbl, p, plane)),
         |sg AS (SELECT vec_id, tbl AS table_idx,
         |    CAST(sum(CASE WHEN dot > 0 THEN CAST(1 AS BIGINT) << p
         |             ELSE 0 END) AS BIGINT) AS bucket
         |  FROM (SELECT e.vec_id, pl.tbl, pl.p, ${foldDot("e.v", "pl.plane")} AS dot
         |        FROM e CROSS JOIN pl)
         |  GROUP BY vec_id, tbl),
         |cand AS (SELECT DISTINCT qs.vec_id AS query_id, cs.vec_id
         |  FROM sg qs JOIN sg cs ON cs.table_idx = qs.table_idx
         |    AND cs.bucket = qs.bucket AND cs.vec_id <> qs.vec_id
         |  WHERE qs.vec_id < 5),
         |q AS (SELECT vec_id AS query_id, v AS qv,
         |    sqrt(${foldSum("list_transform(v, x -> x*x)")}) AS qnrm
         |  FROM e WHERE vec_id < 5),
         |s AS (SELECT c.query_id, c.vec_id,
         |    round(${foldDot("q.qv", "f.v")}
         |      / (q.qnrm * sqrt(${foldSum("list_transform(f.v, x -> x*x)")})), 6) AS score
         |  FROM cand c JOIN q ON q.query_id = c.query_id
         |  JOIN e f ON f.vec_id = c.vec_id),
         |r AS (SELECT query_id, vec_id AS neighbor_id, score,
         |    CAST(row_number() OVER (PARTITION BY query_id
         |      ORDER BY score DESC, vec_id ASC) AS INT) AS rank FROM s)
         |SELECT query_id, neighbor_id, rank, score FROM r
         |WHERE rank <= 10 ORDER BY query_id, rank""".stripMargin),
    // xl1: the margin-mining chain replayed over ONE query batch —
    // the deterministic 1-in-16 source shard (vec_id % 32 = 0; a
    // bound on the by-construction quadratic brute form — real
    // deployments mine batch-by-batch,
    // and xl2 is the gated sub-quadratic path). Parity split,
    // exact bipartite cosines (rounded-6 before ranking, the ss1
    // discipline), per-side top-4 neighborhood sums as EXACT BIGINTs
    // on the 1e-6 score quanta, the all-integer margin ratio
    // 2·si·ks·kt/(Ss·kt+St·ks), and the per-source argmax with its
    // accept decision at threshold 1.05. Integer μ arithmetic is the
    // point: a rounded mean of 6-dp values ties at .5e-6 ~25% of the
    // time, where the engines' rounding of doubles disagrees.
    Gate("xl1_margin_mining", (s, d) => Similarity.marginMining(s, d),
      s"""WITH e AS (SELECT vec_id,
         |    list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v FROM embeddings),
         |src AS (SELECT vec_id AS src_id, v AS sv FROM e WHERE vec_id % 32 = 0),
         |tgt AS (SELECT vec_id AS tgt_id, v AS tv FROM e WHERE vec_id % 2 = 1),
         |p0 AS (SELECT src_id, tgt_id,
         |    round(${foldCosine("sv", "tv")}, 6) AS score
         |  FROM src CROSS JOIN tgt),
         |p AS (SELECT src_id, tgt_id, score,
         |    CAST(round(score * 1000000, 0) AS BIGINT) AS si FROM p0),
         |ms AS (SELECT src_id, CAST(sum(si) AS BIGINT) AS ss,
         |    CAST(count(*) AS BIGINT) AS ks FROM (
         |    SELECT src_id, si, row_number() OVER (PARTITION BY src_id
         |      ORDER BY score DESC, tgt_id ASC) AS rk FROM p) WHERE rk <= 4
         |  GROUP BY src_id),
         |mt AS (SELECT tgt_id, CAST(sum(si) AS BIGINT) AS st,
         |    CAST(count(*) AS BIGINT) AS kt FROM (
         |    SELECT tgt_id, si, row_number() OVER (PARTITION BY tgt_id
         |      ORDER BY score DESC, src_id ASC) AS rk FROM p) WHERE rk <= 4
         |  GROUP BY tgt_id),
         |m AS (SELECT p.src_id, p.tgt_id, p.score,
         |    round(CAST(2 * p.si * ms.ks * mt.kt AS DOUBLE)
         |      / CAST(ms.ss * mt.kt + mt.st * ms.ks AS DOUBLE), 6) AS margin
         |  FROM p JOIN ms USING (src_id) JOIN mt USING (tgt_id)
         |  WHERE ms.ss * mt.kt + mt.st * ms.ks > 0),
         |b AS (SELECT src_id, tgt_id, score, margin,
         |    row_number() OVER (PARTITION BY src_id
         |      ORDER BY margin DESC, tgt_id ASC) AS rk FROM m)
         |SELECT src_id, tgt_id, score, margin,
         |  (margin >= 1.05) AS accepted
         |FROM b WHERE rk = 1 ORDER BY src_id""".stripMargin),
    // xl2: xl1's margin replay over ss2's LSH-chain replay — the same
    // deterministic plane literals generate the candidate pairs, then
    // the identical exact-integer margin CTEs run over them. The two
    // oracles compose because both chains are stated, not sampled.
    Gate("xl2_margin_mining_ann", (s, d) => Similarity.marginMiningAnn(s, d),
      s"""WITH e AS (SELECT vec_id,
         |    list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v FROM embeddings),
         |src AS (SELECT vec_id AS src_id, v AS sv FROM e WHERE vec_id % 2 = 0),
         |tgt AS (SELECT vec_id AS tgt_id, v AS tv FROM e WHERE vec_id % 2 = 1),
         |pl AS (SELECT * FROM (VALUES
         |${Similarity.planesSqlValues}
         |) AS t(tbl, p, plane)),
         |sg AS MATERIALIZED (SELECT vec_id, tbl AS table_idx,
         |    CAST(sum(CASE WHEN dot > 0 THEN CAST(1 AS BIGINT) << p
         |             ELSE 0 END) AS BIGINT) AS bucket
         |  FROM (SELECT e.vec_id, pl.tbl, pl.p, ${foldDot("e.v", "pl.plane")} AS dot
         |        FROM e CROSS JOIN pl)
         |  GROUP BY vec_id, tbl),
         |cand AS (SELECT DISTINCT ss.vec_id AS src_id, ts.vec_id AS tgt_id
         |  FROM sg ss JOIN sg ts ON ts.table_idx = ss.table_idx
         |    AND ts.bucket = ss.bucket
         |  WHERE ss.vec_id % 2 = 0 AND ts.vec_id % 2 = 1),
         |p0 AS (SELECT c.src_id, c.tgt_id,
         |    round(${foldCosine("s.sv", "t.tv")}, 6) AS score
         |  FROM cand c JOIN src s USING (src_id) JOIN tgt t USING (tgt_id)),
         |p AS MATERIALIZED (SELECT src_id, tgt_id, score,
         |    CAST(round(score * 1000000, 0) AS BIGINT) AS si FROM p0),
         |ms AS (SELECT src_id, CAST(sum(si) AS BIGINT) AS ss,
         |    CAST(count(*) AS BIGINT) AS ks FROM (
         |    SELECT src_id, si, row_number() OVER (PARTITION BY src_id
         |      ORDER BY score DESC, tgt_id ASC) AS rk FROM p) WHERE rk <= 4
         |  GROUP BY src_id),
         |mt AS (SELECT tgt_id, CAST(sum(si) AS BIGINT) AS st,
         |    CAST(count(*) AS BIGINT) AS kt FROM (
         |    SELECT tgt_id, si, row_number() OVER (PARTITION BY tgt_id
         |      ORDER BY score DESC, src_id ASC) AS rk FROM p) WHERE rk <= 4
         |  GROUP BY tgt_id),
         |m AS (SELECT p.src_id, p.tgt_id, p.score,
         |    round(CAST(2 * p.si * ms.ks * mt.kt AS DOUBLE)
         |      / CAST(ms.ss * mt.kt + mt.st * ms.ks AS DOUBLE), 6) AS margin
         |  FROM p JOIN ms USING (src_id) JOIN mt USING (tgt_id)
         |  WHERE ms.ss * mt.kt + mt.st * ms.ks > 0),
         |b AS (SELECT src_id, tgt_id, score, margin,
         |    row_number() OVER (PARTITION BY src_id
         |      ORDER BY margin DESC, tgt_id ASC) AS rk FROM m)
         |SELECT src_id, tgt_id, score, margin,
         |  (margin >= 1.05) AS accepted
         |FROM b WHERE rk = 1 ORDER BY src_id""".stripMargin),
    // Full IVF replay (ss3, upgraded from rows-only in round 9):
    // first-16 seeding, TWO decimal-mean Lloyd sweeps (DECIMAL(25,10)
    // sums — km1's order-invariant trick), final assignment, 4-probe
    // selection and exact cosine re-rank, every argmin tie-broken on
    // the list id. Distances use the same -2·v·c + ‖c‖² surrogate and
    // left-to-right folds as the Spark plan; fuzz-matched against a
    // local replay before wiring. The seeding/sweeps/assignment chain
    // is [[ivfLloydChainSql]], shared with dd9.
    Gate("ss3_ivf_search", (s, d) => Similarity.ivfSearch(s, d),
      (ivfLloydChainSql + s""",
         |q AS (SELECT vec_id AS query_id, v AS qv,
         |    sqrt(${foldSum("list_transform(v, x -> x*x)")}) AS qnrm
         |  FROM e WHERE vec_id < 5),
         |probe AS (SELECT query_id, i AS list_id FROM (
         |  SELECT q.query_id, c.i, row_number() OVER (PARTITION BY q.query_id ORDER BY
         |      (-2.0 * ${foldDot("q.qv", "c.c")} + ${foldSum("list_transform(c.c, x -> x*x)")}), c.i) AS rk
         |  FROM q CROSS JOIN c2 c) WHERE rk <= 4),
         |s AS (SELECT q.query_id, f.vec_id,
         |    round(${foldDot("q.qv", "f.v")}
         |      / (q.qnrm * sqrt(${foldSum("list_transform(f.v, x -> x*x)")})), 6) AS score
         |  FROM q JOIN probe p ON p.query_id = q.query_id
         |  JOIN a3 f ON f.list_id = p.list_id AND f.vec_id <> q.query_id),
         |r AS (SELECT query_id, vec_id AS neighbor_id, score,
         |    CAST(row_number() OVER (PARTITION BY query_id
         |      ORDER BY score DESC, vec_id ASC) AS INT) AS rank FROM s)
         |SELECT query_id, neighbor_id, rank, score FROM r
         |WHERE rank <= 10 ORDER BY query_id, rank""".stripMargin)),
    // nDCG over ss1's ranking: binary label relevance, the same k-row
    // discount table for hits and ideal, DECIMAL-accumulated sums.
    Gate("dcg1_ndcg_at_k", (s, d) => Similarity.ndcgAtK(s, d),
      s"""WITH e AS (SELECT vec_id, label,
         |    list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v FROM embeddings),
         |q AS (SELECT vec_id AS query_id, v AS qv FROM e WHERE vec_id < 5),
         |s AS (SELECT query_id, e.vec_id,
         |    round(${foldCosine("qv", "e.v")}, 6) AS score
         |  FROM q JOIN e ON e.vec_id <> q.query_id),
         |r AS (SELECT query_id, vec_id AS neighbor_id,
         |    CAST(row_number() OVER (PARTITION BY query_id
         |      ORDER BY score DESC, vec_id ASC) AS INT) AS rank FROM s),
         |disc AS (SELECT CAST(i AS INT) AS i,
         |    1.0 / (ln(CAST(i AS DOUBLE) + 1.0) / ln(2.0)) AS d
         |  FROM range(1, 11) t(i)),
         |rel AS (SELECT r.query_id,
         |    CASE WHEN lq.label = lnb.label THEN 1.0 ELSE 0.0 END AS rel, disc.d
         |  FROM r JOIN e lq ON lq.vec_id = r.query_id
         |  JOIN e lnb ON lnb.vec_id = r.neighbor_id
         |  JOIN disc ON disc.i = r.rank
         |  WHERE r.rank <= 10),
         |byq AS (SELECT query_id,
         |    CAST(sum(CAST(rel * d AS DECIMAL(38,18))) AS DOUBLE) AS dcg,
         |    CAST(sum(rel) AS BIGINT) AS n_rel FROM rel GROUP BY 1),
         |f AS (SELECT b.query_id, b.dcg, b.n_rel,
         |    coalesce(CAST(sum(CAST(d.d AS DECIMAL(38,18))) AS DOUBLE), 0.0) AS idcg
         |  FROM byq b LEFT JOIN disc d ON d.i <= b.n_rel GROUP BY 1, 2, 3)
         |SELECT query_id, n_rel, round(dcg, 6) AS dcg, round(idcg, 6) AS idcg,
         |  round(CASE WHEN idcg > 0.0 THEN dcg / idcg ELSE 0.0 END, 6) AS ndcg
         |FROM f ORDER BY query_id""".stripMargin),
    // Recall@5 of the ss7 two-stage index against the ss1 exact top-5:
    // both deterministic chains replayed, intersected per query.
    Gate("rec1_ann_recall", (s, d) => Similarity.annRecallAtK(s, d),
      annRecallOracle(nq = 5, cand = 20, k = 5)),
    Gate("rec2_ann_recall_wide", (s, d) =>
      Similarity.annRecallAtK(s, d, nQueries = 20, k = 10, candidates = 50),
      annRecallOracle(nq = 20, cand = 50, k = 10)),
    // RR per query from the first label match in the exact top-10; the
    // corpus MRR (DECIMAL-summed fold) rides every row.
    Gate("mrr1_mean_recip_rank", (s, d) => Similarity.mrrAtK(s, d),
      s"""WITH e AS (SELECT vec_id, label,
         |    list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v FROM embeddings),
         |q AS (SELECT vec_id AS query_id, v AS qv, label AS ql
         |  FROM e WHERE vec_id < 5),
         |s AS (SELECT query_id, ql, e.vec_id, e.label AS nl,
         |    round(${foldCosine("qv", "e.v")}, 6) AS score
         |  FROM q JOIN e ON e.vec_id <> q.query_id),
         |r AS (SELECT query_id, ql, nl,
         |    CAST(row_number() OVER (PARTITION BY query_id
         |      ORDER BY score DESC, vec_id ASC) AS INT) AS rank FROM s),
         |fh AS (SELECT query_id, CAST(min(rank) AS INT) AS first_rel
         |  FROM r WHERE rank <= 10 AND ql = nl GROUP BY 1),
         |pq AS (SELECT q.query_id, fh.first_rel,
         |    coalesce(1.0 / CAST(fh.first_rel AS DOUBLE), 0.0) AS rr
         |  FROM (SELECT DISTINCT query_id FROM r) q
         |  LEFT JOIN fh USING (query_id)),
         |m AS (SELECT CAST(sum(CAST(rr AS DECIMAL(38,18))) AS DOUBLE)
         |    / CAST(count(*) AS DOUBLE) AS m FROM pq)
         |SELECT query_id, first_rel, round(rr, 6) AS rr, round(m.m, 6) AS mrr
         |FROM pq CROSS JOIN m ORDER BY query_id""".stripMargin),
    // Exact LOF chain on the capped sample: 6-dp DECIMAL distances,
    // 9-dp quantized lrd, so every aggregation is order-invariant.
    Gate("lof1_local_outliers", (s, d) => Similarity.lofGate(s, d),
      s"""WITH e AS (SELECT vec_id AS id,
         |    list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
         |  FROM embeddings WHERE vec_id % 10 = 0),
         |p AS (SELECT a.id AS pa, b.id AS pb,
         |    CAST(round(1.0 - (${foldCosine("a.v", "b.v")}), 6)
         |      AS DECIMAL(10,6)) AS dist
         |  FROM e a JOIN e b ON a.id <> b.id),
         |r AS (SELECT pa, pb, dist,
         |    row_number() OVER (PARTITION BY pa ORDER BY dist, pb) AS rn
         |  FROM p),
         |kd AS (SELECT pa AS id, min(CASE WHEN rn = 5 THEN dist END) AS kdist
         |  FROM r GROUP BY 1),
         |nk AS (SELECT p.pa, p.pb, p.dist FROM p JOIN kd ON kd.id = p.pa
         |  WHERE p.dist <= kd.kdist),
         |reach AS (SELECT nk.pa, nk.pb,
         |    greatest(kdo.kdist, nk.dist,
         |      CAST(0.000001 AS DECIMAL(10,6))) AS rd
         |  FROM nk JOIN kd kdo ON kdo.id = nk.pb),
         |lrd AS (SELECT pa AS id,
         |    CAST(round(CAST(count(*) AS DOUBLE) / CAST(sum(rd) AS DOUBLE), 9)
         |      AS DECIMAL(28,9)) AS lrd
         |  FROM reach GROUP BY 1),
         |lof AS (SELECT nk.pa AS id, count(*) AS nn,
         |    round(CAST(sum(lo.lrd) AS DOUBLE) / count(*)
         |      / CAST(max(lp.lrd) AS DOUBLE), 6) AS lof
         |  FROM nk JOIN lrd lo ON lo.id = nk.pb
         |  JOIN lrd lp ON lp.id = nk.pa
         |  GROUP BY 1)
         |SELECT CAST(id AS BIGINT) AS vec_id,
         |  CAST(nn AS BIGINT) AS n_neighbors, lof
         |FROM lof ORDER BY lof DESC, vec_id LIMIT 20""".stripMargin),
    Gate("ss6_lsh_ann_checked", (s, d) => Similarity.lshAnnChecked(s, d),
      s"""WITH e AS (SELECT vec_id,
         |    list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v FROM embeddings),
         |sg AS (SELECT vec_id, CAST(sum(CASE WHEN dot > 0
         |      THEN CAST(1 AS BIGINT) << j ELSE CAST(0 AS BIGINT) END) AS BIGINT) AS sig
         |  FROM (SELECT e.vec_id, t.j, list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
         |      list_transform(range(0,64), d ->
         |        CAST(e.v[d+1] AS DOUBLE)
         |        * (CASE WHEN md5('lsh_'||t.j||'_'||d)[1] < '8' THEN CAST(1.0 AS DOUBLE)
         |                ELSE CAST(-1.0 AS DOUBLE) END))), (a,b) -> a + b) AS dot
         |    FROM e, unnest(range(0,6)) AS t(j)) GROUP BY vec_id),
         |q AS (SELECT e.vec_id AS query_id, e.v AS qv, sg.sig AS qsig
         |  FROM e JOIN sg USING (vec_id) WHERE vec_id < 5),
         |s AS (SELECT q.query_id, e.vec_id,
         |    round(${foldCosine("qv", "e.v")}, 6) AS score
         |  FROM q JOIN sg ON sg.sig = q.qsig AND sg.vec_id <> q.query_id
         |  JOIN e ON e.vec_id = sg.vec_id),
         |r AS (SELECT query_id, vec_id AS neighbor_id, score,
         |    CAST(row_number() OVER (PARTITION BY query_id
         |      ORDER BY score DESC, vec_id ASC) AS INT) AS rank FROM s)
         |SELECT query_id, neighbor_id, rank, score FROM r
         |WHERE rank <= 5 ORDER BY query_id, rank""".stripMargin),
    // ss9's oracle is a FULL REBUILD: signatures recomputed from the
    // whole corpus (seed 'idx_'), bucket join, exact cosine re-rank —
    // the hash match proves the incrementally-maintained TxTable index
    // is row-for-row equivalent to rebuilding from scratch.
    Gate("ss9_tx_ann_index", (s, d) => Similarity.txAnnIndexGate(s, d),
      s"""WITH e AS (SELECT vec_id,
         |    list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v FROM embeddings),
         |sg AS (SELECT vec_id, CAST(sum(CASE WHEN dot > 0
         |      THEN CAST(1 AS BIGINT) << j ELSE CAST(0 AS BIGINT) END) AS BIGINT) AS sig
         |  FROM (SELECT e.vec_id, t.j, list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
         |      list_transform(range(0,64), d ->
         |        CAST(e.v[d+1] AS DOUBLE)
         |        * (CASE WHEN md5('idx_'||t.j||'_'||d)[1] < '8' THEN CAST(1.0 AS DOUBLE)
         |                ELSE CAST(-1.0 AS DOUBLE) END))), (a,b) -> a + b) AS dot
         |    FROM e, unnest(range(0,6)) AS t(j)) GROUP BY vec_id),
         |q AS (SELECT e.vec_id AS query_id, e.v AS qv, sg.sig AS qsig
         |  FROM e JOIN sg USING (vec_id) WHERE vec_id >= 10 AND vec_id < 15),
         |s AS (SELECT q.query_id, e.vec_id,
         |    round(${foldCosine("qv", "e.v")}, 6) AS score
         |  FROM q JOIN sg ON sg.sig = q.qsig AND sg.vec_id <> q.query_id
         |  JOIN e ON e.vec_id = sg.vec_id),
         |r AS (SELECT query_id, vec_id AS neighbor_id, score,
         |    CAST(row_number() OVER (PARTITION BY query_id
         |      ORDER BY score DESC, vec_id ASC) AS INT) AS rank FROM s)
         |SELECT query_id, neighbor_id, rank, score FROM r
         |WHERE rank <= 5 ORDER BY query_id, rank""".stripMargin),
    Gate("ss7_projected_ann", (s, d) => Similarity.projectedAnn(s, d),
      s"""WITH e AS (SELECT vec_id,
         |    list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v FROM embeddings),
         |pr AS (SELECT vec_id, list(value ORDER BY out_dim) AS p FROM (
         |  SELECT vec_id, CAST(j AS INT) AS out_dim,
         |      round(list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
         |        list_transform(range(0,64), d ->
         |          CAST(e.v[d+1] AS DOUBLE)
         |          * (CASE WHEN md5(j||'_'||d)[1] < '8' THEN CAST(1.0 AS DOUBLE)
         |                  ELSE CAST(-1.0 AS DOUBLE) END))),
         |        (a,b) -> a + b) / 4.0, 6) AS value
         |    FROM e, unnest(range(0,16)) AS t(j)) GROUP BY vec_id),
         |q AS (SELECT e.vec_id AS query_id, e.v AS qv, pr.p AS qp
         |  FROM e JOIN pr USING (vec_id) WHERE vec_id < 5),
         |c AS (SELECT query_id, e.vec_id, qv, e.v,
         |    round(${foldCosine("qp", "pr.p")}, 6) AS pscore
         |  FROM q JOIN pr ON pr.vec_id <> q.query_id JOIN e ON e.vec_id = pr.vec_id),
         |cr AS (SELECT query_id, vec_id, qv, v,
         |    row_number() OVER (PARTITION BY query_id
         |      ORDER BY pscore DESC, vec_id ASC) AS crank FROM c),
         |f AS (SELECT query_id, vec_id,
         |    round(${foldCosine("qv", "v")}, 6) AS score
         |  FROM cr WHERE crank <= 20),
         |r AS (SELECT query_id, vec_id AS neighbor_id, score,
         |    CAST(row_number() OVER (PARTITION BY query_id
         |      ORDER BY score DESC, vec_id ASC) AS INT) AS rank FROM f)
         |SELECT query_id, neighbor_id, rank, score FROM r
         |WHERE rank <= 5 ORDER BY query_id, rank""".stripMargin),
    Gate("ss8_hybrid_rrf", (s, d) => Similarity.hybridRrfTopK(s, d),
      s"""WITH w AS (SELECT doc_id, regexp_split_to_array(trim(text),'\\s+') AS ws
         |  FROM documents),
         |d AS (SELECT doc_id, ws, CAST(len(ws) AS BIGINT) AS dl FROM w),
         |g AS (SELECT CAST(count(*) AS BIGINT) AS n,
         |    CAST(sum(dl) AS DOUBLE)/count(*) AS avgdl FROM d),
         |t AS (SELECT doc_id, dl, unnest(ws) AS term FROM d),
         |tf AS (SELECT doc_id, dl, term, CAST(count(*) AS BIGINT) AS tf FROM t
         |  WHERE term IN ('spark','join','window') GROUP BY 1,2,3),
         |df AS (SELECT term, CAST(count(*) AS BIGINT) AS df FROM tf GROUP BY 1),
         |s AS (SELECT tf.doc_id, tf.term,
         |    ln((CAST(g.n AS DOUBLE) - df.df + 0.5)/(df.df + 0.5) + 1) *
         |    ((CAST(tf.tf AS DOUBLE)*(1.2 + 1)) /
         |     (CAST(tf.tf AS DOUBLE) + 1.2*(1 - 0.75 + 0.75*CAST(tf.dl AS DOUBLE)/g.avgdl)))
         |      AS part
         |  FROM tf JOIN df USING (term), g),
         |agg AS (SELECT doc_id,
         |    round(list_reduce(list_prepend(CAST(0 AS DOUBLE),
         |      list(part ORDER BY term)), (a,b) -> a + b), 6) AS score
         |  FROM s GROUP BY doc_id),
         |rt AS (SELECT doc_id,
         |    CAST(row_number() OVER (ORDER BY score DESC, doc_id) AS INT) AS rank_text
         |  FROM agg QUALIFY rank_text <= 20),
         |e AS (SELECT vec_id,
         |    list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v FROM embeddings),
         |q AS (SELECT v AS qv FROM e WHERE vec_id = 0),
         |sv AS (SELECT e.vec_id AS doc_id,
         |    round(${foldCosine("qv", "e.v")}, 6) AS vscore
         |  FROM e, q WHERE e.vec_id < 500 AND e.vec_id <> 0),
         |rv AS (SELECT doc_id,
         |    CAST(row_number() OVER (ORDER BY vscore DESC, doc_id) AS INT) AS rank_vec
         |  FROM sv QUALIFY rank_vec <= 20)
         |SELECT coalesce(rt.doc_id, rv.doc_id) AS doc_id,
         |  round(coalesce(1.0/(60 + rank_text), 0.0)
         |    + coalesce(1.0/(60 + rank_vec), 0.0), 6) AS rrf
         |FROM rt FULL OUTER JOIN rv ON rt.doc_id = rv.doc_id
         |ORDER BY rrf DESC, doc_id LIMIT 10""".stripMargin),
    // Ranks computed on round(6) scores with vid tiebreaks — identical
    // on both engines; easy negatives are an md5 lottery, same string
    // key "qid_vid" on both sides.
    Gate("ns1_contrastive_sampling", (s, d) => Similarity.contrastiveSampling(s, d),
      s"""WITH e AS (SELECT vec_id,
         |    list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v FROM embeddings),
         |q AS (SELECT vec_id AS qid, v AS qv FROM e WHERE vec_id < 3),
         |s AS (SELECT qid, e.vec_id AS vid,
         |    round(${foldCosine("qv", "e.v")}, 6) AS score
         |  FROM q JOIN e ON e.vec_id <> q.qid),
         |r AS (SELECT qid, vid, score,
         |    row_number() OVER (PARTITION BY qid ORDER BY score DESC, vid) AS rk
         |  FROM s),
         |hard AS (SELECT qid, vid, 'hard' AS role, score FROM r
         |  WHERE rk BETWEEN 11 AND 15),
         |easy AS (SELECT qid, vid, 'easy' AS role, score FROM (
         |    SELECT qid, vid, score,
         |      row_number() OVER (PARTITION BY qid
         |        ORDER BY md5(qid || '_' || vid), vid) AS er
         |    FROM r WHERE rk > 30) WHERE er <= 5)
         |SELECT qid AS query_id, vid AS vec_id, role, score FROM hard
         |UNION ALL
         |SELECT qid AS query_id, vid AS vec_id, role, score FROM easy
         |ORDER BY query_id, role, vec_id""".stripMargin),
    // Full PQ/ADC replay (ss4, upgraded from rows-only in round 9):
    // first-16 subvector seeding, TWO decimal-mean Lloyd sweeps per
    // subspace, encode, ADC candidate ranking with per-subspace terms
    // folded in subspace order, exact re-rank of the 30 survivors.
    // Same surrogate (‖c‖² − 2·x·c, ties on code id) and fold orders
    // as the Spark plan; fuzz-matched against a local replay.
    Gate("ss4_pq_search", (s, d) => Similarity.pqSearch(s, d),
      s"""WITH e AS (SELECT vec_id,
         |    list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v FROM embeddings),
         |sub AS (SELECT vec_id, CAST(t.m AS INT) AS m,
         |    list_slice(v, t.m*8+1, t.m*8+8) AS sv
         |  FROM e, unnest(range(0,8)) AS t(m)),
         |cb0 AS (SELECT m, CAST(vec_id AS INT) AS ki, sv AS c FROM sub WHERE vec_id < 16),
         |pa1 AS (SELECT vec_id, m, sv, ki AS code FROM (
         |  SELECT s.vec_id, s.m, s.sv, c.ki,
         |    row_number() OVER (PARTITION BY s.vec_id, s.m ORDER BY
         |      (${foldSum("list_transform(c.c, x -> x*x)")} - 2.0 * ${foldDot("s.sv", "c.c")}), c.ki) AS rk
         |  FROM sub s JOIN cb0 c ON c.m = s.m) WHERE rk = 1),
         |cb1 AS (SELECT p.m, p.ki, COALESCE(nm.nc, p.c) AS c FROM cb0 p
         |  LEFT JOIN (SELECT m, code AS ki, list(mv ORDER BY dim) AS nc FROM (
         |      SELECT m, code, d AS dim,
         |        CAST(sum(CAST(round(sv[d+1], 10) AS DECIMAL(25,10))) AS DOUBLE)
         |          / count(*) AS mv
         |      FROM pa1, unnest(range(0,8)) AS t(d) GROUP BY m, code, d) x
         |    GROUP BY m, ki) nm ON nm.m = p.m AND nm.ki = p.ki),
         |pa2 AS (SELECT vec_id, m, sv, ki AS code FROM (
         |  SELECT s.vec_id, s.m, s.sv, c.ki,
         |    row_number() OVER (PARTITION BY s.vec_id, s.m ORDER BY
         |      (${foldSum("list_transform(c.c, x -> x*x)")} - 2.0 * ${foldDot("s.sv", "c.c")}), c.ki) AS rk
         |  FROM sub s JOIN cb1 c ON c.m = s.m) WHERE rk = 1),
         |cb2 AS (SELECT p.m, p.ki, COALESCE(nm.nc, p.c) AS c FROM cb1 p
         |  LEFT JOIN (SELECT m, code AS ki, list(mv ORDER BY dim) AS nc FROM (
         |      SELECT m, code, d AS dim,
         |        CAST(sum(CAST(round(sv[d+1], 10) AS DECIMAL(25,10))) AS DOUBLE)
         |          / count(*) AS mv
         |      FROM pa2, unnest(range(0,8)) AS t(d) GROUP BY m, code, d) x
         |    GROUP BY m, ki) nm ON nm.m = p.m AND nm.ki = p.ki),
         |pa3 AS (SELECT vec_id, m, sv, ki AS code FROM (
         |  SELECT s.vec_id, s.m, s.sv, c.ki,
         |    row_number() OVER (PARTITION BY s.vec_id, s.m ORDER BY
         |      (${foldSum("list_transform(c.c, x -> x*x)")} - 2.0 * ${foldDot("s.sv", "c.c")}), c.ki) AS rk
         |  FROM sub s JOIN cb2 c ON c.m = s.m) WHERE rk = 1),
         |q AS (SELECT vec_id AS query_id, v AS qv,
         |    sqrt(${foldSum("list_transform(v, x -> x*x)")}) AS qnrm
         |  FROM e WHERE vec_id < 5),
         |qsub AS (SELECT vec_id AS query_id, m, sv AS qsv FROM sub WHERE vec_id < 5),
         |terms AS (SELECT qs.query_id, f.vec_id, qs.m,
         |    (${foldSum("list_transform(c.c, x -> x*x)")} - 2.0 * ${foldDot("qs.qsv", "c.c")}) AS term
         |  FROM qsub qs JOIN pa3 f ON f.m = qs.m AND f.vec_id <> qs.query_id
         |  JOIN cb2 c ON c.m = f.m AND c.ki = f.code),
         |adist AS (SELECT query_id, vec_id,
         |    list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
         |      list(term ORDER BY m)), (x,y) -> x + y) AS a
         |  FROM terms GROUP BY query_id, vec_id),
         |cand AS (SELECT query_id, vec_id FROM (
         |  SELECT query_id, vec_id, row_number() OVER (PARTITION BY query_id
         |    ORDER BY a ASC, vec_id ASC) AS rk FROM adist) WHERE rk <= 30),
         |s AS (SELECT q.query_id, e.vec_id,
         |    round(${foldDot("q.qv", "e.v")}
         |      / (q.qnrm * sqrt(${foldSum("list_transform(e.v, x -> x*x)")})), 6) AS score
         |  FROM cand JOIN q ON q.query_id = cand.query_id
         |  JOIN e ON e.vec_id = cand.vec_id),
         |r AS (SELECT query_id, vec_id AS neighbor_id, score,
         |    CAST(row_number() OVER (PARTITION BY query_id
         |      ORDER BY score DESC, vec_id ASC) AS INT) AS rank FROM s)
         |SELECT query_id, neighbor_id, rank, score FROM r
         |WHERE rank <= 10 ORDER BY query_id, rank""".stripMargin),
    // Okapi BM25 (k1=1.2, b=0.75, Lucene idf); per-doc score folds over
    // term-sorted partials on both engines; ln() + round(6) per the
    // determinism contract.
    Gate("ss5_bm25_topk", (s, d) => Similarity.bm25TopK(s, d),
      """WITH w AS (SELECT doc_id, regexp_split_to_array(trim(text),'\s+') AS ws
        |  FROM documents),
        |d AS (SELECT doc_id, ws, CAST(len(ws) AS BIGINT) AS dl FROM w),
        |g AS (SELECT CAST(count(*) AS BIGINT) AS n,
        |    CAST(sum(dl) AS DOUBLE)/count(*) AS avgdl FROM d),
        |t AS (SELECT doc_id, dl, unnest(ws) AS term FROM d),
        |tf AS (SELECT doc_id, dl, term, CAST(count(*) AS BIGINT) AS tf FROM t
        |  WHERE term IN ('spark','join','window') GROUP BY 1,2,3),
        |df AS (SELECT term, CAST(count(*) AS BIGINT) AS df FROM tf GROUP BY 1),
        |s AS (SELECT tf.doc_id, tf.term,
        |    ln((CAST(g.n AS DOUBLE) - df.df + 0.5)/(df.df + 0.5) + 1) *
        |    ((CAST(tf.tf AS DOUBLE)*(1.2 + 1)) /
        |     (CAST(tf.tf AS DOUBLE) + 1.2*(1 - 0.75 + 0.75*CAST(tf.dl AS DOUBLE)/g.avgdl)))
        |      AS part
        |  FROM tf JOIN df USING (term), g),
        |agg AS (SELECT doc_id,
        |    round(list_reduce(list_prepend(CAST(0 AS DOUBLE),
        |      list(part ORDER BY term)), (a,b) -> a + b), 6) AS score
        |  FROM s GROUP BY doc_id)
        |SELECT doc_id, score FROM agg ORDER BY score DESC, doc_id LIMIT 10""".stripMargin),
    // Greedy k-center coreset: generated CTE chain replays all k-1
    // argmax/relax rounds (see kcenterOracle).
    Gate("ksel1_kcenter_coreset", (s, d) => Similarity.kcenterCoreset(s, d),
      kcenterOracle(k = 8, seedId = 0L)),
    // MMR diversified re-rank: generated CTE chain replays the k-step
    // greedy against the union of prior picks (see mmrOracle).
    Gate("mmr1_diversified_rerank", (s, d) => Similarity.mmrRerank(s, d),
      mmrOracle(nq = 5, pool = 10, k = 5, lambda = 0.7)),
  )

  /** Full replay of the Gonzalez greedy (Similarity.kcenterCoreset):
    * the k−1 argmax/relax rounds unroll into a generated CTE chain —
    * each round picks the rounded-cosine-distance argmax (tie:
    * vec_id) and folds the min-distance column with `least`, exactly
    * the Spark loop's algebra. */
  private def kcenterOracle(k: Int, seedId: Long): String = {
    def dist(v: String, s: String) = s"round(1.0 - (${foldCosine(v, s)}), 6)"
    val ctes = collection.mutable.ListBuffer(
      "e AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v FROM embeddings)",
      s"d0 AS (SELECT e.vec_id, ${dist("e.v", "s.v")} AS md FROM e " +
        s"CROSS JOIN (SELECT v FROM e WHERE vec_id = $seedId) s)")
    val sels = collection.mutable.ListBuffer[String]()
    for (t <- 1 until k) {
      ctes += s"p$t AS (SELECT vec_id AS c, md AS r FROM d${t - 1} " +
        "ORDER BY md DESC, vec_id ASC LIMIT 1)"
      sels += s"SELECT $t AS sel_round, c AS center_id, r AS radius FROM p$t"
      ctes += s"d$t AS (SELECT e.vec_id, least(d${t - 1}.md, " +
        s"${dist("e.v", "s.v")}) AS md " +
        s"FROM e JOIN d${t - 1} ON e.vec_id = d${t - 1}.vec_id " +
        s"CROSS JOIN (SELECT e2.v FROM e e2 JOIN p$t ON e2.vec_id = p$t.c) s)"
    }
    sels += s"SELECT $k AS sel_round, CAST(-1 AS BIGINT) AS center_id, " +
      s"(SELECT max(md) FROM d${k - 1}) AS radius"
    ctes.mkString("WITH ", ",\n", "") +
      "\nSELECT CAST(sel_round AS INT) AS sel_round, " +
      "CAST(center_id AS BIGINT) AS center_id, radius FROM (" +
      sels.mkString(" UNION ALL ") + ") ORDER BY sel_round"
  }

  /** Full replay of the MMR greedy (Similarity.mmrRerank): candidate
    * top-`pool` by rounded relevance, then k−1 generated selection
    * CTEs, each re-scoring the un-selected pool by
    * round(λ·rel − (1−λ)·maxsim, 6) against the union of prior picks. */
  private def mmrOracle(nq: Int, pool: Int, k: Int, lambda: Double): String = {
    val head =
      s"""WITH e AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v FROM embeddings),
         |q AS (SELECT vec_id AS query_id, v AS qv FROM e WHERE vec_id < $nq),
         |s AS (SELECT query_id, e.vec_id, e.v, round(${foldCosine("qv", "e.v")}, 6) AS rel
         |  FROM q JOIN e ON e.vec_id <> q.query_id),
         |cand AS (SELECT query_id, vec_id, v, rel FROM (
         |    SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY rel DESC, vec_id ASC) AS rk FROM s)
         |  WHERE rk <= $pool),
         |sims AS (SELECT a.query_id, a.vec_id AS a, b.vec_id AS b,
         |    round(${foldCosine("a.v", "b.v")}, 6) AS sim
         |  FROM cand a JOIN cand b ON a.query_id = b.query_id AND a.vec_id <> b.vec_id),
         |sel1 AS (SELECT query_id, vec_id, rel, CAST(1 AS INT) AS step, rel AS mmr FROM (
         |    SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY rel DESC, vec_id ASC) AS rk FROM cand)
         |  WHERE rk = 1)""".stripMargin
    val parts = collection.mutable.ListBuffer(head)
    var prevUnion = "SELECT query_id, vec_id FROM sel1"
    for (t <- 2 to k) {
      parts +=
        s"""selall${t - 1} AS ($prevUnion),
           |st$t AS (SELECT c.query_id, c.vec_id, c.rel,
           |    round($lambda*c.rel - ${1.0 - lambda}*max(s.sim), 6) AS mmr
           |  FROM cand c
           |  JOIN sims s ON s.query_id = c.query_id AND s.a = c.vec_id
           |  JOIN selall${t - 1} p ON p.query_id = s.query_id AND p.vec_id = s.b
           |  WHERE NOT EXISTS (SELECT 1 FROM selall${t - 1} x
           |    WHERE x.query_id = c.query_id AND x.vec_id = c.vec_id)
           |  GROUP BY 1, 2, 3),
           |sel$t AS (SELECT query_id, vec_id, rel, CAST($t AS INT) AS step, mmr FROM (
           |    SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY mmr DESC, vec_id ASC) AS rk FROM st$t)
           |  WHERE rk = 1)""".stripMargin
      prevUnion += s" UNION ALL SELECT query_id, vec_id FROM sel$t"
    }
    parts.mkString(",\n") +
      "\nSELECT query_id, step, vec_id AS selected_id, rel, mmr FROM (" +
      (1 to k).map(t => s"SELECT * FROM sel$t").mkString(" UNION ALL ") +
      ") ORDER BY query_id, step"
  }

  /** Full replay of the two-stage projected-ANN recall pipeline
    * (Similarity.annRecallAtK): exact top-k, md5-sign 16-dim
    * projection, coarse top-`cand` by projected cosine, exact re-rank
    * to top-k, recall vs the exact set. Parameterized so rec1 (5
    * queries, k=5) and rec2 (20 queries, k=10, 50 candidates) share
    * one definition — the projection table is corpus-sized either
    * way, so the wide gate costs the oracle almost nothing extra.
    */
  private def annRecallOracle(nq: Int, cand: Int, k: Int): String =
    s"""WITH e AS (SELECT vec_id,
       |    list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v FROM embeddings),
       |qx AS (SELECT vec_id AS query_id, v AS qv FROM e WHERE vec_id < $nq),
       |sx AS (SELECT query_id, e.vec_id,
       |    round(${foldCosine("qv", "e.v")}, 6) AS score
       |  FROM qx JOIN e ON e.vec_id <> qx.query_id),
       |ex AS (SELECT query_id, vec_id FROM (SELECT query_id, vec_id,
       |    row_number() OVER (PARTITION BY query_id
       |      ORDER BY score DESC, vec_id ASC) AS rank FROM sx)
       |  WHERE rank <= $k),
       |pr AS (SELECT vec_id, list(value ORDER BY out_dim) AS p FROM (
       |  SELECT vec_id, CAST(j AS INT) AS out_dim,
       |      round(list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
       |        list_transform(range(0,64), d ->
       |          CAST(e.v[d+1] AS DOUBLE)
       |          * (CASE WHEN md5(j||'_'||d)[1] < '8' THEN CAST(1.0 AS DOUBLE)
       |                  ELSE CAST(-1.0 AS DOUBLE) END))),
       |        (a,b) -> a + b) / 4.0, 6) AS value
       |    FROM e, unnest(range(0,16)) AS t(j)) GROUP BY vec_id),
       |qa AS (SELECT e.vec_id AS query_id, e.v AS qv, pr.p AS qp
       |  FROM e JOIN pr USING (vec_id) WHERE vec_id < $nq),
       |c AS (SELECT query_id, e.vec_id, qv, e.v,
       |    round(${foldCosine("qp", "pr.p")}, 6) AS pscore
       |  FROM qa JOIN pr ON pr.vec_id <> qa.query_id JOIN e ON e.vec_id = pr.vec_id),
       |cr AS (SELECT query_id, vec_id, qv, v,
       |    row_number() OVER (PARTITION BY query_id
       |      ORDER BY pscore DESC, vec_id ASC) AS crank FROM c),
       |f AS (SELECT query_id, vec_id,
       |    round(${foldCosine("qv", "v")}, 6) AS score
       |  FROM cr WHERE crank <= $cand),
       |ra AS (SELECT query_id, vec_id FROM (SELECT query_id, vec_id,
       |    row_number() OVER (PARTITION BY query_id
       |      ORDER BY score DESC, vec_id ASC) AS rank FROM f)
       |  WHERE rank <= $k),
       |h AS (SELECT ex.query_id, CAST(count(*) AS BIGINT) AS n_hits
       |  FROM ex JOIN ra USING (query_id, vec_id) GROUP BY 1)
       |SELECT q.query_id, CAST(coalesce(h.n_hits, 0) AS BIGINT) AS n_hits,
       |  round(CAST(coalesce(h.n_hits, 0) AS DOUBLE) / $k, 6) AS recall
       |FROM (SELECT DISTINCT query_id FROM ex) q
       |LEFT JOIN h USING (query_id) ORDER BY query_id""".stripMargin
}
