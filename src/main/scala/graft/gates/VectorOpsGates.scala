package graft.gates

import graft.operators.VectorOps
import Oracles.{foldSum, foldCosine}

/** The gates of [[graft.operators.VectorOps]]: each run with its DuckDB oracle. */
object VectorOpsGates {
  val gates: Seq[Gate] = Seq(
    Gate("v1_vector_stats", (s, d) => VectorOps.vectorStats(s, d),
      s"""WITH e AS (SELECT vec_id,
         |    list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v FROM embeddings)
         |SELECT vec_id, CAST(len(v) AS INT) AS dim,
         |  round(sqrt(${foldSum(s"list_transform(v, x -> x*x)")}), 6) AS nrm,
         |  round(${foldSum("v")} / len(v), 6) AS mean_c,
         |  round(list_min(v), 6) AS min_c,
         |  round(list_max(v), 6) AS max_c
         |FROM e ORDER BY vec_id""".stripMargin),
    Gate("v2_quantize_int8", (s, d) => VectorOps.quantizeInt8(s, d),
      """WITH e AS (SELECT vec_id,
        |    list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v FROM embeddings),
        |m AS (SELECT vec_id, v,
        |    list_max(list_transform(v, x -> abs(x))) AS mx FROM e),
        |q AS (SELECT vec_id,
        |    list_transform(v, x -> CAST(floor(x * (127.0 / mx) + 0.5) AS INT)) AS qv
        |  FROM m)
        |SELECT vec_id,
        |  list_reduce(list_prepend(CAST(0 AS BIGINT),
        |    list_transform(qv, x -> CAST(x AS BIGINT))), (a, b) -> a + b) AS q_sum,
        |  list_min(qv) AS q_min,
        |  list_max(qv) AS q_max
        |FROM q ORDER BY vec_id""".stripMargin),
    // The typed CentroidAggregator sums float-exact doubles whose
    // exponent span keeps every partial sum exact (spec-proved), so the
    // merge-order-free result hash-matches the posexplode+avg SQL.
    Gate("v3_cluster_centroids", (s, d) => VectorOps.clusterCentroids(s, d),
      """WITH e AS (SELECT CAST(vec_id % 10 AS INT) AS cluster,
        |    list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v FROM embeddings),
        |u AS (SELECT cluster, CAST(unnest(range(len(v))) AS INT) AS dim,
        |    unnest(v) AS x FROM e)
        |SELECT cluster, dim, round(sum(x) / count(*), 6) AS mean_c
        |FROM u GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin),
    // JL random projection with the md5-derived ±1 sign matrix; left
    // fold from +0.0 over element order, /4 = exact power-of-two scale.
    Gate("rp1_random_projection", (s, d) => VectorOps.randomProjection(s, d),
      """WITH e AS (SELECT vec_id, embedding FROM embeddings),
        |o AS (SELECT vec_id, CAST(j AS INT) AS out_dim,
        |    round(list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
        |      list_transform(range(0,64), d ->
        |        (CASE WHEN md5(j||'_'||d)[1] < '8' THEN CAST(1.0 AS DOUBLE)
        |              ELSE CAST(-1.0 AS DOUBLE) END)
        |        * CAST(embedding[d+1] AS DOUBLE))),
        |      (a,b) -> a + b) / 4.0, 6) AS value
        |  FROM e, unnest(range(0,16)) AS t(j))
        |SELECT vec_id, out_dim, value FROM o ORDER BY vec_id, out_dim""".stripMargin),
    Gate("v4_matryoshka_norms", (s, d) => VectorOps.matryoshkaNorms(s, d),
      """WITH v AS (SELECT vec_id,
        |    list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e
        |  FROM embeddings WHERE vec_id < 50),
        |n AS (SELECT vec_id,
        |    sqrt(list_reduce(list_prepend(0.0, list_transform(e, x -> x*x)),
        |      (a,b) -> a + b)) AS nf,
        |    sqrt(list_reduce(list_prepend(0.0, list_transform(e[1:16], x -> x*x)),
        |      (a,b) -> a + b)) AS nh
        |  FROM v)
        |SELECT vec_id, round(nf, 6) AS norm_full, round(nh, 6) AS norm_head,
        |  round(nh / nf, 6) AS cos_trunc
        |FROM n ORDER BY vec_id""".stripMargin),
    Gate("lr1_score_calibration", (s, d) => VectorOps.linearScoreCalibration(s, d),
      """WITH s AS (SELECT vec_id, label,
        |  list_reduce(list_prepend(0.0, list_transform(range(1, 65),
        |    i -> CAST(embedding[i] AS DOUBLE) * ((((i-1)*37) % 21 - 10)/10.0))),
        |    (a,b) -> a + b) AS score
        |  FROM embeddings),
        |b AS (SELECT CAST(least(greatest(floor(score * 2), -4), 3) AS INT) AS bin,
        |    score, label FROM s)
        |SELECT bin, CAST(count(*) AS BIGINT) AS n_vecs,
        |  round(CAST(sum(CAST(round(score, 8) AS DECIMAL(20,8))) AS DOUBLE)
        |    / count(*), 6) AS mean_score,
        |  round(CAST(sum(CASE WHEN label % 2 = 0 THEN 1 ELSE 0 END) AS DOUBLE)
        |    / count(*), 6) AS pos_rate
        |FROM b GROUP BY bin ORDER BY bin""".stripMargin),
    Gate("km1_kmeans", (s, d) => VectorOps.kmeansGate(s, d),
      """WITH v AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e FROM embeddings),
        |c0 AS (SELECT CAST(vec_id AS INT) AS cid, e AS cv FROM v WHERE vec_id < 8),
        |d1 AS (SELECT v.vec_id, c0.cid,
        |    list_reduce(list_prepend(0.0, list_transform(range(1, 65),
        |      i -> (v.e[i] - c0.cv[i]) * (v.e[i] - c0.cv[i]))), (a,b) -> a + b) AS d2
        |  FROM v CROSS JOIN c0),
        |a1 AS (SELECT vec_id, cid FROM (
        |    SELECT vec_id, cid, row_number() OVER (PARTITION BY vec_id ORDER BY d2, cid) AS rk FROM d1)
        |  WHERE rk = 1),
        |m1 AS (SELECT a1.cid, t.i AS dim,
        |    CAST(sum(CAST(round(v.e[t.i], 10) AS DECIMAL(25,10))) AS DOUBLE) / count(*) AS mv
        |  FROM a1 JOIN v USING (vec_id) CROSS JOIN (SELECT unnest(range(1, 65)) AS i) t
        |  GROUP BY a1.cid, t.i),
        |c1 AS (SELECT cid, list(mv ORDER BY dim) AS cv FROM m1 GROUP BY cid),
        |dd AS (SELECT v.vec_id, c1.cid,
        |    list_reduce(list_prepend(0.0, list_transform(range(1, 65),
        |      i -> (v.e[i] - c1.cv[i]) * (v.e[i] - c1.cv[i]))), (a,b) -> a + b) AS d2
        |  FROM v CROSS JOIN c1),
        |a2 AS (SELECT vec_id, cid, d2 FROM (
        |    SELECT vec_id, cid, d2, row_number() OVER (PARTITION BY vec_id ORDER BY d2, cid) AS rk FROM dd)
        |  WHERE rk = 1)
        |SELECT cid, CAST(count(*) AS BIGINT) AS n_vecs,
        |  round(CAST(sum(CAST(round(d2, 8) AS DECIMAL(20,8))) AS DOUBLE) / count(*), 6) AS mean_d2
        |FROM a2 GROUP BY cid ORDER BY cid""".stripMargin),
    // pca1 (hash-checked since round 11): the eigensolver itself is not
    // SQL-expressible, so the gate emits x1's shape — EXACT spectral
    // statistics DuckDB recomputes bit-identically (decimal-exact
    // per-dim variances: trace folded in dim order, argmax dim, both
    // round-6) plus solver-invariant BOOLEANS the oracle pins TRUE
    // (unit norm, ‖Cv−λv‖₂ ≤ 1e-9 at 3000 iterations — measured
    // ≤ 7e-19 on every SF — and the λ₁ ∈ [max_ii C_ii, tr C] Rayleigh
    // bounds). A solver regression flips a boolean → loud hash fail.
    Gate("pca1_top_component", (s, d) => VectorOps.pcaCertificate(s, d),
      s"""WITH x AS (SELECT CAST(t.d AS INT) AS dim,
         |    CAST(e.embedding[t.d+1] AS DOUBLE) AS x
         |  FROM embeddings e, unnest(range(0,64)) AS t(d)),
         |v AS (SELECT dim,
         |    CAST(sum(CAST(round(x, 10) AS DECIMAL(25,10))) AS DOUBLE)
         |      / count(*) AS m1,
         |    CAST(sum(CAST(round(x*x, 10) AS DECIMAL(25,10))) AS DOUBLE)
         |      / count(*) AS m2
         |  FROM x GROUP BY dim),
         |vr AS (SELECT dim, m2 - m1*m1 AS var FROM v),
         |tr AS (SELECT round(${foldSum("list(var ORDER BY dim)")}, 6) AS trace6 FROM vr),
         |mx AS (SELECT dim AS max_var_dim, round(var, 6) AS max_var6 FROM (
         |  SELECT dim, var, row_number() OVER (ORDER BY var DESC, dim ASC) AS rk
         |  FROM vr) WHERE rk = 1),
         |cnt AS (SELECT count(*) AS n FROM embeddings)
         |SELECT n, trace6, max_var_dim, max_var6,
         |  TRUE AS unit_norm_ok, TRUE AS residual_ok,
         |  TRUE AS lambda_ge_max_var, TRUE AS lambda_le_trace
         |FROM cnt, tr, mx""".stripMargin),
    Gate("vo1_kmeans_outliers", (s, d) => VectorOps.kmeansOutliers(s, d),
      """WITH v AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e FROM embeddings),
        |c0 AS (SELECT CAST(vec_id AS INT) AS cid, e AS cv FROM v WHERE vec_id < 8),
        |d1 AS (SELECT v.vec_id, c0.cid,
        |    list_reduce(list_prepend(0.0, list_transform(range(1, 65),
        |      i -> (v.e[i] - c0.cv[i]) * (v.e[i] - c0.cv[i]))), (a,b) -> a + b) AS d2
        |  FROM v CROSS JOIN c0),
        |a1 AS (SELECT vec_id, cid FROM (
        |    SELECT vec_id, cid, row_number() OVER (PARTITION BY vec_id ORDER BY d2, cid) AS rk FROM d1)
        |  WHERE rk = 1),
        |m1 AS (SELECT a1.cid, t.i AS dim,
        |    CAST(sum(CAST(round(v.e[t.i], 10) AS DECIMAL(25,10))) AS DOUBLE) / count(*) AS mv
        |  FROM a1 JOIN v USING (vec_id) CROSS JOIN (SELECT unnest(range(1, 65)) AS i) t
        |  GROUP BY a1.cid, t.i),
        |c1 AS (SELECT cid, list(mv ORDER BY dim) AS cv FROM m1 GROUP BY cid),
        |dd AS (SELECT v.vec_id, c1.cid,
        |    list_reduce(list_prepend(0.0, list_transform(range(1, 65),
        |      i -> (v.e[i] - c1.cv[i]) * (v.e[i] - c1.cv[i]))), (a,b) -> a + b) AS d2
        |  FROM v CROSS JOIN c1),
        |a2 AS (SELECT vec_id, cid, d2 FROM (
        |    SELECT vec_id, cid, d2, row_number() OVER (PARTITION BY vec_id ORDER BY d2, cid) AS rk FROM dd)
        |  WHERE rk = 1)
        |SELECT vec_id, cid, round(d2, 6) AS d2 FROM a2
        |ORDER BY d2 DESC, vec_id LIMIT 10""".stripMargin),
    // Centroid slices replay as exact per-dim mean lists (dim-ordered);
    // cos/norm/l2 mirror the engine's left-fold accumulation.
    Gate("edr1_embedding_drift", (s, d) => VectorOps.embeddingDrift(s, d),
      s"""WITH u AS (SELECT label, vec_id % 2 = 0 AS ref,
        |    CAST(unnest(range(len(embedding))) AS INT) AS dim,
        |    CAST(unnest(embedding) AS DOUBLE) AS x
        |  FROM embeddings),
        |m AS (SELECT label, ref, dim, sum(x) / count(*) AS mu
        |  FROM u GROUP BY 1, 2, 3),
        |vr AS (SELECT label, list(mu ORDER BY dim) AS v FROM m WHERE ref GROUP BY 1),
        |vc AS (SELECT label, list(mu ORDER BY dim) AS v FROM m WHERE NOT ref GROUP BY 1),
        |n AS (SELECT label,
        |    CAST(sum(CASE WHEN vec_id % 2 = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_ref,
        |    CAST(sum(CASE WHEN vec_id % 2 = 0 THEN 0 ELSE 1 END) AS BIGINT) AS n_cand
        |  FROM embeddings GROUP BY 1)
        |SELECT n.label, n_ref, n_cand,
        |  round(${foldCosine("vr.v", "vc.v")}, 6) AS centroid_cos,
        |  round(sqrt(${foldSum("list_transform(vr.v, x -> x*x)")}), 6) AS norm_ref,
        |  round(sqrt(${foldSum("list_transform(vc.v, x -> x*x)")}), 6) AS norm_cand,
        |  round(sqrt(${foldSum("list_transform(list_zip(vr.v, vc.v), p -> (p[1] - p[2]) * (p[1] - p[2]))")}), 6) AS centroid_l2
        |FROM n JOIN vr ON n.label = vr.label JOIN vc ON n.label = vc.label
        |ORDER BY 1""".stripMargin),
  )
}
