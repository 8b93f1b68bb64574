package graft.gates

import graft.operators.TextAnalysis

/** Oracle SQL fragments shared by more than one gate family, kept in one
  * place so Spark-side constants and SQL-side literals cannot drift.
  */
object Oracles {
  def sqlList(xs: Seq[String]): String =
    xs.map(x => s"'$x'").mkString(", ")

  /** Left-fold sum over a DOUBLE list — mirrors Spark's `aggregate`
    * (sequential left fold) rather than DuckDB's list_sum, whose
    * accumulation order is unspecified.
    */
  def foldSum(l: String): String =
    s"list_reduce(list_prepend(CAST(0 AS DOUBLE), $l), (a, b) -> a + b)"

  def foldDot(a: String, b: String): String =
    foldSum(s"list_transform(list_zip($a, $b), p -> p[1] * p[2])")

  def foldCosine(a: String, b: String): String =
    s"${foldDot(a, b)} / (sqrt(${foldSum(s"list_transform($a, x -> x*x)")}) * " +
      s"sqrt(${foldSum(s"list_transform($b, x -> x*x)")}))"

  /** The quantized-Lloyd IVF replay shared by ss3 and dd9: first-nl
    * seeding (c0) where nl = greatest(16, ceil(count/4096)) — the SAME
    * corpus-derived cluster count the engine computes
    * (Similarity.derivedNLists; 16 at every test
    * SF, so hashes are unchanged) — TWO decimal-mean sweeps (a1/c1,
    * a2/c2 — DECIMAL(25,10) sums, km1's order-invariant trick), final
    * assignment (a3), every argmin tie-broken on the list id.
    * Distances use the same -2·v·c + ‖c‖² surrogate and left-to-right
    * folds as the Spark plan. Returned ALREADY margin-stripped (the
    * callers append their own stripMargin'd tails).
    */
  def ivfLloydChainSql: String =
    s"""WITH e AS (SELECT vec_id,
       |    list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v FROM embeddings),
       |nl AS (SELECT greatest(16, (count(*) + 4095) // 4096) AS nl FROM e),
       |c0 AS (SELECT CAST(vec_id AS INT) AS i, v AS c FROM e
       |  WHERE vec_id < (SELECT nl FROM nl)),
       |a1 AS (SELECT vec_id, v, i AS list_id FROM (
       |  SELECT e.vec_id, e.v, c.i,
       |    row_number() OVER (PARTITION BY e.vec_id ORDER BY
       |      (-2.0 * ${foldDot("e.v", "c.c")} + ${foldSum("list_transform(c.c, x -> x*x)")}), c.i) AS rk
       |  FROM e CROSS JOIN c0 c) WHERE rk = 1),
       |c1 AS (SELECT p.i, COALESCE(nm.nc, p.c) AS c FROM c0 p
       |  LEFT JOIN (SELECT list_id AS i, list(mv ORDER BY dim) AS nc FROM (
       |      SELECT list_id, d AS dim,
       |        CAST(sum(CAST(round(v[d+1], 10) AS DECIMAL(25,10))) AS DOUBLE)
       |          / count(*) AS mv
       |      FROM a1, unnest(range(0,64)) AS t(d) GROUP BY list_id, d) m
       |    GROUP BY list_id) nm ON nm.i = p.i),
       |a2 AS (SELECT vec_id, v, i AS list_id FROM (
       |  SELECT e.vec_id, e.v, c.i,
       |    row_number() OVER (PARTITION BY e.vec_id ORDER BY
       |      (-2.0 * ${foldDot("e.v", "c.c")} + ${foldSum("list_transform(c.c, x -> x*x)")}), c.i) AS rk
       |  FROM e CROSS JOIN c1 c) WHERE rk = 1),
       |c2 AS (SELECT p.i, COALESCE(nm.nc, p.c) AS c FROM c1 p
       |  LEFT JOIN (SELECT list_id AS i, list(mv ORDER BY dim) AS nc FROM (
       |      SELECT list_id, d AS dim,
       |        CAST(sum(CAST(round(v[d+1], 10) AS DECIMAL(25,10))) AS DOUBLE)
       |          / count(*) AS mv
       |      FROM a2, unnest(range(0,64)) AS t(d) GROUP BY list_id, d) m
       |    GROUP BY list_id) nm ON nm.i = p.i),
       |a3 AS (SELECT vec_id, v, i AS list_id FROM (
       |  SELECT e.vec_id, e.v, c.i,
       |    row_number() OVER (PARTITION BY e.vec_id ORDER BY
       |      (-2.0 * ${foldDot("e.v", "c.c")} + ${foldSum("list_transform(c.c, x -> x*x)")}), c.i) AS rk
       |  FROM e CROSS JOIN c2 c) WHERE rk = 1)""".stripMargin

  /** Shared by sprt1 (batch walk) and st19 (streaming-state walk):
    * the Wald SPRT restated over per-variant windows. */
  val SprtOracleSql: String =

      """WITH e AS (SELECT user_id % 4 AS variant, ts, event_id,
        |    CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS succ
        |  FROM events),
        |c AS (SELECT variant, event_id, succ,
        |    row_number() OVER w AS i, sum(succ) OVER w AS s
        |  FROM e WINDOW w AS (PARTITION BY variant ORDER BY ts, event_id)),
        |l AS (SELECT variant, i, s, succ,
        |    CAST(s AS DECIMAL(28,6)) * 0.510826
        |      + CAST(i - s AS DECIMAL(28,6)) * (-0.125163) AS llr
        |  FROM c),
        |x AS (SELECT variant, CAST(count(*) AS BIGINT) AS n_events,
        |    CAST(sum(succ) AS BIGINT) AS n_success,
        |    min(CASE WHEN llr >= 2.944439 OR llr <= -2.944439 THEN i END)
        |      AS cross_i
        |  FROM l GROUP BY 1)
        |SELECT x.variant, n_events, n_success,
        |  CASE WHEN cross_i IS NULL THEN 'continue'
        |       WHEN (SELECT max(llr) FROM l
        |             WHERE l.variant = x.variant AND l.i = x.cross_i)
        |            >= 2.944439 THEN 'accept_h1'
        |       ELSE 'accept_h0' END AS decision,
        |  CAST(COALESCE(cross_i, 0) AS BIGINT) AS crossed_at,
        |  round(CAST(CAST(n_success AS DECIMAL(28,6)) * 0.510826
        |    + CAST(n_events - n_success AS DECIMAL(28,6)) * (-0.125163)
        |    AS DOUBLE), 6) AS final_llr
        |FROM x ORDER BY variant""".stripMargin

  /** Word 3-gram shingle CTEs over documents (mirrors Dedup.shingleArray:
    * distinct shingles; docs with <3 words contribute none).
    */
  val shingleCtes: String =
    """WITH w AS (SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS ws FROM documents),
      |sh AS (SELECT DISTINCT doc_id,
      |  unnest(list_transform(range(1, greatest(len(ws) - 1, 1)),
      |    i -> ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2])) AS shingle FROM w),
      |sz AS (SELECT doc_id, count(*) AS sz FROM sh GROUP BY doc_id),
      |inter AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS common
      |  FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
      |  GROUP BY 1, 2)""".stripMargin

  /** langid CTE body with prefixed names (composable into larger
    * queries without CTE-name collisions).
    */
  def langidCtes(prefix: String): String = {
    val scoreCols = TextAnalysis.LangMarkers.map { case (lang, ms) =>
      s"len(list_filter(ws, x -> x IN (${sqlList(ms)}))) AS s_$lang"
    }.mkString(",\n  ")
    val best = TextAnalysis.LangMarkers.map(m => s"s_${m._1}").mkString("greatest(", ", ", ")")
    val cases = TextAnalysis.LangMarkers.map { case (lang, _) =>
      s"WHEN s_$lang > 0 AND s_$lang = $best THEN '$lang'"
    }.mkString("\n    ")
    s"""${prefix}w AS (SELECT doc_id, regexp_split_to_array(trim(lower(text)), '\\s+') AS ws FROM documents),
       |${prefix}s AS (SELECT doc_id,
       |  $scoreCols
       |FROM ${prefix}w),
       |${prefix}pred AS (SELECT doc_id,
       |  CASE $cases ELSE 'und' END AS lang_pred
       |FROM ${prefix}s)""".stripMargin
  }
}
