package graft.gates

import graft.operators.Quantiles

/** The gates of [[graft.operators.Quantiles]]: each run with its DuckDB oracle. */
object QuantilesGates {
  val gates: Seq[Gate] = Seq(
    Gate("x3_price_quantiles", (s, d) => Quantiles.priceQuantilesScalable(s, d),
      """SELECT round(quantile_cont(o_totalprice, 0.5), 6) AS p50,
        |  round(quantile_cont(o_totalprice, 0.9), 6) AS p90,
        |  round(quantile_cont(o_totalprice, 0.99), 6) AS p99
        |FROM orders""".stripMargin),
    Gate("x6_grouped_quantiles", (s, d) => Quantiles.eventValueQuantilesByType(s, d),
      """SELECT event_type,
        |  round(quantile_cont(value, 0.5), 6) AS p50,
        |  round(quantile_cont(value, 0.9), 6) AS p90,
        |  round(quantile_cont(value, 0.99), 6) AS p99
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin),
    Gate("eh1_equidepth_histogram", (s, d) => Quantiles.equiDepthHistogram(s, d),
      """WITH t AS (SELECT round(quantile_cont(o_totalprice, 0.25), 6) AS q1,
        |    round(quantile_cont(o_totalprice, 0.50), 6) AS q2,
        |    round(quantile_cont(o_totalprice, 0.75), 6) AS q3 FROM orders),
        |b AS (SELECT CASE WHEN o_totalprice <= q1 THEN 0
        |    WHEN o_totalprice <= q2 THEN 1
        |    WHEN o_totalprice <= q3 THEN 2 ELSE 3 END AS bucket, o_totalprice
        |  FROM orders CROSS JOIN t)
        |SELECT bucket, CAST(count(*) AS BIGINT) AS n,
        |  round(min(o_totalprice), 6) AS lo, round(max(o_totalprice), 6) AS hi,
        |  round(CAST(sum(CAST(o_totalprice AS DECIMAL(30,6))) AS DOUBLE), 6) AS sum_price
        |FROM b GROUP BY 1 ORDER BY 1""".stripMargin),
  )
}
