package graft.gates

import org.apache.spark.sql.functions.col
import graft.Tables
import graft.operators.Skew

/** The gates of [[graft.operators.Skew]]: each run with its DuckDB oracle. */
object SkewGates {
  val gates: Seq[Gate] = Seq(
    Gate("sk1_salted_agg", (s, d) =>
      Skew.skewedSumCountExact(Tables.events(s, d), "event_type", "value")
        .orderBy(col("event_type")),
      """SELECT event_type,
        |  CAST(sum(CAST(value AS DECIMAL(30,2))) AS DOUBLE) AS sum_value,
        |  count(*) AS n
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin),
    // AQE only re-partitions — the answer is threshold-independent,
    // so the oracle is the plain join+aggregate.
    Gate("sk3_aqe_skew_join", (s, d) => Skew.aqeSkewJoin(s, d),
      """WITH f AS (SELECT CASE WHEN l_orderkey % 3 <> 0 THEN 0
        |      ELSE l_orderkey END AS k, l_extendedprice FROM lineitem),
        |d AS (SELECT DISTINCT CASE WHEN o_orderkey % 3 <> 0 THEN 0
        |      ELSE o_orderkey END AS k FROM orders)
        |SELECT d.k % 7 AS bucket, count(*) AS n_rows,
        |  CAST(sum(CAST(f.l_extendedprice AS DECIMAL(30,2))) AS DOUBLE) AS revenue
        |FROM f JOIN d ON f.k = d.k
        |GROUP BY 1 ORDER BY 1""".stripMargin),
    Gate("sk2_salted_join", (s, d) => {
      val e = Tables.events(s, d).select(col("event_id"), col("event_type"))
      val dim = Tables.events(s, d).select(col("event_type").as("t2"))
        .distinct().withColumn("code_str", org.apache.spark.sql.functions.upper(col("t2")))
      Skew.saltedJoin(e, dim, "event_type", "t2")
        .groupBy(col("code_str"))
        .agg(org.apache.spark.sql.functions.count(
          org.apache.spark.sql.functions.lit(1)).as("n"))
        .orderBy(col("code_str"))
    },
      """SELECT upper(event_type) AS code_str, count(*) AS n
        |FROM events GROUP BY 1 ORDER BY 1""".stripMargin),
  )
}
