package graft.gates

import graft.operators.Analytics

/** The gates of [[graft.operators.Analytics]]: each run with its DuckDB oracle. */
object AnalyticsGates {
  val gates: Seq[Gate] = Seq(
    Gate("q1_pricing_summary", (s, d) => Analytics.pricingSummary(s, d),
      """SELECT l_returnflag, l_linestatus,
        |  CAST(sum(CAST(l_quantity AS DECIMAL(30,2))) AS DOUBLE) AS sum_qty,
        |  CAST(sum(CAST(l_extendedprice AS DECIMAL(30,2))) AS DOUBLE) AS sum_base_price,
        |  CAST(sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(30,6))) AS DOUBLE) AS sum_disc_price,
        |  CAST(sum(CAST(l_quantity AS DECIMAL(30,2))) AS DOUBLE) / count(*) AS avg_qty,
        |  CAST(sum(CAST(l_discount AS DECIMAL(30,2))) AS DOUBLE) / count(*) AS avg_disc,
        |  min(l_quantity) AS min_qty, max(l_quantity) AS max_qty,
        |  count(*) AS count_order
        |FROM lineitem WHERE l_shipdate <= TIMESTAMP '1998-09-02'
        |GROUP BY l_returnflag, l_linestatus
        |ORDER BY l_returnflag, l_linestatus""".stripMargin),
    Gate("a1_count", (s, d) => Analytics.countAll(s, d), "SELECT count(*) AS n_rows FROM lineitem"),
    Gate("a2_topk_recent", (s, d) => Analytics.topKRecent(s, d),
      """SELECT event_id, user_id, event_type, value FROM events
        |ORDER BY ts DESC, event_id ASC LIMIT 5""".stripMargin),
    Gate("a3_grouped_max", (s, d) => Analytics.groupedMax(s, d),
      """SELECT event_type, max(value) AS max_value FROM events
        |GROUP BY event_type ORDER BY event_type""".stripMargin),
    Gate("a4_grouped_min", (s, d) => Analytics.groupedMin(s, d),
      """SELECT event_type, min(value) AS min_value FROM events
        |GROUP BY event_type ORDER BY event_type""".stripMargin),
    Gate("a5_minmax_meta", (s, d) => Analytics.minMaxMeta(s, d),
      """SELECT event_type, min(value) AS min_value, max(value) AS max_value,
        |  count(*) AS n_events
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin),
    Gate("a7_filter_eq", (s, d) => Analytics.filterEq(s, d),
      """SELECT event_id, user_id, value FROM events
        |WHERE event_type = 'purchase' ORDER BY event_id""".stripMargin),
  )
}
