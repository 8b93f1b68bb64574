package graft.gates

import graft.operators.RunLog

/** The gates of [[graft.operators.RunLog]]: each run with its DuckDB oracle. */
object RunLogGates {
  val gates: Seq[Gate] = Seq(
    // rh1: the consolidated run-history view of the simulated fleet —
    // per day: one run, plus a failed-then-retried first day and a
    // re-ticked middle day (keys[size/2], 0-based → row m//2+1); the
    // latest attempt always succeeded and wrote the day's event count.
    Gate("rh1_run_history", (s, d) => RunLog.runHistoryGate(s, d),
      """WITH days AS (SELECT strftime(CAST(ts AS DATE), '%Y%m%d') AS day,
        |    count(*) AS n FROM events GROUP BY 1),
        |ord AS (SELECT day, n, row_number() OVER (ORDER BY day) AS r,
        |    count(*) OVER () AS m FROM days)
        |SELECT day,
        |  CAST(1 + (CASE WHEN r = 1 THEN 1 ELSE 0 END)
        |         + (CASE WHEN r = (m // 2) + 1 THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_runs,
        |  CAST(CASE WHEN r = 1 THEN 1 ELSE 0 END AS BIGINT) AS n_failed,
        |  'SUCCESS' AS last_status,
        |  n AS rows_ok
        |FROM ord ORDER BY day""".stripMargin),
    // rh2: the streaming run history consolidated per day — the sum
    // of a day's per-batch attempt rows is the day's event count
    // however the micro-batches fall (the batch slicing is an
    // execution detail; the log's consolidation is exact).
    Gate("rh2_stream_run_history", (s, d) => RunLog.streamRunHistoryGate(s, d),
      """SELECT strftime(CAST(ts AS DATE), '%Y%m%d') AS day,
        |  CAST(count(*) AS BIGINT) AS rows_ingested,
        |  'SUCCESS' AS last_status
        |FROM events GROUP BY 1 ORDER BY day""".stripMargin),
  )
}
