package graft.gates

import graft.operators.Schedule

/** The gates of [[graft.operators.Schedule]]: each run with its DuckDB oracle. */
object ScheduleGates {
  val gates: Seq[Gate] = Seq(
    Gate("d5_scheduled_backfill", (s, d) => Schedule.scheduledBackfill(s, d),
      """SELECT strftime(CAST(ts AS DATE), '%Y%m%d') AS day, event_type,
        |  count(*) AS n,
        |  CAST(sum(CAST(value AS DECIMAL(30,2))) AS DOUBLE) AS sum_value
        |FROM events GROUP BY 1, 2 ORDER BY day, event_type""".stripMargin),
  )
}
