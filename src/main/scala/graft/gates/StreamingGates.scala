package graft.gates

import graft.streaming.{EventTimeWindows, IncrementalUpsert, RunningStats, SessionTimers,
  SpaceSaving, StateTtlCache, StatefulSessions, StreamJoins, StreamSprt, StreamingSketch, TxSink,
  V2StreamSource}
import Oracles.SprtOracleSql

/** The gates of the `graft.streaming` operators: each run with its DuckDB oracle. */
object StreamingGates {
  val gates: Seq[Gate] = Seq(
    Gate("st1_hourly_windows", (s, d) => EventTimeWindows.hourlyByType(s, d),
      """SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S') AS hour_start,
        |  event_type, count(*) AS n,
        |  CAST(sum(CAST(value AS DECIMAL(30,2))) AS DOUBLE) AS sum_value
        |FROM events GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin),
    Gate("st2_session_windows", (s, d) => EventTimeWindows.userSessions(s, d),
      """WITH e AS (
        |  SELECT user_id, make_timestamp(epoch_ns(ts) // 1000) AS ts FROM events
        |), g AS (
        |  SELECT user_id, ts,
        |    CASE WHEN lag(ts) OVER (PARTITION BY user_id ORDER BY ts) IS NULL
        |      OR ts - lag(ts) OVER (PARTITION BY user_id ORDER BY ts) >= INTERVAL 30 MINUTE
        |    THEN 1 ELSE 0 END AS new_sess FROM e
        |), s AS (
        |  SELECT user_id, ts, sum(new_sess) OVER (
        |    PARTITION BY user_id ORDER BY ts ROWS UNBOUNDED PRECEDING) AS sess_id
        |  FROM g)
        |SELECT strftime(min(ts), '%Y-%m-%d %H:%M:%S.%f') AS session_start,
        |  user_id, count(*) AS n_events
        |FROM s GROUP BY user_id, sess_id
        |ORDER BY user_id, session_start""".stripMargin),
    Gate("st3_sliding_windows", (s, d) => EventTimeWindows.slidingByType(s, d),
      """WITH e AS (SELECT event_type, epoch_us(CAST(ts AS TIMESTAMP)) AS us FROM events),
        |w AS (SELECT event_type,
        |        make_timestamp((us // 1800000000 - k) * 1800000000) AS win_start
        |      FROM e, unnest([0, 1]) AS t(k))
        |SELECT strftime(win_start, '%Y-%m-%d %H:%M:%S') AS win_start,
        |  event_type, count(*) AS n
        |FROM w GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin),
    // Late replays are dropped by the watermark, so the streaming result
    // equals the plain batch aggregation — that equality IS the check.
    Gate("st4_watermark_late", (s, d) => EventTimeWindows.watermarkLateGate(s, d),
      """SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S') AS hour_start,
        |  event_type, count(*) AS n
        |FROM events GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin),
    Gate("st5_stream_join", (s, d) => StreamJoins.attributionGate(s, d),
      """WITH e AS (SELECT event_id, user_id, event_type, value,
        |    make_timestamp(epoch_ns(ts) // 1000) AS ts FROM events)
        |SELECT p.event_id AS purchase_id, p.user_id, c.event_id AS click_id,
        |  p.value AS amount
        |FROM e p JOIN e c
        |  ON p.event_type = 'purchase' AND c.event_type = 'click'
        |  AND p.user_id = c.user_id
        |  AND c.ts <= p.ts AND c.ts >= p.ts - INTERVAL 30 MINUTE
        |ORDER BY purchase_id, click_id""".stripMargin),
    Gate("st6_stateful_sessions", (s, d) => StatefulSessions.sessionsGate(s, d),
      """WITH e AS (SELECT user_id, epoch_ns(ts) // 1000000 AS ms FROM events),
        |g AS (SELECT user_id, ms,
        |  CASE WHEN lag(ms) OVER (PARTITION BY user_id ORDER BY ms) IS NULL
        |    OR ms - lag(ms) OVER (PARTITION BY user_id ORDER BY ms) >= 1800000
        |  THEN 1 ELSE 0 END AS new_sess FROM e),
        |s AS (SELECT user_id, ms, sum(new_sess) OVER (
        |  PARTITION BY user_id ORDER BY ms ROWS UNBOUNDED PRECEDING) AS sid
        |FROM g)
        |SELECT user_id,
        |  strftime(make_timestamp(min(ms) * 1000), '%Y-%m-%d %H:%M:%S.%g') AS session_start,
        |  strftime(make_timestamp(max(ms) * 1000), '%Y-%m-%d %H:%M:%S.%g') AS session_end,
        |  count(*) AS n_events
        |FROM s GROUP BY user_id, sid
        |ORDER BY user_id, session_start""".stripMargin),
    // Exact-by-capacity space-saving: cap 2048 >= distinct users at
    // every gated SF, so the sketch equals the batch top-k and
    // max_err is 0 (the eviction path is spec-driven at cap 2).
    Gate("st17_space_saving_topk", (s, d) => SpaceSaving.topUsersGate(s, d),
      """WITH c AS (SELECT event_type, user_id, count(*) AS n
        |  FROM events GROUP BY 1, 2),
        |r AS (SELECT event_type, user_id, n,
        |    row_number() OVER (PARTITION BY event_type
        |      ORDER BY n DESC, user_id ASC) AS rank
        |  FROM c)
        |SELECT event_type, CAST(rank AS INT) AS rank, user_id,
        |  CAST(n AS BIGINT) AS est_count, CAST(0 AS BIGINT) AS max_err
        |FROM r WHERE rank <= 5 ORDER BY event_type, rank""".stripMargin),
    // Timer-emitted sessions: batch gaps-and-islands (in MICROSECONDS,
    // strict > gap like the processor) restricted to sessions whose
    // gap-timer expiry (end ms + 30 min) is at or before the final
    // watermark (max ts ms − 10 min) — the <= boundary is the
    // spec-pinned Spark timer-firing semantic, not an assumption.
    Gate("st18_timer_sessions", (s, d) => SessionTimers.timerSessionsGate(s, d),
      """WITH e AS (SELECT user_id, ts FROM events),
        |wm AS (SELECT epoch_ns(max(ts)) // 1000000 - 600000 AS wm_ms FROM e),
        |marks AS (SELECT user_id, ts,
        |  CASE WHEN lag(ts) OVER (PARTITION BY user_id ORDER BY ts) IS NULL
        |    OR epoch_ns(ts) - epoch_ns(lag(ts) OVER (PARTITION BY user_id
        |      ORDER BY ts)) > 1800000000000 THEN 1 ELSE 0 END AS ns
        |  FROM e),
        |sess AS (SELECT user_id, ts,
        |  sum(ns) OVER (PARTITION BY user_id ORDER BY ts
        |    ROWS UNBOUNDED PRECEDING) AS sid FROM marks),
        |agg AS (SELECT user_id, sid,
        |  epoch_ns(min(ts)) // 1000 AS start_us,
        |  epoch_ns(max(ts)) // 1000 AS end_us,
        |  CAST(count(*) AS BIGINT) AS n_events FROM sess GROUP BY 1, 2)
        |SELECT user_id, start_us, end_us, n_events
        |FROM agg CROSS JOIN wm
        |WHERE end_us // 1000 + 1800000 <= wm.wm_ms
        |ORDER BY user_id, start_us""".stripMargin),
    Gate("st19_stream_sprt", (s, d) => StreamSprt.sprtStreamGate(s, d), SprtOracleSql),
    // Exactly-once proof: despite the forced full re-delivery, the
    // table equals ONE copy of the upstream — the plain batch GROUP BY.
    Gate("st14_stream_tx_sink", (s, d) => TxSink.streamTxSinkGate(s, d),
      """SELECT event_type, CAST(count(*) AS BIGINT) AS n_events,
        |  CAST(sum(event_id) AS BIGINT) AS sum_event_id
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin),
    // LRU+TTL cache closed form (validated against an online
    // simulation): final cache = the cap most-recently-seen types
    // among those within TTL of the user's last event. Recency is the
    // (last_us, last_event_id) total order the operator folds in.
    Gate("st15_state_ttl_cache", (s, d) => StateTtlCache.ttlCacheGate(s, d),
      """WITH ev AS (SELECT user_id, event_id, epoch_ns(ts) // 1000 AS us,
        |    event_type, value FROM events),
        |le AS (SELECT user_id, event_type, us, event_id, value,
        |  row_number() OVER (PARTITION BY user_id, event_type
        |    ORDER BY us DESC, event_id DESC) AS rn FROM ev),
        |lastx AS (SELECT user_id, event_type, us AS last_us,
        |    event_id AS last_eid, value AS last_value FROM le WHERE rn = 1),
        |um AS (SELECT user_id, max(us) AS uus FROM ev GROUP BY 1),
        |alive AS (SELECT l.user_id, l.event_type, l.last_us, l.last_value,
        |  row_number() OVER (PARTITION BY l.user_id
        |    ORDER BY l.last_us DESC, l.last_eid DESC) AS rk
        |  FROM lastx l JOIN um ON l.user_id = um.user_id
        |  WHERE l.last_us >= um.uus - 21600000000)
        |SELECT user_id, event_type,
        |  strftime(make_timestamp((last_us // 1000) * 1000),
        |    '%Y-%m-%d %H:%M:%S.%g') AS last_seen,
        |  last_value
        |FROM alive WHERE rk <= 3 ORDER BY user_id, event_type""".stripMargin),
    Gate("st7_transform_with_state", (s, d) => RunningStats.runningStatsGate(s, d),
      """SELECT user_id, count(*) AS n, min(value) AS min_value,
        |  max(value) AS max_value
        |FROM events GROUP BY user_id ORDER BY user_id""".stripMargin),
    // Left-outer watermarked stream-stream join == the batch left
    // range join once sentinel rows flush all held state.
    Gate("st16_stream_outer_join", (s, d) => StreamJoins.attributionOuterGate(s, d),
      """WITH e AS (SELECT event_id, user_id, event_type, value,
        |    make_timestamp(epoch_ns(ts) // 1000) AS ts FROM events)
        |SELECT p.event_id AS purchase_id, p.user_id, c.event_id AS click_id,
        |  p.value AS amount
        |FROM e p LEFT JOIN e c
        |  ON c.event_type = 'click'
        |  AND p.user_id = c.user_id
        |  AND c.ts <= p.ts AND c.ts >= p.ts - INTERVAL 30 MINUTE
        |WHERE p.event_type = 'purchase'
        |ORDER BY purchase_id, click_id""".stripMargin),
    Gate("st11_incremental_upsert", (s, d) => IncrementalUpsert.incrementalUpsertGate(s, d),
      """SELECT event_type, CAST(count(*) AS BIGINT) AS n,
        |  round(CAST(sum(CAST(value AS DECIMAL(30,6))) AS DOUBLE), 6) AS sum_value
        |FROM events GROUP BY 1 ORDER BY 1""".stripMargin),
    Gate("st10_streaming_hll", (s, d) => StreamingSketch.streamingHourlyHll(s, d),
      """WITH h AS (SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S') AS hour_start,
        |    list_reduce(list_prepend(CAST(0 AS BIGINT),
        |      list_transform(range(1,16), i -> CAST(strpos('0123456789abcdef',
        |        md5(CAST(user_id AS VARCHAR))[i]) - 1 AS BIGINT))),
        |      (a,c) -> a*16 + c) AS h FROM events),
        |b AS (SELECT hour_start, h // 18014398509481984 AS bucket,
        |        h % 18014398509481984 AS rem FROM h),
        |r AS (SELECT hour_start, bucket, max(CASE WHEN rem = 0 THEN 55
        |        ELSE 55 - length(bin(rem)) END) AS reg FROM b GROUP BY 1, 2),
        |s AS (SELECT hour_start, CAST(sum(CAST(1 AS BIGINT) << (55 - reg)) AS BIGINT) AS isp,
        |        CAST(count(*) AS BIGINT) AS obs FROM r GROUP BY 1),
        |x AS (SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S') AS hour_start,
        |        CAST(count(DISTINCT user_id) AS BIGINT) AS n_exact FROM events GROUP BY 1),
        |g AS (SELECT hour_start, 64 - obs AS v_empty,
        |        (0.7213/(1 + 1.079/64)) * 64 * 64
        |          * CAST(CAST(1 AS BIGINT) << 55 AS DOUBLE)
        |          / CAST(isp + (64 - obs) * (CAST(1 AS BIGINT) << 55) AS DOUBLE) AS raw
        |      FROM s)
        |SELECT g.hour_start, CAST(v_empty AS BIGINT) AS v_empty,
        |  CASE WHEN raw <= 160 AND v_empty > 0
        |    THEN round(64 * ln(64/CAST(v_empty AS DOUBLE)), 6)
        |    ELSE round(raw, 6) END AS est_hll,
        |  x.n_exact
        |FROM g JOIN x USING (hour_start)
        |ORDER BY hour_start""".stripMargin),
    Gate("st8_stream_dedup", (s, d) => StreamJoins.dedupStreamGate(s, d),
      """SELECT event_id, user_id, value FROM events
        |ORDER BY event_id""".stripMargin),
    // Stateless per-batch anti join: streaming result == batch filter.
    Gate("st12_stream_static_anti", (s, d) => StreamJoins.streamStaticAntiGate(s, d),
      """SELECT event_id, event_type, value FROM events
        |WHERE event_id % 3 <> 0 ORDER BY event_id""".stripMargin),
    // Exactly-once poll-loop semantics: 3 rounds x symbol universe.
    Gate("st13_v2_stream_source", (s, d) => V2StreamSource.v2StreamGate(s, d),
      """SELECT n_name AS symbol, CAST(3 AS BIGINT) AS n_polls
        |FROM nation ORDER BY 1""".stripMargin),
    // Stateless enrichment: streaming result == batch join.
    Gate("st9_stream_static_join", (s, d) => StreamJoins.streamStaticGate(s, d),
      """SELECT event_id, upper(substr(event_type, 1, 2)) AS type_code, value
        |FROM events ORDER BY event_id""".stripMargin),
  )
}
