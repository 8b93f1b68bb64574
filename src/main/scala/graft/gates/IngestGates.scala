package graft.gates

import graft.operators.Ingest

/** The gates of [[graft.operators.Ingest]]: each run with its DuckDB oracle. */
object IngestGates {
  val gates: Seq[Gate] = Seq(
    Gate("k1_append_roundtrip", (s, d) => Ingest.appendRoundtrip(s, d),
      """SELECT event_id, user_id, event_type, value FROM events
        |ORDER BY event_id""".stripMargin),
    Gate("d4_partition_prune", (s, d) => Ingest.partitionPrunedDay(s, d),
      """SELECT event_type, count(*) AS n,
        |  CAST(sum(CAST(value AS DECIMAL(30,2))) AS DOUBLE) AS sum_value
        |FROM events WHERE CAST(ts AS DATE) = DATE '2024-01-03'
        |GROUP BY event_type ORDER BY event_type""".stripMargin),
    Gate("rk1_idempotent_overwrite", (s, d) => Ingest.idempotentOverwrite(s, d),
      "SELECT count(*) AS n_rows FROM events"),
    Gate("k2_orc_roundtrip", (s, d) => Ingest.orcRoundtrip(s, d),
      """SELECT event_id, user_id, event_type, value FROM events
        |ORDER BY event_id""".stripMargin),
    Gate("r1_reactive_meta", (s, d) => Ingest.reactiveMeta(s, d),
      """SELECT event_type, min(value) AS min_value, max(value) AS max_value,
        |  count(*) AS n_events
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin),
    Gate("up1_upsert", (s, d) => Ingest.upsertGate(s, d),
      """WITH updates AS (
        |  SELECT event_id, user_id, event_type, value + 1000.0 AS value
        |  FROM events WHERE event_id % 7 = 0
        |  UNION ALL
        |  SELECT event_id + 10000000, user_id, event_type, value
        |  FROM events WHERE event_id % 97 = 0)
        |SELECT event_id, user_id, event_type, value FROM events e
        |WHERE NOT EXISTS (SELECT 1 FROM updates u WHERE u.event_id = e.event_id)
        |UNION ALL
        |SELECT event_id, user_id, event_type, value FROM updates
        |ORDER BY event_id""".stripMargin),
    Gate("k3_csv_roundtrip", (s, d) => Ingest.csvRoundtrip(s, d),
      """SELECT event_id, user_id, event_type, value FROM events
        |ORDER BY event_id""".stripMargin),
    Gate("k4_json_roundtrip", (s, d) => Ingest.jsonRoundtrip(s, d),
      """SELECT event_id, user_id, event_type, value FROM events
        |ORDER BY event_id""".stripMargin),
    Gate("k12_cascade_delete", (s, d) => Ingest.cascadeDeleteAudit(s, d),
      """WITH dc AS (SELECT c_custkey FROM customer WHERE c_nationkey = 7),
        |do_ AS (SELECT o_orderkey FROM orders
        |  WHERE o_custkey IN (SELECT c_custkey FROM dc))
        |SELECT table_name, rows_total, rows_deleted,
        |  rows_total - rows_deleted AS rows_kept
        |FROM (
        |  SELECT 'customer' AS table_name,
        |    (SELECT CAST(count(*) AS BIGINT) FROM customer) AS rows_total,
        |    (SELECT CAST(count(*) AS BIGINT) FROM dc) AS rows_deleted
        |  UNION ALL
        |  SELECT 'lineitem', (SELECT CAST(count(*) AS BIGINT) FROM lineitem),
        |    (SELECT CAST(count(*) AS BIGINT) FROM lineitem
        |      WHERE l_orderkey IN (SELECT o_orderkey FROM do_))
        |  UNION ALL
        |  SELECT 'orders', (SELECT CAST(count(*) AS BIGINT) FROM orders),
        |    (SELECT CAST(count(*) AS BIGINT) FROM orders
        |      WHERE o_custkey IN (SELECT c_custkey FROM dc)))
        |ORDER BY table_name""".stripMargin),
    // Each TxTable snapshot version restated as a plain filter over the
    // source table: v1 = even orderkeys, v2 = all, v3 = every 100th.
    Gate("tt1_time_travel", (s, d) => Ingest.timeTravelGate(s, d),
      """WITH o AS (SELECT o_orderkey,
        |    CAST(o_totalprice AS DECIMAL(30,2)) AS p FROM orders)
        |SELECT CAST(1 AS BIGINT) AS version, CAST(count(*) AS BIGINT) AS n_rows,
        |  CAST(sum(p) AS DECIMAL(30,2)) AS total FROM o WHERE o_orderkey % 2 = 0
        |UNION ALL
        |SELECT CAST(2 AS BIGINT), CAST(count(*) AS BIGINT),
        |  CAST(sum(p) AS DECIMAL(30,2)) FROM o
        |UNION ALL
        |SELECT CAST(3 AS BIGINT), CAST(count(*) AS BIGINT),
        |  CAST(sum(p) AS DECIMAL(30,2)) FROM o WHERE o_orderkey % 100 = 0
        |ORDER BY version""".stripMargin),
    // Merge semantics restated declaratively: v2 = update-wins over the
    // delta (x2 cents on keys ≡ 0 mod 6 or ≡ 1 mod 3), keep elsewhere.
    Gate("tt2_tx_merge", (s, d) => Ingest.txMergeGate(s, d),
      """WITH o AS (SELECT o_orderkey AS k,
        |    CAST(round(o_totalprice*100) AS BIGINT) AS cents FROM orders),
        |v1 AS (SELECT k, cents FROM o WHERE k % 3 = 0),
        |v2 AS (SELECT k, CASE WHEN k % 6 = 0 OR k % 3 = 1
        |    THEN 2*cents ELSE cents END AS cents
        |  FROM o WHERE k % 3 = 0 OR k % 3 = 1)
        |SELECT CAST(1 AS BIGINT) AS version, CAST(count(*) AS BIGINT) AS n_rows,
        |  CAST(sum(cents) AS BIGINT) AS total_cents FROM v1
        |UNION ALL
        |SELECT CAST(2 AS BIGINT), CAST(count(*) AS BIGINT),
        |  CAST(sum(cents) AS BIGINT) FROM v2
        |ORDER BY version""".stripMargin),
    // Zone-map range reads restated as plain BETWEENs — skipping is an
    // optimization the residual filter makes invisible to the answer.
    Gate("tt3_zone_skip", (s, d) => Ingest.zoneSkipGate(s, d),
      """WITH o AS (SELECT o_orderkey AS k,
        |    CAST(round(o_totalprice*100) AS BIGINT) AS cents FROM orders)
        |SELECT CAST(1 AS INT) AS range_id, CAST(count(*) AS BIGINT) AS n_rows,
        |  CAST(sum(cents) AS BIGINT) AS total_cents
        |FROM o WHERE k BETWEEN 1 AND 5000
        |UNION ALL
        |SELECT CAST(2 AS INT), CAST(count(*) AS BIGINT),
        |  CAST(sum(cents) AS BIGINT)
        |FROM o WHERE k BETWEEN 30000 AND 45000
        |ORDER BY range_id""".stripMargin),
    // The changes feed after v1 is exactly commits 2 and 3 — restated
    // as the residue-class filters those commits were built from.
    Gate("cf1_changes_feed", (s, d) => Ingest.changesFeedGate(s, d),
      """WITH o AS (SELECT o_orderkey AS k,
        |    CAST(round(o_totalprice*100) AS BIGINT) AS cents FROM orders)
        |SELECT CAST(2 AS BIGINT) AS commit_version,
        |  CAST(count(*) AS BIGINT) AS n_rows,
        |  CAST(sum(cents) AS BIGINT) AS total_cents FROM o WHERE k % 3 = 1
        |UNION ALL
        |SELECT CAST(3 AS BIGINT), CAST(count(*) AS BIGINT),
        |  CAST(sum(cents) AS BIGINT) FROM o WHERE k % 3 = 2
        |ORDER BY commit_version""".stripMargin),
    // v1 = all orders; v2 = the erasure's complement, stated as NOT IN.
    Gate("tt4_tx_delete", (s, d) => Ingest.txDeleteGate(s, d),
      """WITH o AS (SELECT o_orderkey AS k, o_custkey AS cust,
        |    CAST(round(o_totalprice*100) AS BIGINT) AS cents FROM orders),
        |d AS (SELECT c_custkey FROM customer WHERE c_nationkey = 7)
        |SELECT CAST(1 AS BIGINT) AS version, CAST(count(*) AS BIGINT) AS n_rows,
        |  CAST(sum(cents) AS BIGINT) AS total_cents FROM o
        |UNION ALL
        |SELECT CAST(2 AS BIGINT), CAST(count(*) AS BIGINT),
        |  CAST(sum(cents) AS BIGINT)
        |FROM o WHERE cust NOT IN (SELECT c_custkey FROM d)
        |ORDER BY version""".stripMargin),
    // v_a = orders sans every 4th key; v_b = orders sans every 5th
    // with F-status prices +1000 cents; diff classes from the same
    // derivation — all-BIGINT arithmetic.
    Gate("ttd1_version_diff", (s, d) => Ingest.txVersionDiffGate(s, d),
      """WITH o AS (SELECT o_orderkey AS k, o_orderstatus AS status,
        |    CAST(round(o_totalprice*100) AS BIGINT) AS cents FROM orders),
        |a AS (SELECT * FROM o WHERE k % 4 != 0),
        |b AS (SELECT k, status,
        |    CASE WHEN status = 'F' THEN cents + 1000 ELSE cents END AS cents
        |  FROM o WHERE k % 5 != 0),
        |d AS (SELECT COALESCE(a.k, b.k) AS k, a.cents AS ca, b.cents AS cb,
        |    a.status AS sa, b.status AS sb
        |  FROM a FULL OUTER JOIN b ON a.k = b.k)
        |SELECT CASE WHEN ca IS NULL THEN 'added' WHEN cb IS NULL THEN 'removed'
        |    WHEN ca != cb OR sa != sb THEN 'changed'
        |    ELSE 'unchanged' END AS change_type,
        |  CAST(count(*) AS BIGINT) AS n_rows,
        |  CAST(sum(COALESCE(ca, 0)) AS BIGINT) AS cents_before,
        |  CAST(sum(COALESCE(cb, 0)) AS BIGINT) AS cents_after
        |FROM d GROUP BY 1 ORDER BY 1""".stripMargin),
    // Point lookups restated as plain equality filters; a lookup on an
    // absent key is a 0-row/NULL-sum row on both engines.
    Gate("tt5_bloom_skip", (s, d) => Ingest.bloomSkipGate(s, d),
      """WITH o AS (SELECT o_orderkey AS k,
        |    CAST(round(o_totalprice*100) AS BIGINT) AS cents FROM orders)
        |SELECT CAST(1 AS INT) AS probe_id, CAST(7 AS BIGINT) AS key,
        |  CAST(count(*) AS BIGINT) AS n_rows,
        |  CAST(sum(cents) AS BIGINT) AS total_cents FROM o WHERE k = 7
        |UNION ALL
        |SELECT CAST(2 AS INT), CAST(68 AS BIGINT), CAST(count(*) AS BIGINT),
        |  CAST(sum(cents) AS BIGINT) FROM o WHERE k = 68
        |UNION ALL
        |SELECT CAST(3 AS INT), CAST(999999999 AS BIGINT),
        |  CAST(count(*) AS BIGINT), CAST(sum(cents) AS BIGINT)
        |FROM o WHERE k = 999999999
        |ORDER BY probe_id""".stripMargin),
    // The union-schema read bucketed by the evolved column, nulls
    // (pre-evolution rows) as 'legacy'.
    Gate("tt6_schema_evolution", (s, d) => Ingest.schemaEvolutionGate(s, d),
      """WITH o AS (SELECT o_orderkey AS k,
        |    CAST(round(o_totalprice*100) AS BIGINT) AS cents FROM orders)
        |SELECT CASE WHEN k % 2 = 0 THEN 'legacy'
        |    WHEN k % 4 = 1 THEN 'web' ELSE 'store' END AS channel,
        |  CAST(count(*) AS BIGINT) AS n_rows,
        |  CAST(sum(cents) AS BIGINT) AS total_cents
        |FROM o GROUP BY 1 ORDER BY channel""".stripMargin),
    // Lossless rewrite: pre- and post-optimize snapshots are both the
    // whole table — two identical aggregates, distinct phase labels.
    Gate("tt7_optimize", (s, d) => Ingest.txOptimizeGate(s, d),
      """WITH o AS (SELECT CAST(round(o_totalprice*100) AS BIGINT) AS cents
        |  FROM orders)
        |SELECT CAST(1 AS INT) AS phase, CAST(count(*) AS BIGINT) AS n_rows,
        |  CAST(sum(cents) AS BIGINT) AS total_cents FROM o
        |UNION ALL
        |SELECT CAST(2 AS INT), CAST(count(*) AS BIGINT),
        |  CAST(sum(cents) AS BIGINT) FROM o
        |ORDER BY phase""".stripMargin),
    // Phases: 1 = pre-optimize head, 2 = post-z-order rewrite
    // (lossless ⇒ identical), 3 = zone-pruned custkey range read.
    Gate("tt8_optimize_zorder", (s, d) => Ingest.txOptimizeZorderGate(s, d),
      """WITH o AS (SELECT o_custkey AS cust,
        |    CAST(round(o_totalprice*100) AS BIGINT) AS cents FROM orders)
        |SELECT CAST(1 AS INT) AS phase, CAST(count(*) AS BIGINT) AS n_rows,
        |  CAST(sum(cents) AS BIGINT) AS total_cents FROM o
        |UNION ALL
        |SELECT CAST(2 AS INT), CAST(count(*) AS BIGINT),
        |  CAST(sum(cents) AS BIGINT) FROM o
        |UNION ALL
        |SELECT CAST(3 AS INT), CAST(count(*) AS BIGINT),
        |  CAST(sum(cents) AS BIGINT) FROM o WHERE cust BETWEEN 100 AND 200
        |ORDER BY phase""".stripMargin),
    // Phases: 1 = v1 full table, 2 = the half-deleting incident
    // overwrite, 3 = restored head (== phase 1, zero data movement).
    Gate("tt9_restore", (s, d) => Ingest.txRestoreGate(s, d),
      """WITH o AS (SELECT o_orderkey AS k,
        |    CAST(round(o_totalprice*100) AS BIGINT) AS cents FROM orders)
        |SELECT CAST(1 AS INT) AS phase, CAST(count(*) AS BIGINT) AS n_rows,
        |  CAST(sum(cents) AS BIGINT) AS total_cents FROM o
        |UNION ALL
        |SELECT CAST(2 AS INT), CAST(count(*) AS BIGINT),
        |  CAST(sum(cents) AS BIGINT) FROM o WHERE k % 2 = 0
        |UNION ALL
        |SELECT CAST(3 AS INT), CAST(count(*) AS BIGINT),
        |  CAST(sum(cents) AS BIGINT) FROM o
        |ORDER BY phase""".stripMargin),
    // Phases: 1 source, 2 clone == source, 3 range read via the
    // clone's inherited zones, 4 clone after re-ingesting nation-3
    // customers' orders, 5 source unchanged (independence).
    Gate("tt10_shallow_clone", (s, d) => Ingest.txCloneGate(s, d),
      """WITH o AS (SELECT o_orderkey AS k, o_custkey AS cust,
        |    CAST(round(o_totalprice*100) AS BIGINT) AS cents FROM orders),
        |n3 AS (SELECT c_custkey FROM customer WHERE c_nationkey = 3),
        |extra AS (SELECT o.* FROM o SEMI JOIN n3 ON o.cust = n3.c_custkey)
        |SELECT CAST(1 AS INT) AS phase, CAST(count(*) AS BIGINT) AS n_rows,
        |  CAST(sum(cents) AS BIGINT) AS total_cents FROM o
        |UNION ALL
        |SELECT CAST(2 AS INT), CAST(count(*) AS BIGINT),
        |  CAST(sum(cents) AS BIGINT) FROM o
        |UNION ALL
        |SELECT CAST(3 AS INT), CAST(count(*) AS BIGINT),
        |  CAST(sum(cents) AS BIGINT) FROM o WHERE cust BETWEEN 100 AND 200
        |UNION ALL
        |SELECT CAST(4 AS INT),
        |  (SELECT CAST(count(*) AS BIGINT) FROM o) + (SELECT count(*) FROM extra),
        |  (SELECT CAST(sum(cents) AS BIGINT) FROM o)
        |    + (SELECT CAST(coalesce(sum(cents), 0) AS BIGINT) FROM extra)
        |UNION ALL
        |SELECT CAST(5 AS INT), CAST(count(*) AS BIGINT),
        |  CAST(sum(cents) AS BIGINT) FROM o
        |ORDER BY phase""".stripMargin),
    // Serializable-commit interleave restated as the SERIAL outcome:
    // phase 1 = delete(≡0 mod 5) then merge (upsert of the mod-6/mod-1
    // delta), with refused=1 pinning that the stale commit was
    // rejected; phase 2 = that state minus ≡0 mod 7 plus the blind
    // append, refused=0 pinning that blind appends pass.
    Gate("tt11_conflict_detect", (s, d) => Ingest.txConflictGate(s, d),
      """WITH o AS (SELECT o_orderkey AS k,
        |    CAST(round(o_totalprice*100) AS BIGINT) AS cents FROM orders),
        |base AS (SELECT k, cents FROM o WHERE k % 3 = 0),
        |delta AS (SELECT k, 2*cents AS dcents FROM o
        |  WHERE k % 6 = 0 OR k % 3 = 1),
        |after_del AS (SELECT * FROM base WHERE k % 5 <> 0),
        |merged AS (SELECT COALESCE(b.k, d.k) AS k,
        |    COALESCE(d.dcents, b.cents) AS cents
        |  FROM after_del b FULL OUTER JOIN delta d ON b.k = d.k),
        |phase2 AS (SELECT * FROM merged WHERE k % 7 <> 0
        |  UNION ALL SELECT k, cents FROM o WHERE k % 3 = 2 AND k % 11 = 0)
        |SELECT 'merge_after_conflict' AS phase, CAST(1 AS BIGINT) AS refused,
        |  CAST(count(*) AS BIGINT) AS n_rows,
        |  CAST(sum(cents) AS BIGINT) AS total_cents FROM merged
        |UNION ALL
        |SELECT 'blind_append', CAST(0 AS BIGINT), CAST(count(*) AS BIGINT),
        |  CAST(sum(cents) AS BIGINT) FROM phase2
        |ORDER BY phase""".stripMargin),
    // Multi-column zone-pruned range reads restated as plain BETWEENs
    // (ranges 2 and 4 straddle the clustered rewrite — lossless, so
    // identical); the pruning itself is asserted in TxTableSpec.
    Gate("tt12_multizone", (s, d) => Ingest.txMultiZoneGate(s, d),
      """WITH o AS (SELECT o_orderkey AS k, CAST(o_custkey AS BIGINT) AS cust,
        |    CAST(round(o_totalprice*100) AS BIGINT) AS cents FROM orders)
        |SELECT CAST(1 AS INT) AS range_id, CAST(count(*) AS BIGINT) AS n_rows,
        |  CAST(sum(cents) AS BIGINT) AS total_cents
        |FROM o WHERE cust BETWEEN 100 AND 500
        |UNION ALL SELECT CAST(2 AS INT), CAST(count(*) AS BIGINT),
        |  CAST(sum(cents) AS BIGINT) FROM o WHERE k BETWEEN 5000 AND 20000
        |UNION ALL SELECT CAST(3 AS INT), CAST(count(*) AS BIGINT),
        |  CAST(sum(cents) AS BIGINT)
        |FROM o WHERE cents BETWEEN 1000000 AND 5000000
        |UNION ALL SELECT CAST(4 AS INT), CAST(count(*) AS BIGINT),
        |  CAST(sum(cents) AS BIGINT) FROM o WHERE k BETWEEN 5000 AND 20000
        |ORDER BY range_id""".stripMargin),
    // Log-checkpoint boundaries restated as plain set algebra: phase 1
    // = the two pre-delete appends, 2 = minus the MoR-deleted rows,
    // 3 = plus the post-checkpoint append, 4 = that head in a k-range.
    // The O(tail)-replay property itself is spec-asserted.
    Gate("tt13_log_checkpoint", (s, d) => Ingest.txLogCheckpointGate(s, d),
      """WITH o AS (SELECT o_orderkey AS k,
        |    CAST(round(o_totalprice*100) AS BIGINT) AS cents FROM orders),
        |pre AS (SELECT * FROM o WHERE k % 3 IN (0, 1)),
        |ck AS (SELECT * FROM pre WHERE cents <= 30000000),
        |head AS (SELECT * FROM ck
        |  UNION ALL SELECT * FROM o WHERE k % 3 = 2)
        |SELECT '1_below_ckpt' AS phase, CAST(count(*) AS BIGINT) AS n_rows,
        |  CAST(sum(cents) AS BIGINT) AS total_cents FROM pre
        |UNION ALL SELECT '2_at_ckpt', CAST(count(*) AS BIGINT),
        |  CAST(sum(cents) AS BIGINT) FROM ck
        |UNION ALL SELECT '3_head', CAST(count(*) AS BIGINT),
        |  CAST(sum(cents) AS BIGINT) FROM head
        |UNION ALL SELECT '4_range', CAST(count(*) AS BIGINT),
        |  CAST(sum(cents) AS BIGINT) FROM head WHERE k BETWEEN 1 AND 5000
        |ORDER BY phase""".stripMargin),
    // Exact RLE run counts per (sort order, column): lag over the
    // total order, a run starts where the previous value differs.
    Gate("enc1_rle_runs", (s, d) => Ingest.rleRunsGate(s, d),
      """WITH l AS (SELECT l_shipdate, l_returnflag, l_linestatus,
        |    l_suppkey, l_orderkey, l_linenumber FROM lineitem),
        |a AS (SELECT l_returnflag AS rf, l_linestatus AS ls,
        |    l_suppkey AS sk, l_shipdate AS sd,
        |    lag(l_returnflag) OVER w AS p_rf, lag(l_linestatus) OVER w AS p_ls,
        |    lag(l_suppkey) OVER w AS p_sk, lag(l_shipdate) OVER w AS p_sd
        |  FROM l WINDOW w AS (ORDER BY l_shipdate, l_orderkey, l_linenumber)),
        |b AS (SELECT l_returnflag AS rf, l_linestatus AS ls,
        |    l_suppkey AS sk, l_shipdate AS sd,
        |    lag(l_returnflag) OVER w AS p_rf, lag(l_linestatus) OVER w AS p_ls,
        |    lag(l_suppkey) OVER w AS p_sk, lag(l_shipdate) OVER w AS p_sd
        |  FROM l WINDOW w AS (ORDER BY l_orderkey, l_linenumber)),
        |runs_a AS (SELECT
        |    CAST(sum(CASE WHEN p_rf IS NULL OR p_rf <> rf THEN 1 ELSE 0 END) AS BIGINT) AS r_rf,
        |    CAST(sum(CASE WHEN p_ls IS NULL OR p_ls <> ls THEN 1 ELSE 0 END) AS BIGINT) AS r_ls,
        |    CAST(sum(CASE WHEN p_sk IS NULL OR p_sk <> sk THEN 1 ELSE 0 END) AS BIGINT) AS r_sk,
        |    CAST(sum(CASE WHEN p_sd IS NULL OR p_sd <> sd THEN 1 ELSE 0 END) AS BIGINT) AS r_sd
        |  FROM a),
        |runs_b AS (SELECT
        |    CAST(sum(CASE WHEN p_rf IS NULL OR p_rf <> rf THEN 1 ELSE 0 END) AS BIGINT) AS r_rf,
        |    CAST(sum(CASE WHEN p_ls IS NULL OR p_ls <> ls THEN 1 ELSE 0 END) AS BIGINT) AS r_ls,
        |    CAST(sum(CASE WHEN p_sk IS NULL OR p_sk <> sk THEN 1 ELSE 0 END) AS BIGINT) AS r_sk,
        |    CAST(sum(CASE WHEN p_sd IS NULL OR p_sd <> sd THEN 1 ELSE 0 END) AS BIGINT) AS r_sd
        |  FROM b)
        |SELECT 'ship_date' AS sort_order, 'l_returnflag' AS column_name, r_rf AS n_runs FROM runs_a
        |UNION ALL SELECT 'ship_date', 'l_linestatus', r_ls FROM runs_a
        |UNION ALL SELECT 'ship_date', 'l_suppkey', r_sk FROM runs_a
        |UNION ALL SELECT 'ship_date', 'l_shipdate', r_sd FROM runs_a
        |UNION ALL SELECT 'order_key', 'l_returnflag', r_rf FROM runs_b
        |UNION ALL SELECT 'order_key', 'l_linestatus', r_ls FROM runs_b
        |UNION ALL SELECT 'order_key', 'l_suppkey', r_sk FROM runs_b
        |UNION ALL SELECT 'order_key', 'l_shipdate', r_sd FROM runs_b
        |ORDER BY sort_order, column_name""".stripMargin),
    // String zone maps restated as plain VARCHAR BETWEENs (binary
    // collation both engines); the pruning is spec-asserted.
    Gate("tt14_string_zones", (s, d) => Ingest.txStringZoneGate(s, d),
      """WITH o AS (SELECT o_orderpriority AS prio,
        |    CAST(round(o_totalprice*100) AS BIGINT) AS cents FROM orders)
        |SELECT CAST(1 AS INT) AS range_id, CAST(count(*) AS BIGINT) AS n_rows,
        |  CAST(sum(cents) AS BIGINT) AS total_cents
        |FROM o WHERE prio BETWEEN '1' AND '2~'
        |UNION ALL SELECT CAST(2 AS INT), CAST(count(*) AS BIGINT),
        |  CAST(sum(cents) AS BIGINT)
        |FROM o WHERE prio BETWEEN '4' AND '9'
        |UNION ALL SELECT CAST(3 AS INT), CAST(count(*) AS BIGINT),
        |  CAST(sum(cents) AS BIGINT)
        |FROM o WHERE prio = '3-MEDIUM'
        |ORDER BY range_id""".stripMargin),
    // The layout CONTRACT as literals: one file per cluster key, zero
    // in-file inversions, row counts from the source table.
    Gate("k15_v2_required_distribution", (s, d) => Ingest.v2RequiredDistribution(s, d),
      """SELECT o_orderpriority AS prio, CAST(count(*) AS BIGINT) AS n_rows,
        |  CAST(1 AS BIGINT) AS n_files, CAST(0 AS BIGINT) AS inversions
        |FROM orders GROUP BY 1 ORDER BY prio""".stripMargin),
    // Partial OPTIMIZE: physical claim (6 dirs -> 4) as literals next
    // to logical reads that must be unchanged by the rewrite.
    Gate("tt15_partial_optimize", (s, d) => Ingest.txPartialOptimizeGate(s, d),
      """WITH o AS (SELECT o_orderkey AS k,
        |    CAST(round(o_totalprice*100) AS BIGINT) AS cents FROM orders),
        |p AS (SELECT (SELECT max(k) FROM o) // 6 + 1 AS w,
        |    (SELECT max(k) FROM o) AS mk),
        |live AS (SELECT * FROM o WHERE cents <= 40000000)
        |SELECT '1_full' AS phase, CAST(6 AS BIGINT) AS dirs_before,
        |  CAST(4 AS BIGINT) AS dirs_after, CAST(count(*) AS BIGINT) AS n_rows,
        |  CAST(sum(cents) AS BIGINT) AS total_cents FROM live
        |UNION ALL SELECT '2_low_range', CAST(6 AS BIGINT), CAST(4 AS BIGINT),
        |  CAST(count(*) AS BIGINT), CAST(sum(cents) AS BIGINT)
        |FROM live, p WHERE k BETWEEN 1 AND 2*w
        |UNION ALL SELECT '3_high_range', CAST(6 AS BIGINT), CAST(4 AS BIGINT),
        |  CAST(count(*) AS BIGINT), CAST(sum(cents) AS BIGINT)
        |FROM live, p WHERE k BETWEEN 4*w AND mk
        |ORDER BY phase""".stripMargin),
    Gate("scd1_dimension_history", (s, d) => Ingest.scd2Gate(s, d),
      """WITH updates AS (
        |  SELECT c_custkey, 'MACHINERY' AS c_mktsegment FROM customer
        |  WHERE c_custkey % 10 = 0 AND c_mktsegment <> 'MACHINERY')
        |SELECT c.c_custkey, c.c_mktsegment, CAST(1 AS INT) AS version,
        |  CAST(CASE WHEN u.c_custkey IS NOT NULL THEN 0 ELSE 1 END AS INT) AS is_current
        |FROM customer c LEFT JOIN updates u ON c.c_custkey = u.c_custkey
        |UNION ALL
        |SELECT c_custkey, c_mktsegment, CAST(2 AS INT), CAST(1 AS INT)
        |FROM updates
        |ORDER BY c_custkey, version""".stripMargin),
    Gate("k5_partition_replace", (s, d) => Ingest.partitionReplaceGate(s, d),
      """WITH e AS (SELECT event_id, user_id, event_type, value,
        |    strftime(ts, '%Y%m%d') AS day FROM events),
        |days AS (SELECT DISTINCT day FROM e ORDER BY day LIMIT 3),
        |d AS (SELECT day, row_number() OVER (ORDER BY day) AS rn FROM days)
        |SELECT e.event_id, e.user_id, e.event_type,
        |  CASE WHEN d.rn = 2 THEN e.value + 500.0 ELSE e.value END AS value,
        |  e.day AS partition_date
        |FROM e JOIN d ON e.day = d.day
        |ORDER BY event_id""".stripMargin),
    // Compaction must be a no-op on content: oracle = the source table.
    Gate("k6_compaction", (s, d) => Ingest.compactionGate(s, d),
      """SELECT event_id, user_id, event_type, value FROM events
        |ORDER BY event_id""".stripMargin),
    // Morton layout key: mirrored quantization doubles, then the same
    // 16-term bit-interleave sum generated into the SQL text.
    Gate("z1_zorder_layout", (s, d) => Ingest.zorderLayout(s, d), {
      val inter = (0 until 16).map(i =>
        s"(((cx >> $i) & 1) << ${2 * i}) + (((cy >> $i) & 1) << ${2 * i + 1})")
        .mkString(" + ")
      s"""WITH s AS (SELECT CAST(min(o_custkey) AS DOUBLE) AS minc,
         |    CAST(max(o_custkey) AS DOUBLE) AS maxc,
         |    min(CAST(o_totalprice AS DOUBLE)) AS minp,
         |    max(CAST(o_totalprice AS DOUBLE)) AS maxp FROM orders),
         |q AS (SELECT o_orderkey,
         |    CAST(floor((CAST(o_custkey AS DOUBLE) - minc) * 65536.0
         |      / (maxc - minc + 1.0)) AS BIGINT) AS cx,
         |    CAST(floor((CAST(o_totalprice AS DOUBLE) - minp) * 65536.0
         |      / (maxp - minp + 1.0)) AS BIGINT) AS cy
         |  FROM orders, s)
         |SELECT o_orderkey, cx, cy, CAST($inter AS BIGINT) AS zval
         |FROM q ORDER BY zval, o_orderkey""".stripMargin
    }),
    // The V2 sink's commit protocol must publish exactly one copy of
    // every row: oracle = the source table.
    Gate("k7_v2_sink_roundtrip", (s, d) => Ingest.v2SinkRoundtrip(s, d),
      """SELECT event_id, user_id, event_type, value FROM events
        |ORDER BY event_id""".stripMargin),
    // The V2 connector answers these from its symbol universe (= the
    // 25 nation names) without fetching a quote; the oracle computes
    // the same three aggregates from the dim that defined the universe.
    Gate("k9_v2_agg_pushdown", (s, d) => Ingest.v2AggPushdown(s, d),
      """SELECT CAST(count(*) AS BIGINT) AS n_quotes,
        |  min(n_name) AS first_sym, max(n_name) AS last_sym
        |FROM nation""".stripMargin),
    Gate("k10_v2_topn_pushdown", (s, d) => Ingest.v2TopNPushdown(s, d),
      "SELECT n_name AS symbol FROM nation ORDER BY n_name LIMIT 5"),
    Gate("k11_v2_runtime_filter", (s, d) => Ingest.v2RuntimeFilter(s, d),
      "SELECT n_name AS symbol FROM nation WHERE n_regionkey = 0 ORDER BY 1"),
    // One row per symbol by the source contract; generator prices are
    // strictly positive (base = 50 + u*450).
    Gate("k13_v2_reported_partitioning", (s, d) => Ingest.v2PartitionedAgg(s, d),
      """SELECT n_name AS symbol, CAST(1 AS BIGINT) AS n_rows,
        |  true AS price_positive FROM nation ORDER BY symbol""".stripMargin),
    // Generator invariants pinned: prices strictly positive, and two
    // distinct splitmix64 streams never collide on these symbols
    // (verified against the deterministic generator at both SFs).
    Gate("k14_v2_spj", (s, d) => Ingest.v2StoragePartitionedJoin(s, d),
      """SELECT n_name AS symbol, true AS both_positive,
        |  true AS price_moved FROM nation ORDER BY symbol""".stripMargin),
    // The oracle is the FULL recompute; the Spark side merges base +
    // last-day delta aggregates — hash equality proves the IVM merge.
    Gate("ivm1_incremental_agg", (s, d) => Ingest.incrementalAggMaintenance(s, d),
      """SELECT event_type, count(*) AS n,
        |  CAST(sum(CAST(value AS DECIMAL(30,2))) AS DOUBLE) AS total_value
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin),
    // Phase rows carry manifest state (dir/dv counts) as literals: the
    // identical data-dir count across MoR phases IS the merge-on-read
    // property; row counts/sums derive from orders with the same
    // predicates the engine's deleteWhere applied.
    Gate("dv1_delete_vectors", (s, d) => Ingest.txDeleteVectorGate(s, d),
      """WITH o AS (SELECT o_orderkey AS k, o_custkey AS cust,
        |    CAST(round(o_totalprice * 100) AS BIGINT) AS cents FROM orders),
        |f AS (SELECT CAST(count(*) AS BIGINT) AS n, CAST(sum(cents) AS BIGINT) AS s FROM o),
        |m1 AS (SELECT CAST(count(*) AS BIGINT) AS n, CAST(sum(cents) AS BIGINT) AS s
        |  FROM o WHERE k % 3 <> 0),
        |m2 AS (SELECT CAST(count(*) AS BIGINT) AS n, CAST(sum(cents) AS BIGINT) AS s
        |  FROM o WHERE k % 3 <> 0 AND cust % 7 <> 0)
        |SELECT '1_full' AS phase, 2 AS n_data_dirs, 0 AS n_dv_dirs,
        |  n AS n_rows, s AS total_cents FROM f
        |UNION ALL SELECT '2_mor_k3', 2, 1, n, s FROM m1
        |UNION ALL SELECT '3_mor_both', 2, 2, n, s FROM m2
        |UNION ALL SELECT '4_optimized', 1, 0, n, s FROM m2
        |ORDER BY phase""".stripMargin),
    // Row count unchanged + one extra data/DV dir = the atomic
    // replace-not-duplicate property, provable in the hash.
    Gate("dv2_mor_update", (s, d) => Ingest.txUpdateVectorGate(s, d),
      """WITH o AS (SELECT o_orderkey AS k, o_orderstatus AS status,
        |    CAST(round(o_totalprice * 100) AS BIGINT) AS cents FROM orders),
        |f AS (SELECT CAST(count(*) AS BIGINT) AS n, CAST(sum(cents) AS BIGINT) AS s FROM o),
        |u AS (SELECT CAST(count(*) AS BIGINT) AS n,
        |    CAST(sum(CASE WHEN status = 'F' THEN cents + cents // 10
        |      ELSE cents END) AS BIGINT) AS s FROM o)
        |SELECT '1_full' AS phase, 2 AS n_data_dirs, 0 AS n_dv_dirs,
        |  n AS n_rows, s AS total_cents FROM f
        |UNION ALL SELECT '2_mor_update', 3, 1, n, s FROM u
        |ORDER BY phase""".stripMargin),
    // Full recompute of the maintained join view: the hash match IS
    // the incremental-maintenance ≡ rebuilt proof (ss9 pattern).
    Gate("ivm2_incremental_join", (s, d) => Ingest.incrementalJoinView(s, d),
      """SELECT CAST(c_nationkey AS INT) AS nation,
        |  CAST(count(*) AS BIGINT) AS n_orders,
        |  round(CAST(sum(CAST(o_totalprice AS DECIMAL(30,2))) AS DOUBLE), 2) AS total_price
        |FROM orders JOIN customer ON o_custkey = c_custkey
        |GROUP BY 1 ORDER BY 1""".stripMargin),
  )
}
