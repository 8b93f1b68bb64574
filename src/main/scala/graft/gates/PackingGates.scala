package graft.gates

import graft.operators.Packing

/** The gates of [[graft.operators.Packing]]: each run with its DuckDB oracle. */
object PackingGates {
  val gates: Seq[Gate] = Seq(
    // The SAME recursive CTE text the Spark side runs (integer cents
    // end-to-end — nothing to drift).
    Gate("rcte1_batch_packing", (s, d) => Packing.orderBatchPacking(s, d),
      """WITH RECURSIVE o AS (
        |  SELECT o_custkey AS cust, CAST(round(o_totalprice*100) AS BIGINT) AS cents,
        |         CAST(row_number() OVER (PARTITION BY o_custkey
        |           ORDER BY o_orderdate, o_orderkey) AS BIGINT) AS rn
        |  FROM orders),
        |walk AS (
        |  SELECT cust, rn, cents AS acc, CAST(1 AS BIGINT) AS batch
        |  FROM o WHERE rn = 1
        |  UNION ALL
        |  SELECT o.cust, o.rn,
        |    CASE WHEN w.acc + o.cents > 30000000 THEN o.cents
        |         ELSE w.acc + o.cents END AS acc,
        |    CASE WHEN w.acc + o.cents > 30000000 THEN w.batch + 1
        |         ELSE w.batch END AS batch
        |  FROM walk w JOIN o ON o.cust = w.cust AND o.rn = w.rn + 1),
        |f AS (SELECT cust, max(batch) AS n_batches, max(rn) AS n_orders
        |      FROM walk GROUP BY 1)
        |SELECT CAST(n_batches AS BIGINT) AS n_batches,
        |  CAST(count(*) AS BIGINT) AS n_customers,
        |  CAST(sum(n_orders) AS BIGINT) AS total_orders
        |FROM f GROUP BY 1 ORDER BY 1""".stripMargin),
    // Concat-and-chunk packing: global token prefix sum in pack order
    // (doc_id), 256-token context windows.
    Gate("pk1_sequence_pack", (s, d) => Packing.chunkedTokenStream(s, d),
      """WITH t AS (SELECT doc_id,
        |    CAST(len(regexp_split_to_array(trim(text),'\s+')) AS BIGINT) AS n_tokens
        |  FROM documents),
        |c AS (SELECT doc_id, n_tokens,
        |    CAST(coalesce(sum(n_tokens) OVER (ORDER BY doc_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT)
        |      AS start_offset
        |  FROM t)
        |SELECT doc_id, n_tokens, start_offset,
        |  CAST(floor(start_offset/256.0) AS BIGINT) AS start_chunk,
        |  CAST(floor((start_offset+n_tokens-1)/256.0) AS BIGINT) AS end_chunk
        |FROM c ORDER BY doc_id""".stripMargin),
    // Materialized 256-token context windows from the packed stream.
    Gate("pk2_packed_chunks", (s, d) => Packing.materializedChunks(s, d),
      """WITH t AS (SELECT doc_id, regexp_split_to_array(trim(text),'\s+') AS ws
        |  FROM documents),
        |c AS (SELECT doc_id, ws,
        |    CAST(coalesce(sum(len(ws)) OVER (ORDER BY doc_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT)
        |      AS start_offset
        |  FROM t),
        |tok AS (SELECT doc_id, start_offset + i - 1 AS gpos, ws[i] AS tok
        |  FROM c, unnest(range(1, len(ws)+1)) AS u(i)),
        |k AS (SELECT gpos // 256 AS chunk_id, gpos, tok FROM tok
        |  WHERE gpos // 256 < 20)
        |SELECT chunk_id, CAST(count(*) AS BIGINT) AS n_tokens,
        |  string_agg(tok, ' ' ORDER BY gpos) AS chunk_text
        |FROM k GROUP BY chunk_id ORDER BY chunk_id""".stripMargin),
    // Per-doc overlapping chunks: starts at stride multiples, last start
    // clamped to n-size (full-size final chunk); 1-based inclusive list
    // slice ws[a:b] mirrors Spark's slice(ws, a, b-a+1).
    Gate("ch1_doc_chunks", (s, d) => Packing.overlappingChunks(s, d),
      """WITH w AS (SELECT doc_id, regexp_split_to_array(trim(text),'\s+') AS ws
        |  FROM documents),
        |c AS (SELECT doc_id, ws, len(ws) AS n,
        |    1 + (greatest(len(ws)-64,0) + 47) // 48 AS nch FROM w),
        |e AS (SELECT doc_id, ws, n, CAST(i AS INT) AS chunk_idx,
        |    least(i*48, greatest(n-64,0)) AS start_pos
        |  FROM c, unnest(range(0, nch)) AS t(i))
        |SELECT doc_id, chunk_idx, CAST(start_pos AS BIGINT) AS start_pos,
        |  CAST(least(start_pos+64, n) - start_pos AS BIGINT) AS n_tokens,
        |  array_to_string(ws[start_pos+1:least(start_pos+64, n)], ' ') AS chunk_text
        |FROM e ORDER BY doc_id, chunk_idx""".stripMargin),
  )
}
