package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.Tables

/** Sequence packing — the concat-and-chunk layout LLM training uses:
  * all documents are concatenated in a stable order into one token
  * stream, which is then cut into fixed-length context windows. Each
  * doc needs its global token start offset, i.e. a corpus-wide
  * cumulative sum. (North-star extension; nothing like this exists in
  * the reference.)
  *
  * Scale design: a naive `sum over (order by doc_id)` window is ONE
  * partition — a non-starter at 100 TB. This implements the standard
  * two-level distributed prefix sum instead:
  *   1. docs are grouped into ordered blocks (`doc_id div blockSize`);
  *      per-block token sums aggregate map-side (one shuffle, fine keys);
  *   2. block offsets are an exact distributed exclusive prefix sum
  *      over the BLOCK table via [[Ranks.scan]]
  *      (range exchange → per-partition sums → #partitions-value
  *      driver fold → broadcast offsets) — no single-partition window
  *      anywhere, at any scale;
  *   3. block offsets join back (AQE broadcasts when small), and the
  *      intra-block prefix sum is a window PARTITIONED BY block —
  *      fully parallel, each partition at most blockSize rows.
  */
object Packing {

  /** Gate pk1: per-doc token count, global start offset, and the
    * first/last context-window chunk ids the doc lands in
    * (`ctx`-token windows). Deterministic: pack order is doc_id.
    */
  def chunkedTokenStream(spark: SparkSession, dir: String,
                         ctx: Int = 256, blockSize: Int = 64): DataFrame = {
    val docs = Tables.documents(spark, dir)
      .select(col("doc_id"),
        size(TextAnalysis.words(col("text"))).cast("long").as("n_tokens"))
      .withColumn("block", floor(col("doc_id") / blockSize))
    // Block offsets via the distributed two-level scan: a global
    // `sum over (order by block)` window would put the whole block
    // table (docs/blockSize rows — still corpus-scale at 100 TB) in
    // ONE partition. Ranks.scan range-partitions it
    // instead; block is unique in this table, so the order is total.
    val blockOffsets = Ranks.scan(
        docs.groupBy(col("block")).agg(sum(col("n_tokens")).as("bsum")),
        Seq(col("block")), 32, None, Seq(col("bsum") -> "boff"))._1
      .select(col("block"), col("boff"))
    val intra = Window.partitionBy(col("block")).orderBy(col("doc_id"))
      .rowsBetween(Window.unboundedPreceding, -1)
    // No broadcast hint: at gate SFs AQE picks broadcast on its own;
    // at 100 TB the block table is corpus/64 rows and must be free to
    // shuffle-join instead.
    docs
      .join(blockOffsets, Seq("block"))
      .withColumn("start_offset",
        col("boff") + coalesce(sum(col("n_tokens")).over(intra), lit(0L)))
      .select(col("doc_id"), col("n_tokens"), col("start_offset"),
        floor(col("start_offset") / ctx).as("start_chunk"),
        floor((col("start_offset") + col("n_tokens") - lit(1)) / ctx).as("end_chunk"))
      .orderBy(col("doc_id"))
  }

  /** Gate pk2: MATERIALIZE the packed context windows — the actual
    * training-batch payload (pk1 computes the layout; this cuts the
    * token stream). Every token gets its global position (the same
    * two-level prefix sum, then a per-doc generator), chunks group by
    * `gpos div ctx`, and each chunk's text reassembles from a
    * position-sorted fold. The chunk key is the shuffle key — chunks
    * are fixed-size, so the reassembly aggregation is perfectly
    * balanced by construction. Output bounded to the first chunks.
    */
  def materializedChunks(spark: SparkSession, dir: String,
                         ctx: Int = 256, blockSize: Int = 64,
                         maxChunks: Int = 20): DataFrame = {
    val offsets = chunkedTokenStream(spark, dir, ctx, blockSize)
      .select(col("doc_id"), col("start_offset"))
    val toks = Tables.documents(spark, dir)
      .select(col("doc_id"), posexplode(TextAnalysis.words(col("text"))))
      .select(col("doc_id"), col("pos").cast("long").as("pos"), col("col").as("tok"))
    toks.join(offsets, Seq("doc_id"))
      .withColumn("gpos", col("start_offset") + col("pos"))
      .withColumn("chunk_id", floor(col("gpos") / ctx))
      .filter(col("chunk_id") < maxChunks)
      .groupBy(col("chunk_id"))
      .agg(count(lit(1)).as("n_tokens"),
        concat_ws(" ", transform(
          array_sort(collect_list(struct(col("gpos"), col("tok")))),
          s => s.getField("tok"))).as("chunk_text"))
      .orderBy(col("chunk_id"))
  }

  /** Gate ch1: per-document OVERLAPPING chunking — the RAG/window
    * shape (pk1/pk2 pack ACROSS documents; retrieval and long-context
    * curation chunk WITHIN each doc so no chunk spans two sources).
    * Chunk starts sit at multiples of `stride`, except the last start,
    * which clamps to `n − chunkSize` so the final chunk is full-size
    * and ends exactly at the document end (docs shorter than
    * `chunkSize` yield one short chunk). Consecutive full chunks
    * overlap by `chunkSize − stride` tokens.
    *
    * Scale: stateless and embarrassingly parallel — tokenize, one
    * `posexplode` over the per-doc chunk count, `slice` per chunk; no
    * shuffle anywhere (the ORDER BY is gate-only). Chunk count per doc
    * is ⌈(n−size)/stride⌉+1, so output size is linear in corpus tokens
    * times the overlap factor.
    */
  def overlappingChunks(spark: SparkSession, dir: String,
                        chunkSize: Int = 64, stride: Int = 48): DataFrame = {
    val base = Tables.documents(spark, dir)
      .select(col("doc_id"), TextAnalysis.words(col("text")).as("ws"))
      .withColumn("n", size(col("ws")).cast("long"))
      .withColumn("nch",
        expr(s"1L + ((greatest(n - $chunkSize, 0L) + ${stride - 1}) div $stride)"))
    base
      .select(col("doc_id"), col("ws"), col("n"),
        posexplode(sequence(lit(0L), col("nch") - 1)))
      .withColumn("chunk_idx", col("col").cast("int"))
      .withColumn("start_pos",
        least(col("col") * stride, greatest(col("n") - chunkSize, lit(0L))))
      .withColumn("n_tokens",
        least(col("start_pos") + chunkSize, col("n")) - col("start_pos"))
      .select(col("doc_id"), col("chunk_idx"), col("start_pos"), col("n_tokens"),
        concat_ws(" ",
          slice(col("ws"), (col("start_pos") + 1).cast("int"),
            col("n_tokens").cast("int"))).as("chunk_text"))
      .orderBy(col("doc_id"), col("chunk_idx"))
  }

  /** Gated rcte1: CAPPED-ACCUMULATOR BATCH PACKING via `WITH
    * RECURSIVE` — per customer, orders in date order greedily fill a
    * batch until the running total would exceed `capCents`, then a
    * new batch opens. The running state RESETS on overflow, so no
    * window frame can express it (a windowed sum never forgets) —
    * this is the canonical inherently-recursive SQL computation, and
    * the gate proves the engine's `spark.sql` surface runs the same
    * ANSI recursive CTE text DuckDB does, bit-for-bit (money stays
    * integer cents end-to-end).
    *
    * Scale shape: Spark executes the recursion as bounded loop
    * unrolling — each step joins the previous frontier (one row per
    * customer) with the orders CTE on `(cust, rn+1)`, both sides
    * hash-partitioned on the customer key, so a step exchanges only
    * frontier-cardinality rows and the round count is the LONGEST
    * per-customer chain (≈41 orders for TPC-H-shaped data at any SF),
    * not the row count. The sequential dependence is per-key and
    * irreducible — exactly the work a 1000-executor cluster can still
    * spread by customer.
    */
  def orderBatchPacking(spark: SparkSession, dir: String,
                        capCents: Long = 30000000L): DataFrame =
      Graph.withoutAqe(spark) { Pins.local(spark) { p =>
    // The ordered/numbered per-customer frame is MATERIALIZED once
    // (cached, hash-partitioned on the customer key) instead of living
    // inside the recursive CTE text: the recursion unrolls to ~41
    // rounds (longest per-customer chain), and an inline CTE would
    // re-scan orders and re-run the numbering window EVERY round. A
    // hash(cust) cache also satisfies the per-round join's clustering
    // requirement, so each iteration exchanges only the one-row-per-
    // customer frontier, never this frame. The oracle keeps the pure
    // single-statement ANSI form — same semantics, DuckDB materializes
    // CTEs on its own.
    val o = p(Tables.orders(spark, dir)
      .selectExpr("o_custkey AS cust",
        "CAST(round(o_totalprice*100) AS BIGINT) AS cents",
        """CAST(row_number() OVER (PARTITION BY o_custkey
          |  ORDER BY o_orderdate, o_orderkey) AS BIGINT) AS rn""".stripMargin)
      .repartition(col("cust")))
    o.createOrReplaceTempView("graft_rcte_o")
    // Materialized INSIDE the AQE-off scope (a lazy return would
    // execute after the conf restore): each recursion step is an
    // exchange, and under AQE every one was a query-stage job — 95
    // jobs for this gate, the worst scheduler exposure in the suite.
    // The result is a ≤ chain-length histogram, a bounded transfer.
    spark.sql(
      s"""WITH RECURSIVE o AS (SELECT * FROM graft_rcte_o),
         |walk AS (
         |  SELECT cust, rn, cents AS acc, CAST(1 AS BIGINT) AS batch
         |  FROM o WHERE rn = 1
         |  UNION ALL
         |  SELECT o.cust, o.rn,
         |    CASE WHEN w.acc + o.cents > $capCents THEN o.cents
         |         ELSE w.acc + o.cents END AS acc,
         |    CASE WHEN w.acc + o.cents > $capCents THEN w.batch + 1
         |         ELSE w.batch END AS batch
         |  FROM walk w JOIN o ON o.cust = w.cust AND o.rn = w.rn + 1),
         |f AS (SELECT cust, max(batch) AS n_batches, max(rn) AS n_orders
         |      FROM walk GROUP BY 1)
         |SELECT CAST(n_batches AS BIGINT) AS n_batches,
         |  CAST(count(*) AS BIGINT) AS n_customers,
         |  CAST(sum(n_orders) AS BIGINT) AS total_orders
         |FROM f GROUP BY 1 ORDER BY 1""".stripMargin)
  }} // withoutAqe
}
