package perfbench

import java.security.MessageDigest

import org.apache.spark.sql.{DataFrame, Row, SparkSession}

import graft.operators._

/** One closed-loop step: a direct call into an operator module's public
  * function. `gate` names the matching `graft.SparkEntry` gate, whose
  * DuckDB oracle SQL verifies the pinned digest (see `pin.py`).
  */
final case class Step(gate: String, family: String,
                      run: (SparkSession, String) => DataFrame)

object Steps {
  /** Read-only SQL over the parquet tables: TPC-H, reference-parity
    * analytics, joins and windows.
    */
  val analytics: Seq[Step] = Seq(
    Step("q1_pricing_summary", "Analytics", (s, d) => Analytics.pricingSummary(s, d)),
    Step("a1_count", "Analytics", (s, d) => Analytics.countAll(s, d)),
    Step("a2_topk_recent", "Analytics", (s, d) => Analytics.topKRecent(s, d)),
    Step("a3_grouped_max", "Analytics", (s, d) => Analytics.groupedMax(s, d)),
    Step("a7_filter_eq", "Analytics", (s, d) => Analytics.filterEq(s, d)),
    Step("q3_shipping_priority", "Relational", (s, d) => Relational.shippingPriority(s, d)),
    Step("q6_forecast_revenue", "Curation", (s, d) => Curation.forecastRevenue(s, d)),
    Step("q12_priority_lines", "Tpch", (s, d) => Tpch.priorityLines(s, d)),
    Step("q19_disjunctive_pred", "Relational", (s, d) => Relational.disjunctivePredicateRevenue(s, d)),
    Step("q22_idle_rich", "Relational", (s, d) => Relational.idleRichCustomers(s, d)),
    Step("j4_semi_customers_with_orders", "Relational", (s, d) => Relational.customersWithBigOrders(s, d)),
    Step("j5_anti_customers_without_orders", "Relational", (s, d) => Relational.customersWithoutBigOrders(s, d)),
  )

  /** LLM-data curation steps: every graft kernel the `functions` layer
    * times runs under one of them, beside the many-job dedup loop.
    */
  val curation: Seq[Step] = Seq(
    Step("t1_token_stats", "TextAnalysis", (s, d) => TextAnalysis.tokenStats(s, d)),
    Step("t7_langid_ngram", "TextAnalysis", (s, d) => TextAnalysis.langIdNgram(s, d)),
    Step("dd2_minhash_lsh", "Dedup", (s, d) => Dedup.minhashLshPairs(s, d)),
    Step("dd3_simhash_pairs", "Dedup", (s, d) => Dedup.simhashPairs(s, d, probeShards = 8, shard = 0)),
    Step("ss3_ivf_search", "Similarity", (s, d) => Similarity.ivfSearch(s, d)),
    Step("dd6_dup_clusters", "Dedup", (s, d) => Dedup.duplicateClusters(s, d)),
    Step("tc1_triangle_stats", "Graph", (s, d) => Graph.triangleStats(s, d)),
  )

  /** Every family a closed-loop workload can report on. */
  val allFamilies: Seq[String] = (analytics ++ curation).map(_.family).distinct.sorted

  /** Order-independent digest of a result: columns sorted by name, doubles
    * rounded to ten significant digits, rows sorted, then SHA-256.
    */
  def digest(columns: Seq[String], rows: Array[Row]): String = {
    val order = columns.indices.sortBy(columns(_))
    val lines = rows.map(r => order.map(i => canon(r.get(i))).mkString("\u0001")).sorted
    val md = MessageDigest.getInstance("SHA-256")
    md.update(order.map(columns(_)).mkString(",").getBytes("UTF-8"))
    lines.foreach { l => md.update('\n'.toByte); md.update(l.getBytes("UTF-8")) }
    md.digest().map(b => f"${b & 0xff}%02x").mkString
  }

  private def canon(v: Any): String = v match {
    case null => "null"
    case d: Double => num(d)
    case f: Float => num(f.toDouble)
    case r: Row => r.toSeq.map(canon).mkString("{", ",", "}")
    case m: scala.collection.Map[_, _] =>
      m.toSeq.map { case (k, x) => canon(k) + ":" + canon(x) }.sorted.mkString("{", ",", "}")
    case s: scala.collection.Seq[_] => s.map(canon).mkString("[", ",", "]")
    case b: Array[Byte] => b.map(x => f"${x & 0xff}%02x").mkString
    case other => other.toString
  }

  private def num(d: Double): String =
    if (d.isNaN || d.isInfinite) d.toString
    else if (d == 0.0) "0"
    else new java.math.BigDecimal(d).round(new java.math.MathContext(10)).stripTrailingZeros.toString
}
