package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.gates._
import graft.operators.Analytics

/** Entry points: the flagship `entry` query and the registered gates,
  * each a [[graft.gates.Gate]] declared once with its run and its DuckDB
  * oracle in the gates object of its operator family (`graft.gates`).
  */
object SparkEntry {

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0.
    * TPC-H-Q1-shaped pricing summary = the reference's whole analytical
    * surface (A1 count + A3/A4 min-max + A7 filter) in one scan.
    */
  def entry(spark: SparkSession): DataFrame =
    Analytics.pricingSummary(spark, "/root/testdata/sf0.001")

  /** Every gate, family by family; names are unique (`GatesSpec`). */
  lazy val gates: Seq[Gate] = Seq(
    AnalyticsGates.gates, RelationalGates.gates, IngestGates.gates,
    ScheduleGates.gates, SourcesGates.gates, RunLogGates.gates,
    StreamingGates.gates, TextAnalysisGates.gates, DedupGates.gates,
    SimilarityGates.gates, LearnGates.gates, MultimodalGates.gates,
    CurationGates.gates, QuantilesGates.gates, SkewGates.gates,
    QualityGates.gates, BehaviorGates.gates, DecontaminationGates.gates,
    StatsGates.gates, GraphGates.gates, VectorOpsGates.gates,
    PackingGates.gates, LanguageModelGates.gates, TpchGates.gates
  ).flatten

  /** Each gate's oracle SQL by name. */
  def oracleSql: Map[String, String] = gates.map(g => g.name -> g.oracle).toMap
}
