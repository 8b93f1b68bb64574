package graft.gates

import graft.operators.Learn

/** The gates of [[graft.operators.Learn]]: each run with its DuckDB oracle.
  *
  * Each model is gated twice: its engine-invariant sufficient-statistics
  * frame (pure count aggregations: no iterated arithmetic, no HUGEINT, no
  * division), and the fitted model itself (`*_fit`), whose oracle unrolls
  * the training loop with every output column BIGINT-cast. An uncast
  * HUGEINT output is what made the earlier fitted gates hash-red.
  */
object LearnGates {
  val gates: Seq[Gate] = Seq(
    Gate("bt1_bradley_terry", (s, d) => Learn.duelCounts(s, d), Learn.duelCountsSql),
    Gate("gb1_adaboost_stumps", (s, d) => Learn.adaboostStumpTrace(s, d),
      Learn.adaboostStumpTraceSql()),
    Gate("dsk1_dawid_skene", (s, d) => Learn.votePatternCounts(s, d), Learn.votePatternCountsSql),
    Gate("bt1_bradley_terry_fit", (s, d) => Learn.bradleyTerry(s, d), Learn.bradleyTerrySql()),
    Gate("gb1_adaboost_fit", (s, d) => Learn.adaboostStumps(s, d), Learn.adaboostStumpsSql()),
    Gate("dsk1_dawid_skene_fit", (s, d) => Learn.dawidSkene(s, d), Learn.dawidSkeneSql()),
  )
}
