package graft.gates

import graft.sources.{FormatIO, JdbcStore}

/** The gates of the `graft.sources` stores: each run with its DuckDB oracle. */
object SourcesGates {
  val gates: Seq[Gate] = Seq(
    // k16: the JDBC sink/source parity slice — the round-trip through
    // embedded Derby (auto-created table, partitioned JDBC read-back)
    // must equal the slice read straight from parquet.
    Gate("k16_jdbc_roundtrip", (s, d) => JdbcStore.jdbcRoundtripGate(s, d),
      """SELECT event_id, user_id, event_type, value FROM events
        |WHERE event_id % 20 = 0 ORDER BY event_id""".stripMargin),
    // mergeSchema union: even-id files predate `value`, odd-id files
    // dropped `user_id` — absent columns read as NULL per file.
    Gate("k8_schema_evolution", (s, d) => FormatIO.schemaEvolutionGate(s, d),
      """SELECT event_id,
        |  CASE WHEN event_id % 2 = 0 THEN user_id END AS user_id,
        |  event_type,
        |  CASE WHEN event_id % 2 = 1 THEN value END AS value
        |FROM events ORDER BY event_id""".stripMargin),
  )
}
