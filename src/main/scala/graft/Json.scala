package graft

import com.fasterxml.jackson.databind.ObjectMapper

/** The one JSON codec: TxTable's manifests and the harness files
  * (Verify's `oracle_sql.json` and `errors.json`, Bench's output line,
  * `bench_detail.json` and `bench_reference.json`) all go through this
  * Jackson mapper.
  */
private[graft] object Json {
  val mapper = new ObjectMapper()

  /** `s` as a JSON string literal. */
  def str(s: String): String = mapper.writeValueAsString(s)

  /** A JSON object of string pairs in the given order, `{"k": "v",…}`. */
  def strings(m: Iterable[(String, String)]): String =
    m.map { case (k, v) => s"${str(k)}: ${str(v)}" }.mkString("{", ",", "}")
}
