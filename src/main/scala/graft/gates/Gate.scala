package graft.gates

import org.apache.spark.sql.{DataFrame, SparkSession}

/** One registered gate: `run` builds the gate's output from the test
  * tables under an sf directory, and `oracle` is the DuckDB SQL over the
  * same parquet files that must return the same rows
  * (`tools/oracle_check.py`). Each gate is declared once, in the gates
  * object of the operator family its run calls; `graft.SparkEntry.gates`
  * concatenates the families.
  *
  * Oracle determinism rules:
  *  - every gate ends in a total ORDER BY;
  *  - double sums/avgs go through Analytics.exactSum/exactAvg (exact
  *    DECIMAL accumulation, order-invariant, cast back to DOUBLE) and the
  *    oracle SQL uses the identical CAST(sum(CAST(..)) AS DOUBLE) shape;
  *  - integer-typed outputs are cast to the same width on both sides.
  */
final case class Gate(name: String, run: (SparkSession, String) => DataFrame, oracle: String)
