package graft.tools

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** SF-bump rehearsal data generator — NOT a gate data source. The
  * driver's correctness gate runs at sf0.01 and bench at sf0.1; the
  * class of bug that only a larger SF exposes (silent BIGINT wrap,
  * skew blowup, partition-count cliffs — the round-7 acf1 overflow was
  * exactly this) needs a local rehearsal BEFORE the driver ever bumps
  * SF. This tool replicates the provided testdata `rep`× with
  * FK-consistent key offsets so every gate still runs semantically
  * intact at ~sf1 from sf0.1 input, scaled along the axes that matter:
  * 10× rows, 10× distinct keys, 10× per-hour event counts, and 10×
  * duplicate-group sizes (documents are salted with one per-replica
  * token, so dedup gates see near-dup groups of `rep` copies — a
  * deliberate pair-blowup stress for the bucketed joins).
  *
  * Usage: ScaleUp [srcDir] [dstDir] [rep]
  * Defaults: /root/testdata/sf0.1 → /dev/shm/graft_sf1 × 10.
  */
object ScaleUp {

  def main(args: Array[String]): Unit = {
    val src = args.headOption.getOrElse("/root/testdata/sf0.1")
    val dst = if (args.length > 1) args(1) else "/dev/shm/graft_sf1"
    val rep = if (args.length > 2) args(2).toInt else 10
    val spark = graft.GraftSession.build()

    def read(t: String): DataFrame = spark.read.parquet(s"$src/$t.parquet")
    def write(df: DataFrame, t: String): Unit =
      df.write.mode("overwrite").parquet(s"$dst/$t.parquet")

    // Key step per table: one above the source max keeps every replica's
    // key band disjoint while preserving FK relationships inside a band.
    def step(df: DataFrame, key: String): Long =
      df.agg(max(col(key))).head().getLong(0) + 1L

    // Replicate with explode(0..rep-1): one pass, no self-union chain.
    def reps(df: DataFrame): DataFrame =
      df.withColumn("_r", explode(lit((0 until rep).toArray)))
    def off(key: String, s: Long) = col(key) + col("_r").cast("long") * s

    // Dimensions stay as-is: nations/regions are a fixed domain.
    write(read("region"), "region")
    write(read("nation"), "nation")

    val (c, s, p, o) = (read("customer"), read("supplier"), read("part"), read("orders"))
    val (cS, sS, pS, oS) =
      (step(c, "c_custkey"), step(s, "s_suppkey"), step(p, "p_partkey"), step(o, "o_orderkey"))
    write(reps(c).withColumn("c_custkey", off("c_custkey", cS)).drop("_r"), "customer")
    write(reps(s).withColumn("s_suppkey", off("s_suppkey", sS)).drop("_r"), "supplier")
    write(reps(p).withColumn("p_partkey", off("p_partkey", pS)).drop("_r"), "part")
    write(reps(o)
      .withColumn("o_orderkey", off("o_orderkey", oS))
      .withColumn("o_custkey", off("o_custkey", cS))
      .drop("_r"), "orders")
    val l = read("lineitem")
    write(reps(l)
      .withColumn("l_orderkey", off("l_orderkey", oS))
      .withColumn("l_partkey", off("l_partkey", pS))
      .withColumn("l_suppkey", off("l_suppkey", sS))
      .drop("_r"), "lineitem")

    // Events: 10× distinct users AND 10× per-hour volume (timestamps
    // are kept, which is the point — the hourly-count power sums are
    // the overflow-prone sites).
    val e = read("events")
    val (eS, uS) = (step(e, "event_id"), step(e, "user_id"))
    write(reps(e)
      .withColumn("event_id", off("event_id", eS))
      .withColumn("user_id", off("user_id", uS))
      .drop("_r"), "events")

    // Documents — realistic duplicate mass, not an adversarial one:
    // replica 0 is the original, replicas 1-3 are salted NEAR-dups
    // (one appended token → ~30% near-dup rate, the typical web-crawl
    // ballpark), and replicas 4+ are word-REVERSED + tagged — same
    // length/vocabulary statistics but distinct content (reversal
    // defeats aligned-segment and n-gram matches, so candidate
    // machinery sees realistic group sizes). The first rehearsal run
    // salted ALL replicas: a 1000% dup rate drove dd7's Levenshtein
    // verification to ~45 full-text pairs per source doc and the gate
    // ran for tens of minutes — a useful worst-case datum (recorded in
    // PERF.md), but not the operating point to rehearse at.
    val d = read("documents")
    val dS = step(d, "doc_id")
    write(reps(d)
      .withColumn("doc_id", off("doc_id", dS))
      .withColumn("text",
        when(col("_r") === 0, col("text"))
          .when(col("_r") <= 3, concat(col("text"), lit(" repsalt"), col("_r")))
          .otherwise(concat(
            concat_ws(" ", reverse(split(trim(col("text")), "\\s+"))),
            lit(" reptag"), col("_r"))))
      .drop("_r"), "documents")

    val v = read("embeddings")
    val vS = step(v, "vec_id")
    write(reps(v).withColumn("vec_id", off("vec_id", vS)).drop("_r"), "embeddings")

    println(s"""{"scaled":"$dst","rep":$rep,"src":"$src"}""")
    spark.stop()
  }
}
