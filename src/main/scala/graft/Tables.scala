package graft

import java.util.concurrent.ConcurrentHashMap

import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types.StructType

/** Table registry over the driver's parquet test tables (TESTDATA.md).
  *
  * Replaces the reference's implicit full-table ORM scans
  * (reference: dagster_repository/resources.py:29,31,58-67) with Spark's
  * vectorized parquet scans — Catalyst pushes filters and prunes columns
  * into the scan, so every downstream operator gets pushdown for free.
  *
  * Scale note: each table is a parquet directory; at 100 TB the same call
  * sites work unchanged — Spark splits files into `maxPartitionBytes`
  * tasks, and partition-pruned layouts (see [[graft.sources.TickerStore]])
  * skip irrelevant directories entirely.
  *
  * Contract: a table's files do not change while a session reads them.
  * Each table's parquet schema is inferred (one Spark job) once per
  * session and then reused, so a load runs no job. A table rewritten in
  * place still reads correctly, because the memo is keyed by the files'
  * modification times and lengths, but tables that change during a
  * session belong in [[graft.sources.TxTable]].
  */
object Tables {
  val names: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  /** Vectorized columnar scan of one test table (SURVEY §2.1 S3). */
  def load(spark: SparkSession, dir: String, name: String): DataFrame = {
    // events.ts has shipped as parquet TIMESTAMP(NANOS) in some testdata
    // generations and TIMESTAMP(MICROS, NTZ) in others; normalize BOTH to
    // a session-TZ (UTC) TimestampType so every downstream micros/window
    // computation is generation-independent. nanosAsLong makes Spark 4
    // read the NANOS form as a raw long instead of refusing the file.
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val path = s"$dir/$name.parquet"
    val df = spark.read.schema(schemaOf(spark, path)).parquet(path)
    if (name == "events") normalizeEventTs(df) else df
  }

  /** Files of a table: (path, modification time, length) of the path
    * and, for a directory, of every data file under it.
    */
  private type Signature = Seq[(String, Long, Long)]

  /** Per session: path → (signature, schema) of the last inference. */
  private val schemas = java.util.Collections.synchronizedMap(
    new java.util.WeakHashMap[SparkSession, ConcurrentHashMap[String, (Signature, StructType)]]())

  /** The parquet schema of `path`, inferred once per session and file
    * signature; every call lists the files, none runs a Spark job once
    * the signature is known.
    */
  private[graft] def schemaOf(spark: SparkSession, path: String): StructType = {
    val memo = schemas.computeIfAbsent(spark,
      _ => new ConcurrentHashMap[String, (Signature, StructType)]())
    val sig = signature(spark, path)
    memo.get(path) match {
      case (s, schema) if s == sig => schema
      case _ =>
        val schema = spark.read.parquet(path).schema
        memo.put(path, (sig, schema))
        schema
    }
  }

  /** The schema memoized for `path` in this session, if any. */
  private[graft] def memoized(spark: SparkSession, path: String): Option[StructType] =
    Option(schemas.get(spark)).flatMap(m => Option(m.get(path))).map(_._2)

  private def signature(spark: SparkSession, path: String): Signature = {
    val p = new Path(path)
    val fs = p.getFileSystem(spark.sessionState.newHadoopConf())
    def walk(st: FileStatus): Signature =
      (st.getPath.toString, st.getModificationTime, st.getLen) +: (
        if (!st.isDirectory) Nil
        else fs.listStatus(st.getPath).toSeq
          .filterNot(f => f.getPath.getName.startsWith("_") || f.getPath.getName.startsWith("."))
          .sortBy(_.getPath.getName).flatMap(walk))
    walk(fs.getFileStatus(p))
  }

  /** Normalize `ts` to session-TZ TimestampType whatever the parquet
    * generation shipped (raw nanos long under nanosAsLong, micros-NTZ,
    * or already LTZ). Shared by the batch scan and the file-stream
    * sources that read the raw events file.
    */
  def normalizeEventTs(df: DataFrame): DataFrame = {
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.types._
    df.schema("ts").dataType match {
      // integer `div` (not `/`): ns-since-epoch ~1.7e18 exceeds a
      // double's 53-bit mantissa; floating division would corrupt.
      case LongType =>
        df.withColumn("ts", timestamp_micros(expr("ts div 1000")))
      // micros-NTZ → LTZ is exact under the UTC session timezone and
      // restores the type every micros/streaming consumer expects.
      case TimestampNTZType =>
        df.withColumn("ts", col("ts").cast(TimestampType))
      case _ => df
    }
  }

  def region(s: SparkSession, d: String): DataFrame     = load(s, d, "region")
  def nation(s: SparkSession, d: String): DataFrame     = load(s, d, "nation")
  def customer(s: SparkSession, d: String): DataFrame   = load(s, d, "customer")
  def supplier(s: SparkSession, d: String): DataFrame   = load(s, d, "supplier")
  def part(s: SparkSession, d: String): DataFrame       = load(s, d, "part")
  def orders(s: SparkSession, d: String): DataFrame     = load(s, d, "orders")
  def lineitem(s: SparkSession, d: String): DataFrame   = load(s, d, "lineitem")
  def events(s: SparkSession, d: String): DataFrame     = load(s, d, "events")
  def documents(s: SparkSession, d: String): DataFrame  = load(s, d, "documents")
  def embeddings(s: SparkSession, d: String): DataFrame = load(s, d, "embeddings")
}
