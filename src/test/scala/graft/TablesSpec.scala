package graft

import org.apache.spark.sql.functions._

/** `Tables.load` infers each table's schema once per session and file
  * signature, and still returns a fresh DataFrame per call.
  */
class TablesSpec extends SparkSpec {
  import spark.implicits._

  test("a table rewritten in place with a different schema is inferred again") {
    val dir = tmpDir("tables_")
    val path = s"$dir/t.parquet"
    Seq(1L, 2L, 3L).toDF("a").write.parquet(path)
    assert(Tables.load(spark, dir, "t").columns.toSeq == Seq("a"))
    assert(Tables.memoized(spark, path).map(_.fieldNames.toSeq).contains(Seq("a")))
    Seq(("x", 1.5)).toDF("b", "c").write.mode("overwrite").parquet(path)
    val df = Tables.load(spark, dir, "t")
    assert(df.columns.toSeq == Seq("b", "c"))
    assert(df.collect().map(r => (r.getString(0), r.getDouble(1))).toSeq == Seq(("x", 1.5)))
    graft.TmpIO.deleteRecursively(new java.io.File(dir))
  }

  test("two sessions do not share memo entries") {
    val path = s"$sf/region.parquet"
    Tables.region(spark, sf)
    assert(Tables.memoized(spark, path).isDefined)
    val other = spark.newSession()
    assert(Tables.memoized(other, path).isEmpty)
    assert(Tables.region(other, sf).count() == Tables.region(spark, sf).count())
    assert(Tables.memoized(other, path) == Tables.memoized(spark, path))
  }

  test("a query that loads the same table twice still resolves") {
    val a = Tables.orders(spark, sf)
    val b = Tables.orders(spark, sf)
    val joined = a.join(b, a("o_orderkey") === b("o_orderkey"))
      .select(a("o_orderkey"), b("o_totalprice"))
    assert(joined.count() == a.count())
    val self = a.alias("x").join(a.alias("y"), col("x.o_custkey") === col("y.o_custkey"))
    assert(self.count() >= a.count())
  }
}
