package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.operators.Ranks

/** Property coverage for the exact-distributed-ranking primitive that
  * replaces single-partition global windows (w7/w8/seg1/gini1): the
  * range-partitioned rank must equal the global window's rank on
  * arbitrary frames (duplicates included — the order is made total
  * with a unique tiebreak), and the closed-form ntile must match
  * Spark's own ntile for every (n, k) shape.
  */
class RanksSpec extends SparkSpec {
  import spark.implicits._

  test("withGlobalRowNumber equals the global window rank on random frames") {
    val rnd = new scala.util.Random(41)
    // duplicate-heavy values force tie handling through the tiebreak
    val rows = (1L to 5000L).map(id => (id, rnd.nextInt(50).toDouble))
    val df = rows.toDF("id", "v")
    val order = Seq(col("v").desc, col("id").asc)
    val (ranked, n, _) = Ranks.scan(df, order, np = 7, Some("rn"), Nil)
    assert(n == 5000L)
    val expected = df.withColumn("exp_rn",
      row_number().over(Window.orderBy(order: _*)).cast("long"))
    val diff = ranked.join(expected, "id")
      .filter(col("rn") =!= col("exp_rn")).count()
    assert(diff == 0L, s"$diff ranks diverge from the global window")
    ranked.unpersist()
  }

  test("ntileOfRank matches Spark's ntile for every (n, k) shape") {
    for (n <- Seq(1, 2, 3, 7, 10, 23, 40); k <- Seq(1, 2, 3, 4, 7, 10)) {
      val df = (1 to n).map(i => Tuple1(i.toLong)).toSeq.toDF("rn")
      val got = df.select(col("rn"),
          Ranks.ntileOfRank(col("rn"), n.toLong, k).as("b"))
        .orderBy(col("rn")).as[(Long, Int)].collect().map(_._2).toSeq
      val exp = df.select(col("rn"),
          ntile(k).over(Window.orderBy(col("rn"))).as("b"))
        .orderBy(col("rn")).as[(Long, Int)].collect().map(_._2).toSeq
      assert(got == exp, s"ntile mismatch at n=$n k=$k: $got vs $exp")
    }
  }

  test("rank is stable across partition counts (np does not leak into results)") {
    val df = (1L to 999L).map(id => (id, (id * 7919L) % 97L)).toDF("id", "v")
    val order = Seq(col("v").asc, col("id").asc)
    def ranksAt(np: Int): Map[Long, Long] = {
      val (r, _, _) = Ranks.scan(df, order, np, Some("rn"), Nil)
      val out = r.select(col("id").as[Long], col("rn").as[Long]).collect().toMap
      r.unpersist(); out
    }
    assert(ranksAt(1) == ranksAt(8))
    assert(ranksAt(8) == ranksAt(33))
  }

  test("withExclusivePrefixSum equals the global window prefix sum") {
    val rnd = new scala.util.Random(43)
    val df = (1L to 3000L).map(id => (id, rnd.nextInt(100).toLong)).toDF("id", "v")
    val (got, _, _) = Ranks.scan(df, Seq(col("id").asc), 7, None, Seq(col("v") -> "off"))
    val expected = df.withColumn("exp_off",
      coalesce(sum(col("v")).over(Window.orderBy(col("id").asc)
        .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
    val diff = got.join(expected, "id")
      .filter(col("off") =!= col("exp_off")).count()
    assert(diff == 0L, s"$diff prefix sums diverge from the global window")
    Ranks.releaseAll()
  }

  test("withExclusivePrefixSums fuses N sums identically to N single passes") {
    val rnd = new scala.util.Random(47)
    val df = (1L to 2500L)
      .map(id => (id, rnd.nextInt(90).toLong, rnd.nextInt(7).toLong))
      .toDF("id", "a", "b")
    val (fused, _, totals) = Ranks.scan(df,
      Seq(col("id").asc), 7, None, Seq(col("a") -> "a_off", col("b") -> "b_off"))
    val fusedRows = fused
      .select(col("id").as[Long], col("a_off").as[Long], col("b_off").as[Long])
      .collect().map(r => r._1 -> ((r._2, r._3))).toMap
    Ranks.releaseAll()
    def single(v: String): Map[Long, Long] = {
      val out = Ranks.scan(df, Seq(col("id").asc), 7, None, Seq(col(v) -> "off"))._1
        .select(col("id").as[Long], col("off").as[Long]).collect().toMap
      Ranks.releaseAll(); out
    }
    val (sa, sb) = (single("a"), single("b"))
    assert(fusedRows.forall { case (id, (ao, bo)) => sa(id) == ao && sb(id) == bo },
      "fused prefix sums diverge from the single-pass helper")
    val exp = df.agg(sum(col("a")), sum(col("b"))).head()
    assert(totals == Seq(exp.getLong(0), exp.getLong(1)),
      s"grand totals $totals != ${exp.toSeq}")
  }

  test("withExclusivePrefixSums is stable across partition counts") {
    val df = (1L to 800L).map(id => (id, (id * 17L) % 11L, id % 3L))
      .toDF("id", "a", "b")
    def at(np: Int): (Map[Long, (Long, Long)], Seq[Long]) = {
      val (out, _, tot) = Ranks.scan(df, Seq(col("id").asc), np, None,
        Seq(col("a") -> "ao", col("b") -> "bo"))
      val m = out.select(col("id").as[Long], col("ao").as[Long], col("bo").as[Long])
        .collect().map(r => r._1 -> ((r._2, r._3))).toMap
      Ranks.releaseAll(); (m, tot)
    }
    assert(at(1) == at(8))
    assert(at(8) == at(33))
  }

  test("prefix sum is stable across partition counts") {
    val df = (1L to 999L).map(id => (id, (id * 31L) % 13L)).toDF("id", "v")
    def at(np: Int): Map[Long, Long] = {
      val out = Ranks.scan(df, Seq(col("id").asc), np, None, Seq(col("v") -> "off"))._1
        .select(col("id").as[Long], col("off").as[Long]).collect().toMap
      Ranks.releaseAll(); out
    }
    assert(at(1) == at(8))
    assert(at(8) == at(33))
  }

  test("releaseAll drains every frame the helpers persisted") {
    val baseline = spark.sparkContext.getPersistentRDDs.keySet
    val df = (1L to 100L).map(id => (id, id % 5L)).toDF("id", "v")
    val (r, _, _) = Ranks.scan(df, Seq(col("id").asc), 4, Some("rn"), Nil)
    val (p, _, _) = Ranks.scan(df, Seq(col("id").asc), 4, None, Seq(col("v") -> "off"))
    r.count(); p.count()
    def mine = spark.sparkContext.getPersistentRDDs.keySet -- baseline
    assert(mine.size >= 2, s"expected persisted frames, saw ${mine.size}")
    Ranks.releaseAll()
    // unpersist(blocking=false) is async; poll briefly
    val deadline = System.nanoTime() + 10e9.toLong
    while (mine.nonEmpty && System.nanoTime() < deadline) Thread.sleep(50)
    assert(mine.isEmpty, s"helpers' cached frames not released: $mine")
  }

  /** `scan(df, id order, np, Some("rn"), v -> "off")` against the
    * global windows over the same order, rows and totals both.
    */
  private def assertScanMatchesWindows(df: org.apache.spark.sql.DataFrame, np: Int): Unit = {
    val (got, n, totals) = Ranks.scan(df, Seq(col("id").asc), np, Some("rn"),
      Seq(col("v") -> "off"))
    val w = Window.orderBy(col("id").asc)
    val exp = df.select(col("id"), row_number().over(w).cast("long").as("rn"),
      coalesce(sum(col("v")).over(w.rowsBetween(Window.unboundedPreceding, -1)),
        lit(0L)).as("off"))
    def rows(f: org.apache.spark.sql.DataFrame) = f
      .select(col("id").as[Long], col("rn").as[Long], col("off").as[Long])
      .collect().toSet
    assert(rows(got) == rows(exp), "scan diverges from the global windows")
    assert(n == df.count())
    val total = df.agg(coalesce(sum(col("v")), lit(0L))).head().getLong(0)
    assert(totals == Seq(total), s"totals $totals != $total")
    Ranks.releaseAll()
  }

  test("scan is exact when a range partition's sum column is all null") {
    // ids 201..800 carry no value: at np = 7 (about 143 rows a
    // partition) several whole range partitions sum over nulls only.
    val df = (1L to 1000L)
      .map(id => (id, if (id > 200 && id <= 800) None else Some(id % 13)))
      .toDF("id", "v")
    val perPart = df.repartitionByRange(7, col("id").asc)
      .groupBy(spark_partition_id().as("p")).agg(count(col("v")).as("nv"))
    assert(perPart.filter(col("nv") === 0).count() > 0, "no all-null partition")
    assertScanMatchesWindows(df, np = 7)
  }

  test("scan is exact on an all-null frame and on an empty frame") {
    val allNull = (1L to 300L).map(id => (id, Option.empty[Long])).toDF("id", "v")
    assertScanMatchesWindows(allNull, np = 5)
    assertScanMatchesWindows(allNull.filter(lit(false)), np = 5)
  }

  test("scan's rank plus two sums equals three global windows") {
    val rnd = new scala.util.Random(53)
    val df = (1L to 2000L)
      .map(id => (id, rnd.nextInt(40).toLong, rnd.nextInt(9).toLong))
      .toDF("id", "a", "b")
    val order = Seq(col("a").desc, col("id").asc)
    val (got, n, totals) = Ranks.scan(df, order, 6, Some("rn"),
      Seq(col("a") -> "a_off", col("b") -> "b_off"))
    val w = Window.orderBy(order: _*)
    val before = w.rowsBetween(Window.unboundedPreceding, -1)
    val exp = df.select(col("id"), row_number().over(w).cast("long").as("rn"),
      coalesce(sum(col("a")).over(before), lit(0L)).as("a_off"),
      coalesce(sum(col("b")).over(before), lit(0L)).as("b_off"))
    def rows(f: org.apache.spark.sql.DataFrame) = f.select(col("id").as[Long],
        col("rn").as[Long], col("a_off").as[Long], col("b_off").as[Long])
      .collect().toSet
    assert(rows(got) == rows(exp), "fused scan diverges from the three windows")
    assert(got.columns.toSeq == Seq("id", "a", "b", "rn", "a_off", "b_off"))
    val t = df.agg(sum(col("a")), sum(col("b"))).head()
    assert(n == 2000L && totals == Seq(t.getLong(0), t.getLong(1)))
    Ranks.releaseAll()
  }

  test("boundedOnePartition is constant zero and non-foldable in the plan") {
    val df = (1L to 50L).map(Tuple1(_)).toDF("v")
    val vals = df.select(Ranks.boundedOnePartition(col("v")).as("p"))
      .distinct().as[Int].collect().toSeq
    assert(vals == Seq(0))
    // the window with this key must not emit the no-partition warning path:
    // the plan's window spec carries a partition expression
    val w = Window.partitionBy(Ranks.boundedOnePartition(col("v"))).orderBy(col("v"))
    // The optimizer extracts the key into a projected _w0 column; what
    // matters is that the windowspecdefinition's partition slot is
    // non-empty (WindowExec only warns when partitionSpec is empty).
    val plan = df.withColumn("rn", row_number().over(w)).queryExecution
      .optimizedPlan.toString
    assert("windowspecdefinition\\(_w\\d+#".r.findFirstIn(plan).isDefined, plan)
  }
}
