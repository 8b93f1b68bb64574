package graft

import org.apache.spark.sql.functions._
import graft.operators.Learn

/** Round-11 in-engine model fitting: Bradley–Terry strengths, AdaBoost
  * stumps and Dawid–Skene EM checked against in-test brute-force
  * replicas on sf0.001, independent of the DuckDB oracle.
  *
  * Round 12: the replicas quantize with the same PURE-INTEGER
  * round-half-up rhu(a,b) = (2a+b)/(2b) the engine and oracle now
  * share — no round()-on-double anywhere (the r11 driver hash
  * divergence).
  */
class LearnSpec extends SparkSpec {

  private def rhu(a: BigInt, b: BigInt): BigInt = (2 * a + b) / (2 * b)
  private val E9 = BigInt(1000000000L)
  private val E12 = BigInt(1000000000000L)
  private val E18 = BigInt("1000000000000000000")

  test("bt1: strengths replay a brute MM loop over brute duel counts") {
    // Brute duels: per (order, brand) max cents, all brand pairs.
    val li = Tables.lineitem(spark, sf)
      .select(col("l_orderkey"), col("l_partkey"),
        round(col("l_extendedprice") * 100).cast("long").as("cents"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    val brand = Tables.part(spark, sf).select("p_partkey", "p_brand")
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    val bids = li.groupBy(t => (t._1, brand(t._2)))
      .map { case ((ok, b), ts) => (ok, b, ts.map(_._3).max) }
    val wins = scala.collection.mutable.Map.empty[(String, String), Long]
    bids.groupBy(_._1).values.foreach { g =>
      val v = g.toSeq.sortBy(_._2)
      for (i <- v.indices; j <- (i + 1) until v.size) {
        val (wa, wb) = (v(i), v(j))
        val winner = if (wb._3 > wa._3) wb._2 else wa._2
        val loser = if (winner == wa._2) wb._2 else wa._2
        wins((winner, loser)) = wins.getOrElse((winner, loser), 0L) + 1L
      }
    }
    val nd = scala.collection.mutable.Map.empty[(String, String), Long]
    wins.foreach { case ((w, l), n) =>
      nd((w, l)) = nd.getOrElse((w, l), 0L) + n
      nd((l, w)) = nd.getOrElse((l, w), 0L) + n
    }
    val items = nd.keys.map(_._1).toSeq.distinct.sorted
    var q: Map[String, BigInt] =
      items.map(_ -> rhu(E12, BigInt(items.size))).toMap
    val wtot = wins.groupBy(_._1._1).map { case (k, m) => k -> m.values.sum }
    for (_ <- 1 to 5) {
      val den = items.map { i =>
        i -> items.filter(j => nd.contains((i, j))).map { j =>
          rhu(BigInt(nd((i, j))) * E18, q(i) + q(j))
        }.sum
      }.toMap
      // Mirrors the r13 engine ordering: ε-floor applied to the
      // NORMALIZED q (not to qp), s floored at 1 (r12 advice).
      val qp = items.map { i =>
        i -> rhu(BigInt(wtot.getOrElse(i, 0L)) * E18, den(i))
      }.toMap
      val s = qp.values.sum.max(BigInt(1))
      q = items.map(i => i -> rhu(qp(i) * E12, s).max(BigInt(1))).toMap
    }
    val got = Learn.bradleyTerry(spark, sf).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(got.length == items.size)
    got.foreach { case (item, w, n, s) =>
      assert(s == q(item).toLong, s"strength mismatch for $item")
      assert(w == wtot.getOrElse(item, 0L))
      assert(n == items.filter(j => nd.contains((item, j)))
        .map(j => nd((item, j))).sum)
    }
    // Strengths normalize to ~1e12 and the output is strength-sorted.
    assert((got.map(t => BigInt(t._4)).sum - E12).abs < items.size)
    assert(got.map(t => (-t._4, t._1)).sameElements(
      got.map(t => (-t._4, t._1)).sorted))
  }

  test("gb1: each stump beats weighted chance and the replayed loop agrees") {
    val out = Learn.adaboostStumps(spark, sf).collect()
    assert(out.length == 4)
    val stumps = out.take(3)
    stumps.foreach { s =>
      val (e, tot) = (s.getAs[Long]("err_num"), s.getAs[Long]("err_den"))
      assert(e * 2 <= tot, "chosen stump must not be worse than chance")
      assert(Seq(1L, 2L, 3L).contains(s.getAs[Long]("feature")))
      assert(Seq(-1L, 1L).contains(s.getAs[Long]("polarity")))
    }
    // Brute replica of round 1 on the raw rows: best stump by exact
    // integer error over the initial uniform weights.
    val rows = Tables.lineitem(spark, sf)
      .select(col("l_quantity").cast("long"),
        round(col("l_discount") * 100).cast("long"),
        round(col("l_tax") * 100).cast("long"),
        when(col("l_returnflag") === "R", 1L).otherwise(-1L))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    val w0 = 10000000000L
    def feat(t: (Long, Long, Long, Long), f: Long): Long =
      if (f == 1) t._1 else if (f == 2) t._2 else t._3
    var best = (Long.MaxValue, 0L, 0L, 0L) // (e, f, t, pol)
    for (f <- 1L to 3L) {
      val vals = rows.map(feat(_, f)).distinct.sorted
      for (t <- vals.dropRight(1)) {
        val errPos = rows.count(r =>
          (feat(r, f) <= t && r._4 == -1L) || (feat(r, f) > t && r._4 == 1L))
        val errNeg = rows.length - errPos
        val (e, pol) =
          if (errPos <= errNeg) (errPos.toLong, 1L) else (errNeg.toLong, -1L)
        val cand = (e * w0, f, t, pol)
        if (Ordering[(Long, Long, Long, Long)].lt(cand, best)) best = cand
      }
    }
    val s1 = stumps(0)
    assert(s1.getAs[Long]("feature") == best._2)
    assert(s1.getAs[Long]("threshold") == best._3)
    assert(s1.getAs[Long]("polarity") == best._4)
    assert(s1.getAs[Long]("err_num") == best._1)
    assert(s1.getAs[Long]("err_den") == rows.length.toLong * w0)
    // Round 2+ total mass renormalizes to S0 with ≤ half-quantum
    // per-group drift from the integer rounding.
    stumps.drop(1).foreach { s =>
      val tot = s.getAs[Long]("err_den")
      assert(math.abs(tot - rows.length.toLong * w0) <= rows.length.toLong,
        "renormalized mass must stay within rounding drift of S0")
    }
    // Ensemble row: a valid error fraction over corpus rows. (AdaBoost's
    // train-error BOUND after 3 weak rounds can exceed ε₁, so the spec
    // asserts well-formedness here and leaves the exact trajectory to
    // the cross-engine oracle replay.)
    val ens = out(3)
    assert(ens.getAs[Long]("round") == 4L)
    assert(ens.getAs[Long]("err_den") == rows.length.toLong)
    val eEns = ens.getAs[Long]("err_num")
    assert(eEns >= 0L && eEns <= rows.length.toLong)
    // T > 4 would overflow the oracle's HUGEINT odds product — the
    // bound is enforced, not documented-only (round-11 advice).
    intercept[IllegalArgumentException] {
      Learn.adaboostStumps(spark, sf, roundsT = 5)
    }
    intercept[IllegalArgumentException] { Learn.adaboostStumpsSql(5) }
  }

  test("dsk1: EM fixed point replays a brute per-document EM") {
    val docs = Tables.documents(spark, sf)
      .select(col("n_chars"), col("lang"), col("text")).collect()
      .map { row =>
        val txt = row.getString(2)
        val spaces = txt.length - txt.replace(" ", "").length
        (if (row.getLong(0) > 500) 1L else 0L,
          if (row.getString(1) == "en") 1L else 0L,
          if (spaces > 60) 1L else 0L)
      }
    def v(p: (Long, Long, Long), k: Int): Long =
      k match { case 1 => p._1; case 2 => p._2; case _ => p._3 }
    // Brute per-document EM (no pattern collapse) with the same
    // integer quantization — the collapse must be exactly invisible.
    var mu = docs.map(p => rhu(BigInt(p._1 + p._2 + p._3) * E9, 3))
    var alpha = Map.empty[Int, BigInt]; var beta = Map.empty[Int, BigInt]
    var piQ = BigInt(0)
    for (_ <- 1 to 3) {
      val denA = mu.sum
      val denB = mu.map(E9 - _).sum
      alpha = (1 to 3).map { k =>
        k -> rhu(docs.zip(mu).map { case (p, m) => m * v(p, k) }.sum * E9,
          denA.max(BigInt(1)))
      }.toMap
      beta = (1 to 3).map { k =>
        k -> rhu(docs.zip(mu).map { case (p, m) => (E9 - m) * (1L - v(p, k)) }
          .sum * E9, denB.max(BigInt(1)))
      }.toMap
      piQ = rhu(denA * E9, denA + denB)
      mu = docs.map { p =>
        val a = (1 to 3).foldLeft(piQ) { (acc, k) =>
          acc * (if (v(p, k) == 1L) alpha(k) else E9 - alpha(k))
        }
        val b = (1 to 3).foldLeft(E9 - piQ) { (acc, k) =>
          acc * (if (v(p, k) == 1L) E9 - beta(k) else beta(k))
        }
        val t = a + b
        if (t == 0) BigInt(0)
        else {
          val d = t / E18 + 1
          rhu((a / d) * E9, a / d + b / d)
        }
      }
    }
    val got = Learn.dawidSkene(spark, sf).collect()
    assert(got.length == 3)
    got.foreach { row =>
      val k = row.getAs[Long]("labeler").toInt
      assert(row.getAs[Long]("alpha_q9") == alpha(k).toLong, s"alpha labeler $k")
      assert(row.getAs[Long]("beta_q9") == beta(k).toLong, s"beta labeler $k")
      assert(row.getAs[Long]("pi_q9") == piQ.toLong)
      assert(row.getAs[Long]("n_pos") ==
        docs.indices.count(i => mu(i) > E9 / 2))
    }
    // Sensitivity/specificity are probabilities.
    alpha.values.foreach(a => assert(a >= 0 && a <= E9))
    beta.values.foreach(b => assert(b >= 0 && b <= E9))
  }

  test("bt1 restated: duel counts are the BT sufficient statistic — " +
    "the fitted frame's wins/comparisons margins are recoverable") {
    val duels = Learn.duelCounts(spark, sf).collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2)))
    val fitted = Learn.bradleyTerry(spark, sf).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    val winsOf = duels.groupBy(_._1).map { case (k, v) => k -> v.map(_._3).sum }
    val compOf = fitted.map(_._1).map { i =>
      i -> duels.collect {
        case (w, l, n) if w == i || l == i => n
      }.sum
    }.toMap
    assert(fitted.nonEmpty)
    fitted.foreach { case (item, wins, comparisons) =>
      assert(wins == winsOf.getOrElse(item, 0L), s"wins margin for $item")
      assert(comparisons == compOf(item), s"comparisons margin for $item")
    }
    // Sorted, strictly keyed output.
    assert(duels.map(t => (t._1, t._2)).distinct.length == duels.length)
  }

  test("dsk1 restated: vote-pattern counts cover the corpus and the " +
    "majority flag is the pattern majority") {
    val pats = Learn.votePatternCounts(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4)))
    val nDocs = Tables.documents(spark, sf).count()
    assert(pats.map(_._4).sum == nDocs)
    pats.foreach { case (v1, v2, v3, _, maj) =>
      assert(maj == (if (v1 + v2 + v3 >= 2) 1L else 0L))
    }
    assert(pats.map(t => (t._1, t._2, t._3)).distinct.length == pats.length)
  }

  test("gb1 restated: the trace's stump identities equal the fitted " +
    "ensemble's, and raw error counts match a brute stump evaluation") {
    val trace = Learn.adaboostStumpTrace(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5)))
    val fitted = Learn.adaboostStumps(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      .filter(_._1 <= 3) // drop the ensemble row
    assert(trace.map(t => (t._1, t._2, t._3, t._4)).sameElements(fitted))
    // Brute per-stump raw error over lineitem.
    val li = Tables.lineitem(spark, sf)
      .select(col("l_quantity").cast("long"),
        round(col("l_discount") * 100).cast("long"),
        round(col("l_tax") * 100).cast("long"),
        when(col("l_returnflag") === "R", 1L).otherwise(-1L))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    trace.foreach { case (_, f, t, pol, errRows, totalRows) =>
      assert(totalRows == li.length)
      val brute = li.count { g =>
        val v = if (f == 1L) g._1 else if (f == 2L) g._2 else g._3
        pol * (if (v <= t) 1L else -1L) != g._4
      }
      assert(errRows == brute, s"raw error for stump ($f,$t,$pol)")
    }
  }

  test("rhu enforces its non-negative domain (r12 advice)") {
    intercept[IllegalArgumentException] {
      graft.operators.Learn.rhu(BigInt(-1), BigInt(2))
    }
    intercept[IllegalArgumentException] {
      graft.operators.Learn.rhu(BigInt(1), BigInt(0))
    }
    assert(graft.operators.Learn.rhu(BigInt(1), BigInt(8)) == BigInt(0))
    assert(graft.operators.Learn.rhu(BigInt(4), BigInt(8)) == BigInt(1))
  }
}
