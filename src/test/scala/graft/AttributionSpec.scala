package graft

import org.apache.spark.sql.functions._
import graft.operators.Behavior

/** Round-11 att4: exact Shapley attribution checked against (a) a
  * brute permutation-average replica and (b) the efficiency axiom.
  */
class AttributionSpec extends SparkSpec {

  // Pure-integer round-half-up, the round-12 quantization shared by
  // engine and oracle (no round()-on-double — see Learn.scala).
  private def rhu(a: BigInt, b: BigInt): Long = ((2 * a + b) / (2 * b)).toLong

  test("att4: phi equals the brute 4!-permutation average and sums to v(N)-v(0)") {
    val channels = Seq("click" -> 1, "error" -> 2, "signup" -> 4, "view" -> 8)
    // Brute cohort derivation straight off the raw rows.
    val ev = Tables.events(spark, sf)
      .select(col("user_id"), col("event_type"), unix_micros(col("ts")))
      .collect().map(r0 => (r0.getLong(0), r0.getString(1), r0.getLong(2)))
    val byUser = ev.groupBy(_._1)
    val masksConv = byUser.values.map { rows =>
      val pus = rows.filter(_._2 == "purchase").map(_._3).sorted.headOption
      val mask = channels.map { case (name, bit) =>
        if (rows.exists(e => e._2 == name && pus.forall(e._3 < _))) bit else 0
      }.sum
      (mask, if (pus.isDefined) 1L else 0L)
    }.toSeq
    val u = masksConv.groupBy(_._1).map { case (m, g) => m -> g.size.toLong }
    val c = masksConv.groupBy(_._1).map { case (m, g) => m -> g.map(_._2).sum }
    val vq = (0 until 16).map { m =>
      m -> (if (u.getOrElse(m, 0L) > 0L)
        rhu(BigInt(c(m)) * 1000000000L, u(m)) else 0L)
    }.toMap

    // Brute Shapley: average marginal contribution over all 4! channel
    // orderings, kept exact by scaling each marginal by 1 (each of the
    // 24 permutations contributes once; the engine emits Σ over the
    // subset form with weights {6,2,2,6} — identical by the standard
    // permutation↔subset identity).
    val perms = Seq(1, 2, 4, 8).permutations.toSeq
    val brute = channels.map { case (name, bit) =>
      val tot = perms.map { p =>
        val before = p.takeWhile(_ != bit).sum
        vq(before | bit) - vq(before)
      }.sum
      name -> tot
    }.toMap

    val got = Behavior.shapleyAttribution(spark, sf).collect()
    assert(got.length == 4)
    got.foreach { row =>
      val ch = row.getString(0)
      assert(row.getAs[Long]("phi_wnum") == brute(ch),
        s"phi mismatch for $ch")
      val bit = channels.toMap.apply(ch)
      val exposed = (0 until 16).filter(s => (s & bit) != 0)
      assert(row.getAs[Long]("users_exposed") ==
        exposed.map(u.getOrElse(_, 0L)).sum)
      assert(row.getAs[Long]("conversions_exposed") ==
        exposed.map(c.getOrElse(_, 0L)).sum)
    }
    // Efficiency axiom: Σ φ_wnum = 24·(v(N) − v(∅)) in quantized units.
    assert(got.map(_.getAs[Long]("phi_wnum")).sum == 24L * (vq(15) - vq(0)))
  }

  test("att4 restated: the cohort lattice is zero-filled, totals match " +
    "the user population, and the old exposure margins are recoverable") {
    val coh = Behavior.exposureCohorts(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(coh.map(_._1).sameElements(0L until 16L))
    val users = Tables.events(spark, sf)
      .select("user_id").distinct().count()
    assert(coh.map(_._2).sum == users)
    // The fitted frame's exposure margins re-derive from the lattice.
    val phis = Behavior.shapleyAttribution(spark, sf).collect()
      .map(r => (r.getString(0), r.getLong(2), r.getLong(3)))
    val bits = Map("click" -> 1L, "error" -> 2L, "signup" -> 4L, "view" -> 8L)
    phis.foreach { case (ch, uExp, cExp) =>
      val b = bits(ch)
      val sel = coh.filter(t => (t._1 & b) != 0L)
      assert(uExp == sel.map(_._2).sum, s"users_exposed margin for $ch")
      assert(cExp == sel.map(_._3).sum, s"conversions_exposed margin for $ch")
    }
  }
}
