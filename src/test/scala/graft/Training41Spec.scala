package graft

import JvmRef.{halfUp, round6}

/** Invariants for the forty-first wave (q290-q293): band ordering,
  * dispersion recount, mover consistency, and PR-curve monotonicity.
  */
class Training41Spec extends SparkSpec {
  private val dir = "/root/testdata/sf0.001"
  private def q(name: String) =
    SparkEntry.allDefs.find(_.name == name).get.fn(spark, dir)

  test("q290: bands are ordered p10 <= p50 <= p90 and bracket the data") {
    val got = q("q290_daily_quantile_bands").collect()
      .map(r => (r.getDate(0).toLocalDate, r.getLong(1), r.getDouble(2),
        r.getDouble(3), r.getDouble(4)))
    assert(got.nonEmpty)
    got.foreach { case (day, n, p10, p50, p90) =>
      assert(p10 <= p50 && p50 <= p90, day)
      assert(n > 0)
    }
  }

  test("q291: dispersion equals a JVM moment recount; flag is consistent") {
    val ev = Tables(spark, dir, "events")
      .select("event_type", "value").collect()
      .map(r => (r.getString(0), r.getDouble(1)))
    def dsum(xs: Iterable[Double]): Double =
      xs.map(x => BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP))
        .sum.toDouble
    val want = ev.groupBy(_._1).toSeq.sortBy(_._1).map { case (tp, rs) =>
      val n = rs.size.toDouble
      val sx = dsum(rs.map(_._2))
      val sxx = dsum(rs.map(r => r._2 * r._2))
      val mean = round6(sx / n)
      val v = round6((n * sxx - sx * sx) / (n * (n - 1.0)))
      (tp, rs.size.toLong, mean, v, v > mean)
    }
    val got = q("q291_dispersion_index").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getDouble(2),
        r.getDouble(3), r.getBoolean(4))).toSeq
    assert(got == want)
  }

  test("q292: movers' ranks are consistent with their revenues; delta = rank_a - rank_b") {
    val got = q("q292_rank_movers").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5)))
    assert(got.length == 10)
    got.foreach { case (_, _, _, ra, rb, d0) =>
      assert(d0 == ra - rb)
      assert(ra >= 1 && rb >= 1)
    }
    // the list is sorted by |delta| descending
    val deltas = got.map(t => math.abs(t._6))
    assert(deltas.toSeq == deltas.sortBy(-_).toSeq)
  }

  test("q293: recall is non-increasing in the threshold; metrics recount exactly") {
    val rows = Tables(spark, dir, "orders")
      .selectExpr("o_totalprice", "CASE WHEN o_orderstatus = 'F' THEN 1L ELSE 0L END AS y")
      .collect().map(r => (r.getDouble(0), r.getLong(1)))
    val got = q("q293_pr_curve").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5), r.getLong(6)))
    assert(got.length == 5)
    got.foreach { case (t, tp, fp, fn, p, rc, f1) =>
      val tpW = rows.count(r => r._2 == 1 && r._1 > t).toLong
      val fpW = rows.count(r => r._2 == 0 && r._1 > t).toLong
      val fnW = rows.count(r => r._2 == 1 && r._1 <= t).toLong
      assert((tp, fp, fn) == ((tpW, fpW, fnW)), s"t=$t")
      assert(p == halfUp(1000000 * tp, tp + fp))
      assert(rc == halfUp(1000000 * tp, tp + fn))
      assert(f1 == halfUp(2 * p * rc, p + rc))
    }
    // raising the threshold can only lose positives: recall non-increasing
    val recalls = got.sortBy(_._1).map(_._5)
    assert(recalls.toSeq == recalls.sortBy(-_).toSeq)
  }
}
