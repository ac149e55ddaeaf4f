package graft

import JvmRef.halfUp

/** Invariants for the thirty-ninth wave (q282-q285): histogram mass
  * conservation, Markov absorption replay + monotonicity, the exact
  * decomposition identity, and the backtest recount.
  */
class Training39Spec extends SparkSpec {
  private val dir = "/root/testdata/sf0.001"
  private def q(name: String) =
    SparkEntry.allDefs.find(_.name == name).get.fn(spark, dir)

  test("q282: joint histogram conserves mass and matches a JVM recount") {
    val rows = Tables(spark, dir, "lineitem")
      .selectExpr("CAST(l_quantity AS BIGINT) AS q", "l_extendedprice AS p")
      .collect().map(r => (r.getLong(0), r.getDouble(1)))
    val binned = rows.map { case (q0, p0) =>
      (math.min(q0 / 5, 9L), math.min(math.floor(p0 / 10000.0).toLong, 9L))
    }
    val total = binned.length.toLong
    val want = binned.groupBy(identity).view.mapValues(_.size.toLong).toSeq
      .map { case ((qb, pb), n) => (qb, pb, n, halfUp(1000000 * n, total)) }
      .sortBy(t => (t._1, t._2))
    val got = q("q282_joint_histogram").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSeq
    assert(got == want)
    assert(got.map(_._3).sum == total)
  }

  test("q283: absorption equals a JVM chain replay; purchase is absorbing; probs valid") {
    val ev = Tables(spark, dir, "events")
      .selectExpr("user_id", "to_date(ts) AS day", "unix_micros(ts) AS tsm",
        "event_id", "event_type")
      .collect().map(r => (r.getLong(0), r.getDate(1).toLocalDate,
        r.getLong(2), r.getLong(3), r.getString(4)))
    val trans = ev.groupBy(t => (t._1, t._2)).values.flatMap { rs =>
      val seq = rs.sortBy(t => (t._3, t._4)).map(_._5)
      seq.zip(seq.drop(1))
    }.toSeq
    val outMass = trans.groupBy(_._1).view.mapValues(_.size.toLong).toMap
    val cnt = trans.groupBy(identity).view.mapValues(_.size.toLong).toMap
    def hu(x: Long, n: Long): Long = (2 * x + n) / (2 * n)
    val p = cnt.map { case ((a, b), c) => (a, b) -> hu(1000000L * c, outMass(a)) }
    val states = (trans.flatMap(tr => Seq(tr._1, tr._2)).toSet + "purchase").toSeq.sorted
    var a = states.map(st => st -> (if (st == "purchase") 1000000L else 0L)).toMap
    for (_ <- 1 to 10) {
      a = states.map { st =>
        if (st == "purchase") st -> 1000000L
        else st -> hu(states.map(t2 => p.getOrElse((st, t2), 0L) * a(t2)).sum, 1000000L)
      }.toMap
    }
    val got = q("q283_markov_absorption").collect()
      .map(r => (r.getString(0), r.getLong(1))).toMap
    assert(got == a)
    assert(got("purchase") == 1000000L)
    got.values.foreach(v => assert(v >= 0L && v <= 1000000L))
  }

  test("q284: volume + price effects tile the delta EXACTLY, per priority") {
    val got = q("q284_price_volume_mix").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5), r.getLong(6), r.getLong(7)))
    assert(got.length == 5)
    got.foreach { case (pri, na, nb, ra, rb, delta, vol, price) =>
      assert(delta == rb - ra, pri)
      assert(vol + price == delta, s"$pri: $vol + $price != $delta")
      assert(vol == halfUp((nb - na) * ra, na), pri)
      assert(na > 0 && nb > 0, pri)
    }
  }

  test("q285: forecasts are the 7-day-lagged actuals; WAPE matches the recount") {
    val daily = Tables(spark, dir, "events")
      .selectExpr("to_date(ts) AS day", "CAST(round(value * 1000000) AS BIGINT) AS v6")
      .collect().map(r => (r.getDate(0).toLocalDate, r.getLong(1)))
      .groupBy(_._1).view.mapValues(_.map(_._2).sum).toMap
    val got = q("q285_seasonal_naive_backtest").collect()
      .map(r => (r.getDate(0).toLocalDate, r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4)))
    assert(got.nonEmpty)
    got.foreach { case (day, actual, fc, err, _) =>
      assert(actual == daily(day), day)
      assert(fc == daily(day.minusDays(7)), day)
      assert(err == math.abs(actual - fc), day)
      assert(!day.isBefore(java.time.LocalDate.parse("2024-01-16")))
    }
    val wape = halfUp(1000000 * got.map(_._4).sum, got.map(_._2).sum)
    got.foreach { case (_, _, _, _, w) => assert(w == wape) }
  }
}
