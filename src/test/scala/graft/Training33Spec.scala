package graft

import JvmRef.{halfUp, round6}

/** Invariants for the thirty-third wave (q258-q261): full JVM replays of
  * the Kruskal–Wallis assembly, the integer JSD, the seasonal
  * decomposition, and the assortativity moments.
  */
class Training33Spec extends SparkSpec {
  private val dir = "/root/testdata/sf0.001"
  private def q(name: String) =
    SparkEntry.allDefs.find(_.name == name).get.fn(spark, dir)

  private def dsum(xs: Iterable[Double]): Double =
    xs.map(x => BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP))
      .sum.toDouble

  test("q258: H and tie-corrected H match a JVM midrank replay; H is non-negative") {
    val rows = Tables(spark, dir, "lineitem")
      .select("l_returnflag", "l_quantity").collect()
      .map(r => (r.getString(0), r.getDouble(1).toLong))
    val n = rows.length.toLong
    val byVal = rows.groupBy(_._2).view.mapValues(_.size.toLong).toMap
    val sortedVals = byVal.keys.toSeq.sorted
    val cumBefore = sortedVals.scanLeft(0L)((acc, v) => acc + byVal(v))
      .zip(sortedVals :+ Long.MaxValue).map { case (c, v) => v -> c }.toMap
    def m2(v: Long): Long = 2 * cumBefore(v) + byVal(v) + 1
    val byG = rows.groupBy(_._1)
    val terms = byG.toSeq.sortBy(_._1).map { case (_, rs) =>
      val ng = rs.length.toLong
      val r2g = rs.map(r => m2(r._2)).sum
      val rbar = r2g.toDouble / (2.0 * ng.toDouble)
      val mu = (n + 1).toDouble / 2.0
      ng.toDouble * ((rbar - mu) * (rbar - mu))
    }
    val s2 = dsum(terms)
    val nd = n.toDouble
    val h = (12.0 / (nd * (nd + 1.0))) * s2
    val tsum = dsum(byVal.values.map { t =>
      val td = t.toDouble; td * td * td - td
    })
    val hc = h / (1.0 - tsum / (nd * nd * nd - nd))
    val got = q("q258_kruskal_wallis").collect().head
    assert(got.getLong(0) == n)
    assert(got.getLong(1) == byG.size.toLong)
    assert(math.abs(got.getDouble(2) - round6(h)) < 1e-9, s"${got.getDouble(2)} vs $h")
    assert(math.abs(got.getDouble(3) - round6(hc)) < 1e-9)
    assert(got.getDouble(2) >= 0.0)
  }

  test("q259: integer JSD matches a JVM replay and respects the ln 2 bound") {
    val docs = Tables(spark, dir, "documents")
      .select("source", "lang").collect()
      .map(r => (r.getString(0), r.getString(1)))
    val u = docs.length.toLong
    val gl = docs.groupBy(_._2).view.mapValues(_.size.toLong).toMap
    def lnMicro(x: Double): Long = math.round(math.log(x) * 1000000)
    val want = docs.groupBy(_._1).toSeq.sortBy(_._1).map { case (src, rs) =>
      val n = rs.length.toLong
      val sl = rs.groupBy(_._2).view.mapValues(_.size.toLong).toMap
      val sp = gl.keys.toSeq.map { lang =>
        val c = sl.getOrElse(lang, 0L); val dd = gl(lang)
        if (c > 0)
          c * lnMicro((2.0 * c * u) / (c.toDouble * u + dd.toDouble * n))
        else 0L
      }.sum
      val sq = gl.keys.toSeq.map { lang =>
        val c = sl.getOrElse(lang, 0L); val dd = gl(lang)
        dd * lnMicro((2.0 * dd * n) / (c.toDouble * u + dd.toDouble * n))
      }.sum
      val klp = halfUp(sp, n)
      val klq = halfUp(sq, u)
      (src, n, klp, klq, halfUp(klp + klq, 2))
    }
    val got = q("q259_js_divergence").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
      .toSeq
    assert(got == want)
    // 0 <= JSD <= ln 2 (micro-nats, small rounding slack)
    got.foreach { case (src, _, _, _, jsd) =>
      assert(jsd >= -2 && jsd <= 693149, s"$src: $jsd")
    }
  }

  test("q260: decomposition equals a JVM replay; residuals are val - trend - seasonal") {
    val ev = Tables(spark, dir, "events")
      .selectExpr("to_date(ts) AS day", "CAST(round(value * 1000000) AS BIGINT) AS v6")
      .collect().map(r => (r.getDate(0).toLocalDate, r.getLong(1)))
    val daily = ev.groupBy(_._1).view
      .mapValues(rs => (rs.size.toLong, rs.map(_._2).sum)).toSeq
      .map { case (d0, (c, v)) => (d0, c, v) }.sortBy(_._1.toEpochDay)
    val trended = daily.indices.collect {
      case i if i >= 3 && i <= daily.length - 4 =>
        val wsum = (i - 3 to i + 3).map(daily(_)._3).sum
        val t6 = halfUp(wsum, 7)
        val (d0, c, v) = daily(i)
        val dow = math.floorMod(d0.toEpochDay, 7L)
        (d0, c, v, t6, v - t6, dow)
    }
    val seas = trended.groupBy(_._6).view.mapValues { rs =>
      halfUp(rs.map(_._5).sum, rs.size.toLong)
    }.toMap
    val want = trended.map { case (d0, c, v, t6, det, dow) =>
      (d0, c, v, t6, seas(dow), det - seas(dow))
    }.sortBy { case (d0, _, _, _, _, r) => (-math.abs(r), d0.toEpochDay) }
      .take(10)
    val got = q("q260_seasonal_decompose").collect()
      .map(r => (r.getDate(0).toLocalDate, r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4), r.getLong(5))).toSeq
    assert(got == want)
    got.foreach { case (_, _, v, t6, s6, res) => assert(res == v - t6 - s6) }
  }

  test("q261: assortativity equals a JVM moment replay and lies in [-1, 1]") {
    val li = Tables(spark, dir, "lineitem")
      .select("l_orderkey", "l_partkey").distinct().collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    val byOrder = li.groupBy(_._1).view.mapValues(_.map(_._2).distinct.sorted)
    val e = byOrder.values.flatMap { ps =>
      for (i <- ps.indices; j <- (i + 1) until ps.size) yield (ps(i), ps(j))
    }.toSet
    val und = e.toSeq.flatMap { case (u, v) => Seq((u, v), (v, u)) }
    val deg = und.groupBy(_._1).view.mapValues(_.size.toLong).toMap
    val m = und.size.toLong
    val xs = und.map(t => deg(t._1).toDouble)
    val ys = und.map(t => deg(t._2).toDouble)
    val (sx, sy) = (dsum(xs), dsum(ys))
    val sxx = dsum(xs.map(x => x * x))
    val syy = dsum(ys.map(y => y * y))
    val sxy = dsum(xs.zip(ys).map { case (x, y) => x * y })
    val md = m.toDouble
    val r = (md * sxy - sx * sy) /
      math.sqrt((md * sxx - sx * sx) * (md * syy - sy * sy))
    val got = q("q261_assortativity").collect().head
    assert(got.getLong(0) == m)
    assert(math.abs(got.getDouble(1) - round6(r)) < 1e-9)
    assert(got.getDouble(1) >= -1.0 && got.getDouble(1) <= 1.0)
  }
}
