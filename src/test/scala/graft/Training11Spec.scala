package graft

import org.apache.spark.sql.functions._

import JvmRef.round6

/** Invariants for the eleventh wave (q174-q180) beyond the row/hash
  * oracle: each statistic is recomputed independently in plain JVM
  * Scala from the same collected inputs (different formulation, same
  * answer), plus bound checks a wrong implementation would break.
  * This wave previously shipped without a spec; q177's overflow fix
  * (Gini cross-products now DECIMAL(38,0)) is pinned here too.
  */
class Training11Spec extends SparkSpec {
  private val dir = "/root/testdata/sf0.001"
  private def q(name: String) =
    SparkEntry.allDefs.find(_.name == name).get.fn(spark, dir)

  private def halfUp(s: BigInt, n: BigInt): BigInt = (2 * s + n) / (2 * n)

  test("q174: Spearman rho matches a JVM doubled-midrank recount, in [-1, 1]") {
    val items = Tables(spark, dir, "lineitem")
      .groupBy("l_orderkey").agg(count(lit(1)).as("v"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val pairs = Tables(spark, dir, "orders")
      .select(col("o_orderkey"),
        expr("CAST(round(o_totalprice * 100, 0) AS BIGINT)").as("u"))
      .collect()
      .flatMap(r => items.get(r.getLong(0)).map(v => (r.getLong(1), v)))
    def doubledMidrank(vs: Array[Long]): Map[Long, Long] = {
      val byV = vs.groupBy(identity).map { case (k, g) => k -> g.length.toLong }
      val sorted = byV.toSeq.sortBy(_._1)
      var cum = 0L
      sorted.map { case (v, cnt) =>
        val r = 2 * cum + cnt + 1; cum += cnt; v -> r
      }.toMap
    }
    val ur = doubledMidrank(pairs.map(_._1))
    val vr = doubledMidrank(pairs.map(_._2))
    val xs = pairs.map(p => ur(p._1).toDouble)
    val ys = pairs.map(p => vr(p._2).toDouble)
    val n = pairs.length.toDouble
    val (sx, sy) = (xs.sum, ys.sum)
    val sxx = xs.map(x => x * x).sum
    val syy = ys.map(y => y * y).sum
    val sxy = xs.zip(ys).map { case (x, y) => x * y }.sum
    val rho = (n * sxy - sx * sy) / math.sqrt((n * sxx - sx * sx) * (n * syy - sy * sy))
    val r = q("q174_spearman").collect().head
    assert(r.getAs[Long]("n_orders") == pairs.length.toLong)
    val got = r.getAs[Double]("spearman_rho")
    assert(math.abs(got - rho) < 1e-5, s"rho $got vs $rho")
    assert(got >= -1.0 && got <= 1.0)
  }

  test("q175: ANOVA F matches a JVM recount; SSB/SSW are nonnegative") {
    val xs = Tables(spark, dir, "orders")
      .select(col("o_orderpriority"),
        expr("CAST(round(o_totalprice, 0) AS BIGINT)").as("x"))
      .collect().map(r => (r.getString(0), r.getLong(1)))
    val groups = xs.groupBy(_._1).values.map(_.map(_._2)).toSeq
    val k = BigInt(groups.size)
    val n = BigInt(xs.length)
    val qTot = xs.map(p => BigInt(p._2) * p._2).sum
    val sTot = BigInt(xs.map(_._2).sum)
    val xHat = groups.map { g =>
      val sg = BigInt(g.sum); halfUp(sg * sg, g.length)
    }.sum
    val ssb = xHat - halfUp(sTot * sTot, n)
    val ssw = qTot - xHat
    val f = round6(((n - k) * ssb).toDouble / ((k - 1) * ssw).toDouble)
    val r = q("q175_anova_f").collect().head
    assert(r.getAs[Long]("n_groups") == k.toLong)
    assert(r.getAs[Long]("n_orders") == n.toLong)
    assert(BigInt(r.getAs[Long]("ssb")) == ssb)
    assert(BigInt(r.getAs[Long]("ssw")) == ssw)
    assert(ssb >= 0 && ssw > 0)
    assert(math.abs(r.getAs[Double]("f_stat") - f) < 1e-9)
  }

  test("q176: z-squared matches a JVM two-proportion recount") {
    val evs = Tables(spark, dir, "events")
      .select(
        expr("CAST(datediff(CAST(ts AS DATE), DATE '1970-01-01') AS BIGINT)").as("day"),
        (col("event_type") === "purchase").as("p"))
      .collect().map(r => ((r.getLong(0) + 4) % 7, r.getBoolean(1)))
    val weekend = evs.filter(e => e._1 == 0 || e._1 == 6)
    val weekday = evs.filterNot(e => e._1 == 0 || e._1 == 6)
    val (x1, n1) = (BigInt(weekend.count(_._2)), BigInt(weekend.length))
    val (x2, n2) = (BigInt(weekday.count(_._2)), BigInt(weekday.length))
    val num = (x1 * n2 - x2 * n1)
    val z2 = round6(num.toDouble * num.toDouble * (n1 + n2).toDouble /
      (n1 * n2 * (x1 + x2) * (n1 + n2 - x1 - x2)).toDouble)
    val r = q("q176_ab_test").collect().head
    assert(r.getAs[Long]("weekend_purchases") == x1.toLong)
    assert(r.getAs[Long]("weekend_events") == n1.toLong)
    assert(r.getAs[Long]("weekday_purchases") == x2.toLong)
    assert(r.getAs[Long]("weekday_events") == n2.toLong)
    assert(math.abs(r.getAs[Double]("z_squared") - z2) < 1e-9)
    assert(r.getAs[Double]("z_squared") >= 0.0)
  }

  test("q177: Gini/HHI/top-10 match a JVM sorted-cumsum recount, all in [0, 1e6]") {
    val cents = Tables(spark, dir, "lineitem")
      .select(col("l_suppkey"),
        expr("CAST(round(l_extendedprice * 100, 0) AS BIGINT)").as("c"))
      .collect().map(r => (r.getLong(0), r.getLong(1)))
      .groupBy(_._1).map { case (sk, g) => (sk, g.map(_._2).sum) }
      .toArray.sortBy { case (sk, c) => (c, sk) }
    val n = BigInt(cents.length)
    val s = BigInt(cents.map(_._2).sum)
    val ic = cents.zipWithIndex.map { case ((_, c), i) => BigInt(i + 1) * c }.sum
    val c2 = cents.map { case (_, c) => BigInt(c) * c }.sum
    val t10 = BigInt(cents.takeRight(10).map(_._2).sum)
    // gini_ppm = half-up of (2e6·ic - 1e6·(n+1)·s) / (n·s); the engine's
    // single-div form folds the two terms: (2(2e6·ic − 1e6(n+1)s) + ns) div (2ns)
    val gini = (2 * (BigInt(2000000) * ic - BigInt(1000000) * (n + 1) * s) + n * s) / (2 * n * s)
    val hhi = halfUp(BigInt(1000000) * c2, s * s)
    val top10 = halfUp(BigInt(1000000) * t10, s)
    val r = q("q177_concentration").collect().head
    assert(r.getAs[Long]("n_suppliers") == n.toLong)
    assert(r.getAs[Long]("total_cents") == s.toLong)
    assert(BigInt(r.getAs[Long]("gini_ppm")) == gini)
    assert(BigInt(r.getAs[Long]("hhi_ppm")) == hhi)
    assert(BigInt(r.getAs[Long]("top10_ppm")) == top10)
    for (v <- Seq(gini, hhi, top10))
      assert(v >= 0 && v <= 1000000, s"ppm out of range: $v")
  }

  test("q178: Zipf slope matches a JVM OLS recount and is negative") {
    val freqs = Tables(spark, dir, "documents")
      .select(explode(split(col("text"), " ")).as("w"))
      .filter(col("w") =!= "")
      .groupBy("w").agg(count(lit(1)).as("nw"))
      .collect().map(r => (r.getString(0), r.getLong(1)))
      .sortBy { case (w, nw) => (-nw, w) }
      .take(1000)
    val pts = freqs.zipWithIndex.map { case ((_, nw), i) =>
      (math.round(math.log(i + 1.0) * 1000000).toDouble,
        math.round(math.log(nw.toDouble) * 1000000).toDouble)
    }
    val n = pts.length.toDouble
    val sx = pts.map(_._1).sum; val sy = pts.map(_._2).sum
    val sxx = pts.map(p => p._1 * p._1).sum
    val sxy = pts.map(p => p._1 * p._2).sum
    val slope = (n * sxy - sx * sy) / (n * sxx - sx * sx)
    val intercept = (sy - slope * sx) / n
    val r = q("q178_zipf_slope").collect().head
    assert(r.getAs[Long]("n_tokens") == pts.length.toLong)
    assert(math.abs(r.getAs[Double]("zipf_slope") - slope) < 1e-5)
    assert(math.abs(r.getAs[Double]("zipf_intercept") - intercept) < 1e-4)
    // natural-language shape: frequency falls with rank
    assert(r.getAs[Double]("zipf_slope") < 0.0)
  }

  test("q179: weekday indices match a JVM recount and average to ~1e6") {
    val days = Tables(spark, dir, "events")
      .select(expr("CAST(datediff(CAST(ts AS DATE), DATE '1970-01-01') AS BIGINT)").as("day"))
      .collect().map(_.getLong(0))
      .groupBy(identity).map { case (d, g) => (d, g.length.toLong) }
    val byDow = days.groupBy { case (d, _) => (d + 4) % 7 }
      .map { case (dow, g) => (dow, g.size.toLong, g.map(_._2).sum) }
    val tDays = BigInt(byDow.map(_._2).sum)
    val tEvents = BigInt(byDow.map(_._3).sum)
    val rows = q("q179_dow_profile").collect()
    assert(rows.length == byDow.size)
    rows.foreach { r =>
      val dow = r.getAs[Long]("dow")
      val (_, nd, ne) = byDow.find(_._1 == dow).get
      assert(r.getAs[Long]("n_days") == nd)
      assert(r.getAs[Long]("n_events") == ne)
      assert(r.getAs[Long]("index_ppm") ==
        halfUp(BigInt(1000000) * ne * tDays, BigInt(nd) * tEvents).toLong)
    }
    // the day-weighted mean index is 1e6 by construction (±rounding)
    val weighted = rows.map(r => r.getAs[Long]("n_days") * r.getAs[Long]("index_ppm")).sum
    assert(math.abs(weighted.toDouble / tDays.toDouble - 1000000.0) < 5.0)
  }

  test("q180: every card column matches a JVM recount per source") {
    val docs = Tables(spark, dir, "documents")
      .select("source", "lang", "text", "n_chars")
      .collect().map(r => (r.getString(0), r.getString(1), r.getString(2), r.getLong(3)))
    val rows = q("q180_dataset_card").collect()
    val bySource = docs.groupBy(_._1)
    assert(rows.length == bySource.size)
    rows.foreach { r =>
      val ds = bySource(r.getAs[String]("source"))
      val n = BigInt(ds.length)
      val chars = BigInt(ds.map(_._4).sum)
      val uniq = BigInt(ds.map(_._3).distinct.length)
      val langs = ds.map(_._2).distinct.length.toLong
      val (topLang, topN) = ds.groupBy(_._2)
        .map { case (l, g) => (l, g.length) }.toSeq
        .sortBy { case (l, c) => (-c, l) }.head
      assert(r.getAs[Long]("docs") == n.toLong)
      assert(r.getAs[Long]("total_chars") == chars.toLong)
      assert(r.getAs[Long]("n_langs") == langs)
      assert(r.getAs[Long]("mean_chars") == halfUp(chars, n).toLong)
      assert(r.getAs[String]("top_lang") == topLang)
      assert(r.getAs[Long]("top_lang_ppm") == halfUp(BigInt(1000000) * topN, n).toLong)
      assert(r.getAs[Long]("dup_ppm") == halfUp(BigInt(1000000) * (n - uniq), n).toLong)
    }
  }
}
