package graft

import org.apache.spark.sql.functions._

import JvmRef.hash60

/** Invariants for the thirteenth wave (q187-q190): each statistic is
  * recomputed in plain JVM Scala — including the md5-derived 60-bit
  * hash behind the bootstrap multipliers — plus the structural
  * properties (CI ordering, weight conservation, share mass) a wrong
  * implementation would break.
  */
class Training13Spec extends SparkSpec {
  private val dir = "/root/testdata/sf0.001"
  private def q(name: String) =
    SparkEntry.allDefs.find(_.name == name).get.fn(spark, dir)

  private def halfUp(s: BigInt, n: BigInt): BigInt = (2 * s + n) / (2 * n)

  /** JVM mirror of TextOps.hash60*: first 15 md5 hex digits as a long. */

  test("q187: replicate means, CI order statistics, and the CI bracket recount") {
    val xs = Tables(spark, dir, "orders")
      .select(col("o_orderkey"),
        expr("CAST(round(o_totalprice * 100, 0) AS BIGINT)").as("x"))
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    def mult(b: Int, id: Long): Long = {
      val u = hash60(s"bs$b:$id") % 1000000
      if (u < 367879) 0 else if (u < 735759) 1
      else if (u < 919699) 2 else if (u < 981012) 3 else 4
    }
    val means = (0 until 20).map { b =>
      val (sx, sm) = xs.foldLeft((BigInt(0), BigInt(0))) { case ((a, m), (id, x)) =>
        val k = mult(b, id); (a + BigInt(k) * x, m + k)
      }
      (b, halfUp(sx, sm).toLong)
    }
    val sorted = means.sortBy { case (b, m) => (m, b) }.map(_._2)
    val r = q("q187_bootstrap_ci").collect().head
    assert(r.getAs[Long]("n_orders") == xs.length.toLong)
    assert(r.getAs[Long]("mean_cents") ==
      halfUp(xs.map(p => BigInt(p._2)).sum, xs.length).toLong)
    assert(r.getAs[Long]("ci_lo_cents") == sorted(1), "2nd order statistic")
    assert(r.getAs[Long]("ci_hi_cents") == sorted(18), "19th order statistic")
    assert(r.getAs[Long]("ci_lo_cents") <= r.getAs[Long]("ci_hi_cents"))
    // a 90% bootstrap CI on deterministic data should bracket the mean
    assert(r.getAs[Long]("ci_lo_cents") <= r.getAs[Long]("mean_cents") &&
      r.getAs[Long]("mean_cents") <= r.getAs[Long]("ci_hi_cents"))
  }

  test("q188: every day's EWMA and spike flag match a JVM recount") {
    val daily = Tables(spark, dir, "lineitem")
      .select(
        expr("CAST(datediff(CAST(l_shipdate AS DATE), DATE '1970-01-01') AS BIGINT)").as("day"),
        expr("CAST(round(l_extendedprice * 100, 0) AS BIGINT)").as("c"))
      .groupBy("day").agg(sum("c").as("cents"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val rows = q("q188_ewma_spikes").collect()
    // only days with at least one prior day inside the 16-day window appear
    val expectDays = daily.keySet.filter(t => (1 to 16).exists(k => daily.contains(t - k)))
    assert(rows.map(_.getAs[Long]("day")).toSet == expectDays)
    rows.foreach { r =>
      val t = r.getAs[Long]("day")
      val terms = (1 to 16).flatMap(k =>
        daily.get(t - k).map(c => (BigInt(c) * BigInt(2).pow(16 - k), BigInt(2).pow(16 - k))))
      val num = terms.map(_._1).sum
      val wsum = terms.map(_._2).sum
      assert(r.getAs[Long]("cents") == daily(t))
      assert(r.getAs[Long]("ewma_cents") == halfUp(num, wsum).toLong, s"day $t")
      assert(r.getAs[Boolean]("spike") == (BigInt(daily(t)) * wsum > 2 * num), s"day $t")
    }
  }

  test("q189: leave-one-out means match a JVM recount; doc mass conserved") {
    val docs = Tables(spark, dir, "documents")
      .select("source", "n_chars").collect()
      .map(r => (r.getString(0), r.getLong(1)))
    val n = BigInt(docs.length)
    val s = docs.map(d => BigInt(d._2)).sum
    val globalMean = halfUp(s, n)
    val rows = q("q189_jackknife_influence").collect()
    assert(rows.map(_.getAs[Long]("n_docs")).sum == docs.length.toLong)
    rows.foreach { r =>
      val g = docs.filter(_._1 == r.getAs[String]("source"))
      val (ng, sg) = (BigInt(g.length), g.map(d => BigInt(d._2)).sum)
      val loo = halfUp(s - sg, n - ng)
      assert(r.getAs[Long]("loo_mean_chars") == loo.toLong)
      assert(r.getAs[Long]("delta_chars") == (loo - globalMean).toLong)
    }
  }

  test("q190: buckets are exact bit lengths and shares sum to ~1e6 per lang") {
    val docs = Tables(spark, dir, "documents")
      .select("lang", "n_chars").collect()
      .map(r => (r.getString(0), r.getLong(1)))
    val expect = docs.groupBy { case (l, c) =>
      (l, java.lang.Long.toBinaryString(c).length.toLong)
    }.map { case (k, g) => k -> g.length.toLong }
    val rows = q("q190_length_log2_hist").collect()
    assert(rows.length == expect.size)
    rows.foreach { r =>
      val key = (r.getAs[String]("lang"), r.getAs[Long]("log2_bucket"))
      assert(expect(key) == r.getAs[Long]("n_docs"), key.toString)
      // the bucket really is floor(log2)+1 of every member length
      val members = docs.filter(d => d._1 == key._1 &&
        java.lang.Long.toBinaryString(d._2).length.toLong == key._2)
      members.foreach { case (_, c) =>
        assert(c >= (1L << (key._2 - 1)) && c < (1L << key._2))
      }
    }
    rows.groupBy(_.getAs[String]("lang")).foreach { case (lang, rs) =>
      val mass = rs.map(_.getAs[Long]("share_ppm")).sum
      assert(math.abs(mass - 1000000L) <= rs.length, s"$lang share mass $mass")
    }
  }
}
