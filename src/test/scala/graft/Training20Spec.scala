package graft

import org.apache.spark.sql.functions._

import JvmRef.{hash60, round6}

/** Invariants for the twentieth wave (q217-q220): JVM recounts of the
  * coverage curve, the correlated-sampling estimator (including the
  * slice-completeness property that makes it unbiased), the Neyman
  * largest-remainder allocation (seats sum to exactly 100), and the
  * snapshot diff census (classes tile both versions).
  */
class Training20Spec extends SparkSpec {
  private val dir = "/root/testdata/sf0.001"
  private def q(name: String) =
    SparkEntry.allDefs.find(_.name == name).get.fn(spark, dir)

  test("q217: coverage curve equals a JVM ranked-vocab walk") {
    val words = Tables(spark, dir, "documents")
      .select("text").collect().flatMap(_.getString(0).split(" ", -1))
    val vocab = words.groupBy(identity).view.mapValues(_.length.toLong).toSeq
      .sortBy { case (w, n) => (-n, w) }
    val total = vocab.map(_._2).sum
    val want = Seq(10, 100, 1000).map { k =>
      val cov = vocab.take(k).map(_._2).sum
      k -> ((cov, total, vocab.size.toLong, round6(cov.toDouble / total)))
    }.toMap
    val got = q("q217_vocab_coverage").collect()
      .map(r => r.getAs[Int]("k") ->
        ((r.getAs[Long]("covered_tokens"), r.getAs[Long]("total_tokens"),
          r.getAs[Long]("vocab_size"), r.getAs[Double]("share")))).toMap
    assert(got == want)
    // curve is monotone in k
    assert(got(10)._1 <= got(100)._1 && got(100)._1 <= got(1000)._1)
  }

  test("q218: estimator equals the JVM slice join; slice keeps whole key groups") {
    val os = Tables(spark, dir, "orders")
      .select("o_custkey").collect().map(_.getLong(0))
    val cs = Tables(spark, dir, "customer")
      .select("c_custkey").collect().map(_.getLong(0))
    val cSet = cs.groupBy(identity).view.mapValues(_.size).toMap
    val nTrue = os.map(k => cSet.getOrElse(k, 0)).sum.toLong
    def inSlice(k: Long) = hash60(k.toString) % 16 == 0
    val nSamp = os.filter(inSlice)
      .map(k => if (cSet.contains(k)) cSet(k) else 0).sum.toLong
    val r = q("q218_join_card_estimate").collect().head
    assert(r.getAs[Long]("n_true") == nTrue)
    assert(r.getAs[Long]("n_sampled") == nSamp)
    assert(r.getAs[Long]("n_estimated") == nSamp * 16)
    assert(r.getAs[Double]("rel_err") ==
      round6(math.abs(nSamp * 16 - nTrue).toDouble / nTrue))
    // correlated sampling keeps EVERY edge of a sliced key — the
    // sampled count equals the full recount restricted to slice keys
    assert(nSamp == os.filter(inSlice).count(cSet.contains).toLong)
  }

  test("q219: allocation equals a JVM largest-remainder recount; seats sum to 100") {
    val rows = Tables(spark, dir, "customer")
      .select("c_mktsegment", "c_acctbal").collect()
      .map(r => (r.getString(0), math.round(r.getDouble(1) * 100)))
    val st = rows.groupBy(_._1).map { case (seg, g) =>
      val n = g.length.toLong
      val s1 = BigInt(g.map(_._2).sum)
      val s2 = g.map(x => BigInt(x._2) * BigInt(x._2)).sum
      val sigma = round6(
        math.sqrt((BigInt(n) * s2 - s1 * s1).toDouble) / n / 100.0)
      (seg, n, sigma)
    }.toSeq
    val wTot = st.map { case (_, n, s) =>
      BigDecimal(s).setScale(6) * n }.sum
    val quotas = st.map { case (seg, n, s) =>
      val quota = (BigDecimal(s).setScale(6) * n).toDouble * 100.0 / wTot.toDouble
      (seg, n, s, math.floor(quota).toLong, quota - math.floor(quota))
    }
    val extra = 100 - quotas.map(_._4).sum
    val bumped = quotas.sortBy { case (seg, _, _, _, f) => (-f, seg) }
      .zipWithIndex
      .map { case ((seg, n, s, b, _), i) =>
        (seg, (n, s, b + (if (i < extra) 1L else 0L)))
      }.toMap
    val got = q("q219_neyman_allocation").collect()
      .map(r => r.getString(0) ->
        ((r.getAs[Long]("n_h"), r.getAs[Double]("sigma"),
          r.getAs[Long]("n_alloc")))).toMap
    assert(got == bumped)
    assert(got.values.map(_._3).sum == 100L)
  }

  test("q220: diff census equals a JVM map diff; classes tile both versions") {
    val base = Tables(spark, dir, "orders")
      .select("o_orderkey", "o_totalprice").collect()
      .map(r => (r.getLong(0), math.round(r.getDouble(1) * 100)))
    val v1 = base.filter(_._1 % 7 != 0).toMap
    val v2 = base.filter(_._1 % 5 != 0)
      .map { case (k, c) => k -> (c + (if (k % 3 == 0) 1 else 0)) }.toMap
    val ops = (v1.keySet ++ v2.keySet).toSeq.map { k =>
      val op =
        if (!v1.contains(k)) "I"
        else if (!v2.contains(k)) "D"
        else if (v1(k) != v2(k)) "U"
        else "N"
      (op, k)
    }
    val want = ops.groupBy(_._1).map { case (op, g) =>
      op -> ((g.size.toLong, g.map(_._2).sum))
    }
    val got = q("q220_snapshot_diff").collect()
      .map(r => r.getString(0) ->
        ((r.getAs[Long]("n"), r.getAs[Long]("key_sum")))).toMap
    assert(got == want)
    assert(got.values.map(_._1).sum == (v1.keySet ++ v2.keySet).size.toLong)
  }
}
