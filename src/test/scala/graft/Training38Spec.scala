package graft

import JvmRef.{halfUp, hash60}

/** Invariants for the thirty-eighth wave (q278-q281): the debiasing
  * identity, fairness-metric recounts, Merkle incremental-verification
  * facts, and the LTV monotonicity + recount.
  */
class Training38Spec extends SparkSpec {
  private val dir = "/root/testdata/sf0.001"
  private def q(name: String) =
    SparkEntry.allDefs.find(_.name == name).get.fn(spark, dir)

  test("q278: debiased estimate matches the mechanism replay and brackets the truth") {
    val docs = Tables(spark, dir, "documents")
      .select("doc_id", "lang").collect()
      .map(r => (r.getLong(0), r.getString(1)))
    val reports = docs.map { case (id, lang) =>
      val tru = if (lang == "en") 1L else 0L
      val rep = if (hash60(s"rr:$id") % 4 == 0) 1L - tru else tru
      (tru, rep)
    }
    val n = reports.length.toLong
    val truePos = reports.map(_._1).sum
    val repPos = reports.map(_._2).sum
    val got = q("q278_randomized_response").collect().head
    assert(got.getLong(0) == n)
    assert(got.getLong(1) == truePos)
    assert(got.getLong(2) == repPos)
    assert(got.getLong(3) == halfUp(1000000 * truePos, n))
    assert(got.getLong(4) == halfUp((4 * repPos - n) * 1000000, 2 * n))
    assert(got.getBoolean(5), "estimate must sit inside the 3-sigma envelope")
  }

  test("q279: fairness metrics equal a JVM recount; parity gaps sum consistently") {
    import org.apache.spark.sql.functions._
    val rows = Tables(spark, dir, "orders")
      .join(Tables(spark, dir, "customer"), col("o_custkey") === col("c_custkey"))
      .select(col("c_mktsegment"),
        (col("o_totalprice") > 150000.0).cast("long").as("yhat"),
        (col("o_orderstatus") === "F").cast("long").as("y"))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    val overall = halfUp(1000000 * rows.map(_._2).sum, rows.length.toLong)
    val want = rows.groupBy(_._1).toSeq.sortBy(_._1).map { case (seg, rs) =>
      val n = rs.length.toLong
      val sel = rs.map(_._2).sum
      val pos = rs.map(_._3).sum
      val tp = rs.filter(_._3 == 1).map(_._2).sum
      val fp = rs.filter(_._3 == 0).map(_._2).sum
      (seg, n, halfUp(1000000 * sel, n), halfUp(1000000 * tp, pos),
        halfUp(1000000 * fp, n - pos), halfUp(1000000 * sel, n) - overall)
    }
    val got = q("q279_fairness_report").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5))).toSeq
    assert(got == want)
    // the n-weighted mean of group selection rates reproduces the
    // overall rate (within per-group rounding)
    val weighted = got.map(g => g._2 * g._3).sum / got.map(_._2).sum
    assert(math.abs(weighted - overall) <= 1)
  }

  test("q280: digests are partition-invariant; a changed row flips exactly its bucket and the root") {
    val got = q("q280_merkle_digest").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(got.length == 64)
    assert(got.map(_._4).distinct.length == 1) // one shared root
    // JVM replay with a DIFFERENT iteration order — commutativity
    val li = Tables(spark, dir, "lineitem")
      .selectExpr("l_orderkey", "CAST(l_linenumber AS BIGINT) AS ln",
        "CAST(round(l_quantity) AS BIGINT) AS q").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    val P = BigInt("2305843009213693951")
    val byBucket = li.reverse // reversed order: digest must not care
      .groupBy(t => t._1 % 64)
      .view.mapValues { rs =>
        (rs.size.toLong,
          (rs.map(t => BigInt(hash60(s"${t._1}:${t._2}:${t._3}"))).sum mod P).toLong)
      }.toMap
    got.foreach { case (b, n, dg, _) =>
      assert(byBucket(b) == ((n, dg)), s"bucket $b")
    }
    // incremental-verification fact: dropping one row changes only its
    // own bucket digest
    val victim = li.head
    val b0 = victim._1 % 64
    val altDigest = ((BigInt(byBucket(b0)._2) - BigInt(
      hash60(s"${victim._1}:${victim._2}:${victim._3}")) mod P + P) mod P).toLong
    assert(altDigest != byBucket(b0)._2)
    (0L until 64L).filter(_ != b0).foreach { b =>
      assert(byBucket(b)._2 == got.find(_._1 == b).get._3)
    }
  }

  test("q281: LTV is cumulative and non-decreasing; totals match a direct recount") {
    val got = q("q281_cohort_ltv").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
    assert(got.nonEmpty)
    got.groupBy(_._1).values.foreach { rows =>
      val seq = rows.sortBy(_._2)
      seq.sliding(2).foreach {
        case Array(a, b) => assert(a._4 <= b._4, s"$a -> $b")
        case _ =>
      }
      seq.foreach { case (_, _, n, cum, ltv) =>
        assert(ltv == halfUp(cum, n))
      }
    }
    // total purchase value equals the last cumulative row summed over cohorts
    val totalV6 = Tables(spark, dir, "events")
      .selectExpr("CAST(round(value * 1000000) AS BIGINT) AS v6", "event_type")
      .collect().filter(_.getString(1) == "purchase").map(_.getLong(0)).sum
    val lastCum = got.groupBy(_._1).values.map(_.maxBy(_._2)._4).sum
    assert(lastCum == totalV6)
  }
}
