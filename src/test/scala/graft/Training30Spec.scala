package graft

import JvmRef.{hash60, round6}

/** Invariants for the thirtieth wave (q247-q249): the IVM identity
  * (maintained aggregate == direct aggregate of the new version), the
  * cluster-aware split's zero-leakage construction (cross-checked
  * against q71's cluster assignment), and a full JVM replay of the
  * pHash matcher.
  */
class Training30Spec extends SparkSpec {
  private val dir = "/root/testdata/sf0.001"
  private def q(name: String) =
    SparkEntry.allDefs.find(_.name == name).get.fn(spark, dir)

  test("q247: maintained aggregate equals the direct aggregate of v1 (the IVM identity)") {
    val os = Tables(spark, dir, "orders")
      .select("o_orderkey", "o_orderpriority", "o_totalprice").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getDouble(2)))
    def dsum(xs: Iterable[Double]): Double =
      xs.map(x => BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP))
        .sum.toDouble
    // the maintained path: base + delta, each part an exact-decimal sum
    val want = os.groupBy(_._2).map { case (p, rows) =>
      val r0 = dsum(rows.map(_._3))
      val dn = rows.count(_._1 % 100 == 0).toLong
      val dr = dsum(
        rows.filter(_._1 % 10 == 0).map(r => r._3 * 2 - r._3) ++
          rows.filter(_._1 % 100 == 0).map(_._3))
      (p, rows.length.toLong + dn, r0 + dr)
    }.toSeq.sortBy(_._1)
    val got = q("q247_incremental_agg").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getDouble(2))).toSeq
    assert(got == want)
    // and the IVM identity proper: base+delta equals a from-scratch
    // aggregate of the v1 state (updates repriced, inserts added)
    val direct = os.groupBy(_._2).map { case (p, rows) =>
      val v1 = rows.map(r =>
        if (r._1 % 10 == 0) r._3 * 2 else r._3) ++
        rows.filter(_._1 % 100 == 0).map(_._3)
      (p, v1.size.toLong, dsum(v1))
    }.toSeq.sortBy(_._1)
    got.zip(direct).foreach { case ((p, n, rev), (p2, n2, rev2)) =>
      assert(p == p2 && n == n2)
      assert(math.abs(rev - rev2) < 1e-3, s"$p $rev vs $rev2")
    }
  }

  test("q248: split covers the corpus, leaks zero pairs, and respects q71 clusters") {
    val got = q("q248_cluster_split").collect()
      .map(r => (r.getString(0), r.getAs[Long]("n_docs"),
        r.getAs[Long]("n_crossing"))).toSeq.sortBy(_._1)
    val total = Tables(spark, dir, "documents").count()
    assert(got.map(_._2).sum == total)
    got.foreach { case (_, _, crossing) => assert(crossing == 0L) }
    // cross-check against q71's (independently oracled) clusters: the
    // split recomputed from each doc's cluster id must reproduce the
    // same per-split totals, and same-cluster docs never straddle
    val clusters = q("q71_dedup_clusters").collect()
      .map(r => (r.getAs[Long]("doc_id"), r.getAs[Long]("cluster_id")))
    val split = clusters.map { case (doc, cid) =>
      (doc, if (hash60(s"sp:$cid") % 10 < 8) "train" else "eval")
    }.toMap
    val bySplit = split.values.groupBy(identity).view.mapValues(_.size.toLong)
    assert(got.map(g => g._1 -> g._2).toMap == bySplit.toMap)
    clusters.groupBy(_._2).values.foreach { members =>
      assert(members.map(m => split(m._1)).distinct.size == 1)
    }
  }

  test("q249: pHash pairs equal a full JVM replay; buckets respect the cap") {
    val docs = Tables(spark, dir, "documents")
      .select("doc_id", "text").collect()
      .map(r => (r.getLong(0), r.getString(1)))
    def coef(k: Int, i: Int): Double =
      round6(math.cos(math.Pi / 16.0 * (i + 0.5) * k))
    val hashed = docs.map { case (id, text) =>
      val payload = text.getBytes("UTF-8")
      val n = payload.length
      val pool = Array.tabulate(16) { w =>
        var acc = 0L
        var i = w * n / 16
        val hi = (w + 1) * n / 16
        while (i < hi) { acc += payload(i) & 0xff; i += 1 }
        acc
      }
      // identical left-associated chains as the declared expressions
      val f = (1 to 8).map { k =>
        var acc = 0.0
        (0 until 16).foreach(i => acc = acc + pool(i) * coef(k, i))
        acc
      }
      var mean = 0.0
      f.foreach(x => mean = mean + x)
      mean = mean / 8.0
      val ph = (1 to 8).map(k =>
        if (f(k - 1) > mean) 1L << (k - 1) else 0L).sum
      (id, ph)
    }
    val byHash = hashed.groupBy(_._2).view.mapValues(_.map(_._1).sorted).toMap
    val want = byHash.values.filter(_.size <= 32).flatMap { ids =>
      for (i <- ids.indices; j <- (i + 1) until ids.size)
        yield (ids(i), ids(j))
    }.toSet
    val got = q("q249_phash_neardup").collect()
      .map(r => (r.getAs[Long]("doc_a"), r.getAs[Long]("doc_b"))).toSet
    assert(got == want)
    // sanity: hashes spread (collisions are structure, not a constant)
    assert(byHash.size > 16, s"only ${byHash.size} distinct pHashes")
  }
}
