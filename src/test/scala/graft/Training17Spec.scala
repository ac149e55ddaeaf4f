package graft

import org.apache.spark.sql.functions._

import JvmRef.{hash60, md5Hex, round6}

/** Invariants for the seventeenth wave (q205-q208), recomputed in plain
  * JVM Scala: the gap census against a sorted-ids walk, the
  * time-weighted average against a BigInt segment sweep, the
  * cross-source matrix against the Training14-style minhash mirror, and
  * the prefix-filter join against a brute-force exact-Jaccard
  * threshold scan — plus the losslessness witness (every truth pair
  * survives the prefix cut).
  */
class Training17Spec extends SparkSpec {
  private val dir = "/root/testdata/sf0.001"
  private def q(name: String) =
    SparkEntry.allDefs.find(_.name == name).get.fn(spark, dir)

  private val mask60 = (1L << 60) - 1

  /** JVM mirror of wordHashes → ngramHashes(3) (distinct, short-doc fallback). */
  private def ngramHashes(text: String): Seq[Long] = {
    val wh = text.split(" ", -1).map(hash60).toSeq
    val hs =
      if (wh.length >= 3)
        (0 to wh.length - 3).map(i =>
          ((wh(i) << 2) ^ (wh(i + 1) << 1) ^ wh(i + 2)) & mask60)
      else wh
    hs.distinct
  }

  test("q205: gap census equals a sorted-ids JVM walk") {
    val ids = Tables(spark, dir, "events")
      .where(col("event_type") === "click")
      .select("event_id").collect().map(_.getLong(0)).sorted
    val present = ids.toSet
    val breaks = ids.count(id => !present.contains(id + 1))
    val r = q("q205_sequence_gaps").collect().head
    assert(r.getAs[Long]("n_present") == ids.length.toLong)
    assert(r.getAs[Long]("min_id") == ids.head)
    assert(r.getAs[Long]("max_id") == ids.last)
    assert(r.getAs[Long]("n_missing") ==
      ids.last - ids.head + 1 - ids.length)
    assert(r.getAs[Long]("n_gap_runs") == breaks - 1L)
    // runs and missing must be consistent: each run holds ≥1 missing id
    assert(r.getAs[Long]("n_missing") >= r.getAs[Long]("n_gap_runs"))
  }

  test("q206: time-weighted averages equal a BigInt segment sweep") {
    val ev = Tables(spark, dir, "events")
      .selectExpr("user_id", "unix_micros(ts) AS ts_us", "event_id",
        "CAST(round(value * 1000000) AS BIGINT) AS v_micro")
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    val want = ev.groupBy(_._1).collect {
      case (u, g) if g.length >= 2 =>
        val s = g.sortBy(e => (e._2, e._3))
        val segs = s.init.zip(s.tail).map { case (a, b) =>
          (BigInt(a._4), BigInt(b._2 - a._2))
        }
        val totalUs = segs.map(_._2).sum
        val twa =
          if (totalUs == 0) null
          else round6((BigDecimal(segs.map(x => x._1 * x._2).sum) /
            (BigDecimal(1000000) * BigDecimal(totalUs))).toDouble)
        u -> ((segs.length.toLong, totalUs.toLong, twa))
    }.toMap
    val got = q("q206_time_weighted_avg").collect()
      .map(r => r.getAs[Long]("user_id") ->
        ((r.getAs[Long]("n_segments"), r.getAs[Long]("total_us"),
          if (r.isNullAt(3)) null else r.getAs[Double]("twa")))).toMap
    assert(got.keySet == want.keySet)
    got.foreach { case (u, (n, tot, twa)) =>
      val (wn, wtot, wtwa) = want(u)
      assert(n == wn && tot == wtot, s"user $u")
      (twa, wtwa) match {
        case (a: java.lang.Double, b: java.lang.Double) =>
          assert(math.abs(a - b) < 1e-9, s"user $u twa $a vs $b")
        case (a, b) => assert(a == b, s"user $u twa")
      }
    }
  }

  test("q207: source matrix equals the JVM minhash-candidate mirror") {
    def xorConst(i: Int): Long = (i.toLong * 0x9E3779B97F4A7C15L) & mask60
    def minhash(i: Int, hs: Seq[Long]): Long = hs.map(_ ^ xorConst(i)).min
    def bandKey(b: Int, hs: Seq[Long]): String =
      md5Hex(s"${minhash(2 * b, hs)}_${minhash(2 * b + 1, hs)}")
    val docs = Tables(spark, dir, "documents")
      .select("doc_id", "text", "source").collect()
      .map(r => (r.getLong(0), ngramHashes(r.getString(1)), r.getString(2)))
    val srcOf = docs.map(d => d._1 -> d._3).toMap
    val buckets = (for {
      (id, hs, _) <- docs.iterator
      b <- 0 until 4
    } yield ((b, bandKey(b, hs)), id)).toSeq.groupBy(_._1).values
      .map(_.map(_._2).sorted).filter(_.size <= 32)
    val cand = buckets.flatMap(ids =>
      for (i <- ids.indices; j <- (i + 1) until ids.length)
        yield (ids(i), ids(j))).toSet
    val want = cand.toSeq.map { case (a, b) =>
      val (sa, sb) = (srcOf(a), srcOf(b))
      (if (sa <= sb) sa else sb, if (sa <= sb) sb else sa)
    }.groupBy(identity).view.mapValues(_.size.toLong).toMap
    val got = q("q207_cross_source_neardup").collect()
      .map(r => (r.getString(0), r.getString(1)) -> r.getAs[Long]("n_pairs"))
      .toMap
    assert(got == want)
    assert(got.values.sum == cand.size.toLong)
  }

  test("q208: prefix join equals brute-force τ=0.8 Jaccard; prefix cut is lossless") {
    val docs = Tables(spark, dir, "documents")
      .select("doc_id", "text").collect()
      .map(r => (r.getLong(0), ngramHashes(r.getString(1))))
    val sets = docs.map { case (id, hs) => (id, hs.toSet) }
    val truth = (for {
      i <- sets.indices.iterator
      j <- (i + 1) until sets.length
      (ia, sa) = sets(i); (ib, sb) = sets(j)
      c = (sa & sb).size
      if c * 9 >= (sa.size + sb.size) * 4
    } yield ((math.min(ia, ib), math.max(ia, ib)),
      round6(c.toDouble / (sa.size + sb.size - c)))).toMap
    val got = q("q208_prefix_filter_join").collect()
      .map(r => (r.getAs[Long]("doc_a"), r.getAs[Long]("doc_b")) ->
        r.getAs[Double]("jaccard")).toMap
    assert(got == truth)
    // losslessness witness: every truth pair shares a token within both
    // docs' τ-prefixes under the ascending-hash order
    val prefixes = docs.map { case (id, hs) =>
      val n = hs.size.toLong
      val pl = (n - ((4 * n + 4) / 5) + 1).toInt
      (id, hs.sorted.take(pl).toSet)
    }.toMap
    truth.keys.foreach { case (a, b) =>
      assert((prefixes(a) & prefixes(b)).nonEmpty, s"pair ($a,$b)")
    }
  }
}
