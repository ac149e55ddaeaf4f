package graft

import JvmRef.round6

/** Invariants for the sixteenth wave (q199-q204): every query is
  * recomputed in plain JVM Scala from the raw sf0.001 tables — the
  * lateral top-k against a sort-take, the recursive rollup against an
  * iterative divide loop, the interval islands against a running-max
  * sweep — plus the structural properties a wrong implementation would
  * break (islands cover ≤ span, null key present in the null-safe
  * join, try_divide nulls exactly the qty=1 rows).
  */
class Training16Spec extends SparkSpec {
  private val dir = "/root/testdata/sf0.001"
  private def q(name: String) =
    SparkEntry.allDefs.find(_.name == name).get.fn(spark, dir)

  test("q199: lateral top-3 equals a JVM sort-take per nation") {
    val nations = Tables(spark, dir, "nation")
      .select("n_nationkey", "n_name").collect()
      .map(r => r.getAs[Number](0).longValue() -> r.getString(1)).toMap
    val custs = Tables(spark, dir, "customer")
      .select("c_nationkey", "c_custkey", "c_acctbal").collect()
      .map(r => (r.getInt(0).toLong, r.getLong(1), r.getDouble(2)))
    val want = custs.groupBy(_._1).toSeq.flatMap { case (nk, g) =>
      g.sortBy(c => (-c._3, c._2)).take(3).toSeq
        .map(c => (nations(nk), c._2, c._3))
    }.toSet
    val got = q("q199_lateral_topk").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getDouble(2))).toSet
    assert(got == want)
    // every nation with ≥3 customers contributes exactly 3 rows
    assert(got.size == custs.groupBy(_._1).values
      .map(g => math.min(3, g.size)).sum)
  }

  test("q200: recursive rollup equals an iterative JVM divide loop") {
    val parts = Tables(spark, dir, "part")
      .select("p_partkey").collect().map(_.getLong(0))
    def walk(k: Long): (Long, Int) = {
      var anc = k; var d = 0
      while (anc >= 10) { anc /= 10; d += 1 }
      (anc, d)
    }
    val want = parts.groupBy(k => walk(k)._1).map { case (root, g) =>
      root -> ((g.length.toLong, g.map(walk(_)._2).max, g.sum))
    }
    val got = q("q200_recursive_rollup").collect()
      .map(r => r.getAs[Long]("root_digit") ->
        ((r.getAs[Long]("n_parts"), r.getAs[Int]("max_depth"),
          r.getAs[Long]("key_sum")))).toMap
    assert(got.view.mapValues(v => (v._1, v._2, v._3)).toMap ==
      want.view.mapValues(v => (v._1, v._2, v._3)).toMap)
    assert(got.values.map(_._1).sum == parts.length.toLong)
  }

  test("q201: islands equal a JVM running-max sweep; coverage bounded by span") {
    val winUs = 1800000000L
    val ev = Tables(spark, dir, "events")
      .selectExpr("user_id", "unix_micros(ts) AS ts_us", "event_id")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    val want = ev.groupBy(_._1).map { case (u, g) =>
      val sorted = g.sortBy(e => (e._2, e._3))
      var nIslands = 0L; var covered = 0L
      var start = 0L; var maxEnd = Long.MinValue
      sorted.foreach { case (_, ts, _) =>
        if (maxEnd == Long.MinValue || ts > maxEnd) {
          if (maxEnd != Long.MinValue) covered += maxEnd - start
          nIslands += 1; start = ts
        }
        maxEnd = math.max(maxEnd, ts + winUs)
      }
      covered += maxEnd - start
      u -> ((nIslands, covered))
    }
    val got = q("q201_interval_islands").collect()
      .map(r => r.getAs[Long]("user_id") ->
        ((r.getAs[Long]("n_islands"), r.getAs[Long]("covered_us")))).toMap
    assert(got == want)
    // coverage can never exceed full span + one window, and each island
    // contributes at least one window of coverage
    ev.groupBy(_._1).foreach { case (u, g) =>
      val (n, cov) = got(u)
      val span = g.map(_._2).max - g.map(_._2).min
      assert(cov <= span + winUs && cov >= n * winUs)
    }
  }

  test("q202: listagg strings equal JVM-built top-3 strings") {
    val docs = Tables(spark, dir, "documents")
      .select("source", "lang").collect()
      .map(r => (r.getString(0), r.getString(1)))
    val want = docs.groupBy(_._1).map { case (src, g) =>
      val top = g.groupBy(_._2).view.mapValues(_.size).toSeq
        .sortBy { case (lang, cnt) => (-cnt, lang) }.take(3)
      src -> ((top.map { case (l, c) => s"$l:$c" }.mkString(","),
        top.map(_._2.toLong).sum))
    }
    val got = q("q202_listagg_top_langs").collect()
      .map(r => r.getString(0) ->
        ((r.getAs[String]("top_langs"), r.getAs[Long]("top_n")))).toMap
    assert(got == want)
  }

  test("q203: try_divide nulls exactly the qty=1 rows; avg matches a BigDecimal recount") {
    val li = Tables(spark, dir, "lineitem")
      .select("l_returnflag", "l_quantity", "l_extendedprice").collect()
      .map(r => (r.getString(0), r.getDouble(1), r.getDouble(2)))
    val want = li.groupBy(_._1).map { case (rf, g) =>
      val defined = g.filter(_._2 != 1.0)
        .map(x => BigDecimal(round6(x._3 / (x._2 - 1.0))))
      val avg = round6((defined.sum / defined.size).toDouble)
      rf -> ((g.length.toLong, (g.length - defined.size).toLong, avg))
    }
    val got = q("q203_try_arithmetic").collect()
      .map(r => r.getString(0) ->
        ((r.getAs[Long]("n_rows"), r.getAs[Long]("n_undefined"),
          r.getAs[Double]("avg_markup")))).toMap
    assert(got == want)
  }

  test("q204: null-safe pair counts match a JVM recount and keep the NULL key") {
    val custs = Tables(spark, dir, "customer")
      .select("c_custkey", "c_nationkey").collect()
      .map(r => (r.getLong(0), r.getInt(1)))
    def key(nk: Int): Option[Int] =
      { val k = nk % 5; if (k == 4) None else Some(k) }
    val even = custs.filter(_._1 % 2 == 0).groupBy(c => key(c._2))
      .view.mapValues(_.size.toLong).toMap
    val odd = custs.filter(_._1 % 2 == 1).groupBy(c => key(c._2))
      .view.mapValues(_.size.toLong).toMap
    val want = even.collect { case (k, ne) if odd.contains(k) =>
      k -> ne * odd(k) }
    val got = q("q204_nullsafe_join").collect().map { r =>
      val k = if (r.isNullAt(0)) None else Some(r.getInt(0))
      k -> r.getAs[Long]("n_pairs")
    }.toMap
    assert(got == want)
    assert(got.contains(None), "null key must survive the null-safe join")
  }
}
