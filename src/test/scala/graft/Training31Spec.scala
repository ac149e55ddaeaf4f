package graft

import JvmRef.hash60

/** Invariants for the thirty-first wave (q250-q253): full JVM replays
  * of the skip-gram subsampler, the LOO target encoder, and the KMV
  * intersection estimator, plus the bucketed join's equivalence to the
  * plain (non-bucketed) join.
  */
class Training31Spec extends SparkSpec {
  private val dir = "/root/testdata/sf0.001"
  private def q(name: String) =
    SparkEntry.allDefs.find(_.name == name).get.fn(spark, dir)

  private def dsum(xs: Iterable[Double]): Double =
    xs.map(x => BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP))
      .sum.toDouble

  test("q250: skip-gram pairs equal a full JVM replay of the subsampled window join") {
    val docs = Tables(spark, dir, "documents")
      .select("doc_id", "text").collect()
      .map(r => (r.getLong(0), r.getString(1)))
    val toks = docs.flatMap { case (id, text) =>
      text.split(" ", -1).zipWithIndex.collect {
        case (w, i) if w.nonEmpty => (id, i + 1L, w)
      }
    }
    val wc = toks.groupBy(_._3).view.mapValues(_.size.toLong).toMap
    val kept = toks.filter { case (id, pos, w) =>
      (hash60(s"ss:$id:$pos") % 1000000L) * wc(w) < 1000000L * 100L
    }
    val byDocPos = kept.map(t => (t._1, t._2) -> t._3).toMap
    val pairs = kept.flatMap { case (id, pos, center) =>
      Seq(-2L, -1L, 1L, 2L).flatMap(dd =>
        byDocPos.get((id, pos + dd)).map(ctx => (center, ctx)))
    }
    val want = pairs.groupBy(identity).view.mapValues(_.size.toLong).toSeq
      .map { case ((c, x), n) => (c, x, n) }
      .sortBy { case (c, x, n) => (-n, c, x) }
      .take(50)
    val got = q("q250_skipgram_pairs").collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2))).toSeq
    assert(got == want)
    // the subsampler actually bites: high-frequency words survive at
    // roughly T/c of their occurrences, not all of them
    assert(kept.length < toks.length / 2, s"${kept.length}/${toks.length}")
  }

  test("q251: LOO encoding excludes the row's own target and matches a JVM replay") {
    val os = Tables(spark, dir, "orders")
      .select("o_orderkey", "o_orderpriority", "o_totalprice").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getDouble(2)))
    val byCat = os.groupBy(_._2).view
      .mapValues(rows => (dsum(rows.map(_._3)), rows.size)).toMap
    val p = dsum(os.map(_._3)) / os.length
    val want = os.sortBy(_._1).take(20).map { case (k, cat, y) =>
      val (s0, n) = byCat(cat)
      (k, cat, y, ((s0 - y) + (25.0 * p)) / ((n - 1).toDouble + 25.0))
    }.toSeq
    val got = q("q251_target_encoding").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getDouble(2), r.getDouble(3)))
      .toSeq
    assert(got.map(g => (g._1, g._2, g._3)) == want.map(w => (w._1, w._2, w._3)))
    got.zip(want).foreach { case (g, w) =>
      assert(math.abs(g._4 - w._4) < 1e-9, s"${g._1}: ${g._4} vs ${w._4}")
    }
    // leakage-safety: perturbing one row's own target changes every
    // OTHER row's encoding in its category, but the LOO numerator for
    // that row itself is unchanged (s - y drops the perturbation)
    val (k0, cat0, y0) = os.minBy(_._1)
    val (s0, n0) = byCat(cat0)
    val encSelf = ((s0 - y0) + (25.0 * p)) / ((n0 - 1).toDouble + 25.0)
    val sPerturbed = s0 + 1000000.0 // as if y0 were 1M larger...
    val encSelfPerturbed =
      ((sPerturbed - (y0 + 1000000.0)) + (25.0 * p)) /
        ((n0 - 1).toDouble + 25.0)
    assert(math.abs(encSelf - encSelfPerturbed) < 1e-9)
  }

  test("q252: KMV intersection estimate equals a JVM replay and sits inside its envelope") {
    val ev = Tables(spark, dir, "events")
      .select("event_type", "user_id").collect()
      .map(r => (r.getString(0), r.getLong(1)))
      .filter(t => t._1 == "click" || t._1 == "purchase")
      .distinct
    val FULL = 1099511627776L
    def sketch(tp: String): Seq[Long] =
      ev.filter(_._1 == tp)
        .map(t => (hash60(s"kmv:${t._2}") / 1048576L, t._2))
        .sortBy(identity).take(64).map(_._1).toSeq
    val (sa, sb) = (sketch("click"), sketch("purchase"))
    def theta(s: Seq[Long]): Long = if (s.size >= 64) s.max else FULL
    val th = math.min(theta(sa), theta(sb))
    val ncu = sa.toSet.intersect(sb.toSet).count(_ < th).toLong
    val est = ncu * FULL / th
    val users = ev.groupBy(_._2).view.mapValues(_.map(_._1).toSet)
    val exactBoth = users.count(_._2.size == 2).toLong
    val exactUnion = users.size.toLong
    val got = q("q252_kmv_intersection").collect().head
    assert(got.getAs[Long]("n_exact_both") == exactBoth)
    assert(got.getAs[Long]("n_exact_union") == exactUnion)
    assert(got.getAs[Long]("est_both") == est)
    assert(got.getAs[Boolean]("kmv_ok"))
  }

  test("q253: bucketed join result equals the plain non-bucketed join") {
    import org.apache.spark.sql.functions._
    val want = Tables(spark, dir, "lineitem")
      .join(Tables(spark, dir, "orders"),
        col("l_orderkey") === col("o_orderkey"))
      .groupBy("o_orderstatus")
      .agg(count(lit(1)).as("n_items"),
        Num.dsum(col("l_extendedprice") * (lit(1.0) - col("l_discount")))
          .as("revenue"))
      .orderBy("o_orderstatus").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getDouble(2))).toSeq
    val got = q("q253_bucketed_join").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getDouble(2))).toSeq
    assert(got == want)
  }
}
