package graft

import JvmRef.{halfUp, hash60}

/** Invariants for the fortieth wave (q286-q289): the multiprobe recall
  * dominance, entropy bounds + recount, the GROUP BY ALL equivalence,
  * and fold balance.
  */
class Training40Spec extends SparkSpec {
  private val dir = "/root/testdata/sf0.001"
  private def q(name: String) =
    SparkEntry.allDefs.find(_.name == name).get.fn(spark, dir)

  test("q286: multiprobe recall dominates single-probe; single-probe matches q277") {
    val got = q("q286_multiprobe_recall").collect().head
    val (nT, h1, r1, hM, rM) = (got.getLong(0), got.getLong(1),
      got.getLong(2), got.getLong(3), got.getLong(4))
    assert(nT > 0)
    // probing strictly more buckets can only find MORE of the truth
    assert(hM >= h1, s"multi $hM < single $h1")
    assert(r1 == halfUp(1000000 * h1, nT))
    assert(rM == halfUp(1000000 * hM, nT))
    // single-probe candidates are exactly q277's LSH index
    val q277 = q("q277_ann_recall_eval").collect().head
    assert(nT == q277.getLong(0))
    assert(h1 == q277.getLong(1))
  }

  test("q287: entropy rate matches a JVM recount and sits in [0, ln 5]") {
    val ev = Tables(spark, dir, "events")
      .selectExpr("user_id", "to_date(ts) AS day", "unix_micros(ts) AS tsm",
        "event_id", "event_type")
      .collect().map(r => (r.getLong(0), r.getDate(1).toLocalDate,
        r.getLong(2), r.getLong(3), r.getString(4)))
    val trans = ev.groupBy(t => (t._1, t._2)).values.flatMap { rs =>
      val seq = rs.sortBy(t => (t._3, t._4)).map(_._5)
      seq.zip(seq.drop(1))
    }.toSeq
    def lnM(x: Double): Long = math.round(math.log(x) * 1000000)
    val byState = trans.groupBy(_._1)
    val want = byState.toSeq.sortBy(_._1).map { case (st, rs) =>
      val ms = rs.size.toLong
      val tsum = rs.groupBy(_._2).values.map { g =>
        val c = g.size.toLong
        c * lnM(c.toDouble / ms)
      }.sum
      (st, ms, halfUp(-tsum, ms))
    }
    val rate = halfUp(want.map(w => w._2 * w._3).sum, want.map(_._2).sum)
    val got = q("q287_markov_entropy_rate").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(got.map(g => (g._1, g._2, g._3)).toSeq == want)
    got.foreach { case (_, _, h, ov) =>
      assert(h >= 0 && h <= 1609439, s"h=$h") // ln 5 micro
      assert(ov == rate)
    }
  }

  test("q288: GROUP BY ALL equals the explicit two-key aggregate") {
    import org.apache.spark.sql.functions._
    val want = Tables(spark, dir, "lineitem")
      .groupBy("l_returnflag", "l_linestatus")
      .agg(count(lit(1)).as("n"),
        expr("CAST(sum(CAST(round(l_extendedprice * 100, 0) AS BIGINT)) AS BIGINT)")
          .as("rev"))
      .collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2), r.getLong(3)))
      .sortBy(t => (t._1, t._2))
    val got = q("q288_group_by_all").collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2), r.getLong(3)))
      .toSeq
    assert(got == want.toSeq)
  }

  test("q289: folds are balanced within 1 per label, tile each label, and are hash-stable") {
    val got = q("q289_stratified_kfold").collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2)))
    val labelTotals = Tables(spark, dir, "embeddings")
      .groupBy("label").count().collect()
      .map(r => r.getInt(0) -> r.getLong(1)).toMap
    got.groupBy(_._2).foreach { case (label, rows) =>
      assert(rows.map(_._3).sum == labelTotals(label), s"label $label")
      assert(rows.map(_._3).max - rows.map(_._3).min <= 1, s"label $label")
    }
    // hash-stable: fold of a given vec is a pure function of the label's
    // key set — recompute one label's assignment in the JVM
    val vecs = Tables(spark, dir, "embeddings")
      .select("vec_id", "label").collect()
      .map(r => (r.getLong(0), r.getInt(1)))
    val lbl0 = vecs.head._2
    val ranked = vecs.filter(_._2 == lbl0)
      .sortBy(v => (hash60(s"kf:${v._1}"), v._1))
    val foldCounts = ranked.zipWithIndex
      .groupBy { case (_, i) => (i.toLong % 5) }
      .view.mapValues(_.size.toLong).toMap
    got.filter(_._2 == lbl0).foreach { case (fold, _, n) =>
      assert(n == foldCounts(fold), s"fold $fold")
    }
  }
}
