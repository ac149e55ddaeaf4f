package graft

import JvmRef.halfUp

/** Invariants for the thirty-seventh wave (q274-q277): a greedy replay
  * with the submodular diminishing-gain fact, temporal-leakage hygiene
  * for the feature set, the DiD identity, and recall bounds.
  */
class Training37Spec extends SparkSpec {
  private val dir = "/root/testdata/sf0.001"
  private def q(name: String) =
    SparkEntry.allDefs.find(_.name == name).get.fn(spark, dir)

  test("q274: selection equals a JVM greedy replay; gains never increase") {
    val docs = Tables(spark, dir, "documents")
      .select("doc_id", "text").collect()
      .map(r => (r.getLong(0), r.getString(1)))
    val dw = docs.map { case (id, text) =>
      val w = text.split(" ", -1)
      id -> (3 to w.length).map(i => w.slice(i - 3, i).mkString(" ")).toSet
    }.toMap
    var covered = Set.empty[String]
    var want = Vector.empty[(Long, Long, Long, Long)]
    for (round <- 1 to 5) {
      val (docId, gain) = dw.toSeq
        .map { case (id, ws) => (id, (ws -- covered).size.toLong) }
        .minBy { case (id, g) => (-g, id) }
      covered = covered ++ dw(docId)
      want = want :+ ((round.toLong, docId, gain, covered.size.toLong))
    }
    val got = q("q274_greedy_set_cover").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toVector
    assert(got == want)
    // submodularity: marginal gains are non-increasing
    val gains = got.map(_._3)
    assert(gains == gains.sortBy(-_), gains.mkString(","))
    assert(got.map(_._2).distinct.size == 5)
  }

  test("q275: features use only pre-cutoff events; labels only post-cutoff") {
    val ev = Tables(spark, dir, "events")
      .selectExpr("user_id", "to_date(ts) AS day", "event_type")
      .collect().map(r => (r.getLong(0), r.getDate(1).toLocalDate, r.getString(2)))
    val cutoff = java.time.LocalDate.parse("2024-01-24")
    val pre = ev.filter(_._2.isBefore(cutoff))
    val post = ev.filterNot(_._2.isBefore(cutoff))
    val postPurch = post.filter(_._3 == "purchase").map(_._1).toSet
    val want = pre.groupBy(_._1).toSeq.sortBy(_._1).take(20).map { case (u, rs) =>
      (u, rs.size.toLong,
        rs.count(_._3 == "purchase").toLong,
        rs.map(_._3).distinct.size.toLong,
        java.time.temporal.ChronoUnit.DAYS.between(rs.map(_._2).max, cutoff),
        if (postPurch(u)) 1L else 0L)
    }
    val got = q("q275_point_in_time_features").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5))).toSeq
    assert(got == want)
    // hygiene: recency is measured to the cutoff, so it is >= 1 for
    // every featured user (a 0 or negative value would mean a
    // post-cutoff event leaked into the features)
    got.foreach { case (u, _, _, _, rec, _) => assert(rec >= 1L, s"user $u") }
  }

  test("q276: DiD equals the four-mean identity; groups partition the users") {
    val got = q("q276_diff_in_diff").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3), r.getLong(4)))
    assert(got.length == 4)
    val m = got.map(r => (r._1, r._2) -> r._4).toMap
    val did = (m((1L, "post")) - m((1L, "pre"))) - (m((0L, "post")) - m((0L, "pre")))
    got.foreach { case (_, _, _, _, d0) => assert(d0 == did) }
    // both treatment arms exist with both periods, and the per-arm user
    // count is period-invariant (every user contributes a row per period)
    assert(m.keySet == Set((0L, "pre"), (0L, "post"), (1L, "pre"), (1L, "post")))
    val n = got.map(r => (r._1, r._2) -> r._3).toMap
    assert(n((0L, "pre")) == n((0L, "post")))
    assert(n((1L, "pre")) == n((1L, "post")))
    assert(n((0L, "pre")) > 0 && n((1L, "pre")) > 0)
  }

  test("q277: recall is a valid fraction and equals the set overlap recount") {
    val got = q("q277_ann_recall_eval").collect().head
    val (nT, nH, ppm) = (got.getLong(0), got.getLong(1), got.getLong(2))
    assert(nT > 0 && nH >= 0 && nH <= nT)
    assert(ppm == halfUp(1000000 * nH, nT))
    // recount from the two declared building blocks
    val truth = q("q49_cosine_topk").collect()
      .map(r => (r.getAs[Long]("query_id"), r.getAs[Long]("cand_id"))).toSet
    val ann = q("q50_ann_lsh").collect()
      .map(r => (r.getAs[Long]("query_id"), r.getAs[Long]("cand_id"))).toSet
    assert(nT == truth.size.toLong)
    assert(nH == truth.intersect(ann).size.toLong)
  }
}
