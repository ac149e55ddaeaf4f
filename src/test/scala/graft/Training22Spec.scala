package graft

import org.apache.spark.sql.functions._

import JvmRef.round6

/** Invariants for the twenty-second wave (q223-q224): the link scores
  * against a JVM neighbor-set mirror (including the top-20 tie order),
  * and the disorder profile against a sequential running-max fold —
  * plus the watermark-sufficiency fact the q224 scaladoc claims.
  */
class Training22Spec extends SparkSpec {
  private val dir = "/root/testdata/sf0.001"
  private def q(name: String) =
    SparkEntry.allDefs.find(_.name == name).get.fn(spark, dir)

  test("q223: top-20 link scores equal a JVM neighbor-set mirror") {
    val op = Tables(spark, dir, "lineitem")
      .select("l_orderkey", "l_partkey").distinct().collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    val edges = op.groupBy(_._1).values.flatMap { g =>
      val ps = g.map(_._2).distinct.sorted
      for (i <- ps.indices; j <- (i + 1) until ps.length)
        yield (ps(i), ps(j))
    }.toSet
    val nbrs = edges.toSeq.flatMap { case (u, v) => Seq(u -> v, v -> u) }
      .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    val want = (for {
      (u, nu) <- nbrs.iterator
      v <- nbrs.keys if u < v
      cmn = (nu & nbrs(v)).size if cmn > 0
    } yield (u, v, cmn.toLong,
      round6(cmn.toDouble / (nu.size + nbrs(v).size - cmn))))
      .toSeq
      .sortBy { case (u, v, _, j) => (-j, u, v) }
      .take(20)
    val got = q("q223_link_prediction").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getAs[Long]("cmn"),
        r.getAs[Double]("jaccard"))).toSeq
    assert(got == want)
  }

  test("q224: disorder profile equals a JVM running-max fold; watermark bound holds") {
    val ev = Tables(spark, dir, "events")
      .selectExpr("user_id", "event_id", "unix_micros(ts) AS ts_us")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    val want = ev.groupBy(_._1).map { case (u, g) =>
      val seq = g.sortBy(_._2)
      var runMax = Long.MinValue
      var nLate = 0L; var maxDis = 0L
      seq.foreach { case (_, _, ts) =>
        runMax = math.max(runMax, ts)
        val late = runMax - ts
        if (late > 0) nLate += 1
        maxDis = math.max(maxDis, late)
      }
      u -> ((seq.length.toLong, nLate, maxDis))
    }
    val got = q("q224_disorder_profile").collect()
      .map(r => r.getAs[Long]("user_id") ->
        ((r.getAs[Long]("n_events"), r.getAs[Long]("n_late"),
          r.getAs[Long]("max_disorder_us")))).toMap
    assert(got == want)
    // the claimed watermark property: delaying by max_disorder_us makes
    // every event on-time for its user
    ev.groupBy(_._1).foreach { case (u, g) =>
      val bound = got(u)._3
      var runMax = Long.MinValue
      g.sortBy(_._2).foreach { case (_, _, ts) =>
        assert(ts >= runMax - bound)
        runMax = math.max(runMax, ts)
      }
    }
  }
}
