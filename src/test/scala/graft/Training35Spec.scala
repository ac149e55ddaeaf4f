package graft

import JvmRef.halfUp

/** Invariants for the thirty-fifth wave (q266-q269): the isotonic fit's
  * monotonicity + PAV equivalence, Shapley efficiency, Wilson interval
  * coverage facts, and the PPR seed-proximity replay.
  */
class Training35Spec extends SparkSpec {
  private val dir = "/root/testdata/sf0.001"
  private def q(name: String) =
    SparkEntry.allDefs.find(_.name == name).get.fn(spark, dir)

  test("q266: isotonic fit is monotone, equals an iterative PAV replay, conserves pooled mass") {
    val got = q("q266_isotonic_calibration").collect()
      .map(r => (r.getInt(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      .sortBy(_._1)
    // monotone non-decreasing
    got.sliding(2).foreach {
      case Array(a, b) => assert(a._4 <= b._4, s"$a -> $b")
      case _ =>
    }
    // iterative pool-adjacent-violators on (n, rate) must agree with
    // the minimax closed form (compare in micro space after final
    // half-up rounding of each pooled block)
    case class Block(n: Long, pos: Long)
    val bins = q("q266_isotonic_calibration").collect()
      .map(r => (r.getInt(0), r.getLong(1))).sortBy(_._1)
    // recover pos from rate_micro via exact recount of the scoring rule
    val scored = Tables(spark, dir, "orders")
      .selectExpr(
        "least(CAST(floor(round(1.0 / (1.0 + exp(- ((o_totalprice - 250000.0) / 100000.0))), 6) * 10) AS INT), 9) AS bin",
        "CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END AS y")
      .collect().map(r => (r.getInt(0), r.getInt(1).toLong))
    val byBin = scored.groupBy(_._1).view
      .mapValues(rs => Block(rs.size.toLong, rs.map(_._2).sum)).toMap
    assert(bins.map(_._1).toSet == byBin.keySet)
    var blocks = bins.map(b => List(byBin(b._1))).map {
      case List(bl) => bl
      case other => sys.error(other.toString)
    }.toBuffer
    // PAV: merge adjacent blocks while a violation exists (compare as
    // exact rationals to avoid intermediate rounding)
    var changed = true
    while (changed) {
      changed = false
      var i = 0
      while (i < blocks.length - 1) {
        val (a, b) = (blocks(i), blocks(i + 1))
        if (a.pos * b.n > b.pos * a.n) { // rate(a) > rate(b): violation
          blocks(i) = Block(a.n + b.n, a.pos + b.pos)
          blocks.remove(i + 1)
          changed = true
        } else i += 1
      }
    }
    // expand blocks back to bins by walking bin sizes
    val binSizes = bins.map(b => byBin(b._1).n)
    val expanded = {
      val out = collection.mutable.ArrayBuffer[Long]()
      var bi = 0
      blocks.foreach { bl =>
        var acc = 0L
        while (acc < bl.n) { acc += binSizes(bi); out += halfUp(1000000L * bl.pos, bl.n); bi += 1 }
        assert(acc == bl.n, "blocks must tile the bins")
      }
      out.toSeq
    }
    assert(got.map(_._4).toSeq == expanded)
    // pooled mass conservation: Σ n_b · iso ≈ Σ n_b · rate (micro
    // rounding of each block mean costs < 1 unit per row)
    val massRate = got.map(t => t._2 * t._3).sum
    val massIso = got.map(t => t._2 * t._4).sum
    assert(math.abs(massRate - massIso) <= got.map(_._2).sum, s"$massRate vs $massIso")
  }

  test("q267: Shapley values satisfy efficiency (sum to v(full) - v(empty)) and match a JVM replay") {
    val ev = Tables(spark, dir, "events")
      .selectExpr("user_id", "CAST(ts AS DATE) AS day", "event_type")
      .collect().map(r => (r.getLong(0), r.getDate(1).toLocalDate, r.getString(2)))
    val bits = Map("click" -> 1, "error" -> 2, "signup" -> 4, "view" -> 8)
    val byUd = ev.groupBy(t => (t._1, t._2)).values.map { rs =>
      val mask = rs.map(_._3).distinct.collect(bits).sum
      val conv = if (rs.exists(_._3 == "purchase")) 1L else 0L
      (mask, conv)
    }.toSeq
    val vObs = byUd.groupBy(_._1).view
      .mapValues(rs => halfUp(1000000L * rs.map(_._2).sum, rs.size.toLong)).toMap
    def v(mask: Int): Long = vObs.getOrElse(mask, 0L)
    val wNum = Map(0 -> 6L, 1 -> 2L, 2 -> 2L, 3 -> 6L)
    val want = bits.toSeq.sortBy(_._1).map { case (ch, bit) =>
      val wsum = (0 until 16).filter(s => (s & bit) == 0).map { s =>
        wNum(Integer.bitCount(s)) * (v(s + bit) - v(s))
      }.sum
      (ch, halfUp(wsum, 24L))
    }
    val got = q("q267_shapley_attribution").collect()
      .map(r => (r.getString(0), r.getLong(1))).toSeq
    assert(got == want)
  }

  test("q268: intervals bracket the rate, lie in [0,1], and shrink with n") {
    val got = q("q268_wilson_intervals").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2),
        r.getDouble(3), r.getDouble(4), r.getDouble(5)))
    assert(got.nonEmpty)
    got.foreach { case (src, n, pos, rate, lo, hi) =>
      assert(math.abs(rate - pos.toDouble / n) < 1e-6, src)
      assert(lo <= rate + 1e-9 && rate <= hi + 1e-9, src)
      assert(lo >= -1e-9 && hi <= 1.0 + 1e-9, src)
      // Wilson width bound: full-width at most 2z/(2 sqrt(n)) scaled
      assert(hi - lo <= 2.0 * 0.98 / math.sqrt(n.toDouble) + 0.05, src)
    }
  }

  test("q269: seed docs carry teleport mass; zero-rank docs are non-seeds far from seeds") {
    import org.apache.spark.sql.functions._
    val langs = Tables(spark, dir, "documents")
      .select("doc_id", "lang").collect()
      .map(r => (r.getLong(0), r.getString(1))).toMap
    val got = q("q269_personalized_pagerank").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(got.size == langs.size)
    // every seed keeps at least its own teleport share after 3 rounds
    langs.foreach { case (id, lang) =>
      if (lang == "en") assert(got(id) >= 150000L, s"seed $id: ${got(id)}")
    }
    // rank mass exists and non-seed docs can only be reached via edges
    assert(got.values.sum > 0)
    val nonSeedWithRank = langs.collect {
      case (id, lang) if lang != "en" && got(id) > 0 => id
    }
    // spot-check: the graph propagates — some non-seed doc near a seed
    // near-dup cluster received mass (harness plants near-dups)
    assert(nonSeedWithRank.nonEmpty)
  }
}
