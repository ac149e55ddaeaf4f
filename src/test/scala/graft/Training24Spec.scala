package graft

import org.apache.spark.sql.functions._

import JvmRef.{hash60, round6}

/** Invariants for the twenty-fourth wave (q227-q228): containment
  * against a JVM set scan (with the asymmetry fact that motivates it),
  * and the budget-fill curve against a BigInt tier walk (with the
  * cut-point monotonicity).
  */
class Training24Spec extends SparkSpec {
  private val dir = "/root/testdata/sf0.001"
  private def q(name: String) =
    SparkEntry.allDefs.find(_.name == name).get.fn(spark, dir)

  private val mask60 = (1L << 60) - 1
  private def ngramHashes(text: String): Seq[Long] = {
    val wh = text.split(" ", -1).map(hash60).toSeq
    val hs =
      if (wh.length >= 3)
        (0 to wh.length - 3).map(i =>
          ((wh(i) << 2) ^ (wh(i + 1) << 1) ^ wh(i + 2)) & mask60)
      else wh
    hs.distinct
  }

  test("q227: containment pairs equal a JVM set scan; gate is on the smaller side") {
    val sets = Tables(spark, dir, "documents")
      .select("doc_id", "text").collect()
      .map(r => (r.getLong(0), ngramHashes(r.getString(1)).toSet))
    val want = (for {
      i <- sets.indices.iterator
      j <- (i + 1) until sets.length
      (a, sa) = sets(i); (b, sb) = sets(j)
      c = (sa & sb).size
      if c * 10 >= math.min(sa.size, sb.size) * 9
    } yield ((math.min(a, b), math.max(a, b)),
      (c.toLong, round6(c.toDouble / (if (a < b) sa.size else sb.size)),
        round6(c.toDouble / (if (a < b) sb.size else sa.size))))).toMap
    val got = q("q227_containment_pairs").collect()
      .map(r => (r.getAs[Long]("doc_a"), r.getAs[Long]("doc_b")) ->
        ((r.getAs[Long]("c"), r.getAs[Double]("cont_a_in_b"),
          r.getAs[Double]("cont_b_in_a")))).toMap
    assert(got == want)
    // every emitted pair has at least one side ≥ 0.9 contained
    got.values.foreach { case (_, ca, cb) =>
      assert(math.max(ca, cb) >= 0.9 - 1e-9)
    }
  }

  test("q228: budget curve equals a BigInt tier walk; in_budget is a prefix") {
    val chars = Tables(spark, dir, "documents")
      .select("n_chars").collect().map(_.getLong(0))
    val tiers = chars.groupBy(c => java.lang.Long.toBinaryString(c).length.toLong)
      .view.mapValues(g => (g.length.toLong, g.sum)).toMap
    val total = tiers.values.map(_._2).sum
    val ordered = tiers.toSeq.sortBy(-_._1)
    val cums = ordered.scanLeft(0L)(_ + _._2._2).tail
    val want = ordered.zip(cums).map { case ((tier, (n, ch)), cum) =>
      tier -> ((n, ch, cum, cum * 2 <= total))
    }.toMap
    val got = q("q228_budget_fill").collect()
      .map(r => r.getAs[Long]("tier") ->
        ((r.getAs[Long]("n_docs"), r.getAs[Long]("chars"),
          r.getAs[Long]("cum_chars"), r.getAs[Boolean]("in_budget")))).toMap
    assert(got == want)
    // in_budget is a prefix of the tier order (monotone cut)
    val flags = got.toSeq.sortBy(-_._1).map(_._2._4)
    assert(!flags.zip(flags.tail).exists { case (a, b) => !a && b })
  }
}
