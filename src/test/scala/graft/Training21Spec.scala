package graft

import org.apache.spark.sql.functions._

import JvmRef.round6

/** Invariants for the twenty-first wave (q221-q222): the conjunctive
  * search against a JVM set-containment scan, and the decile-mix
  * matrix against a JVM interpolated-quantile + fold recount — plus
  * the tiling facts (every doc lands in exactly one bin; shares sum to
  * 1 per source).
  */
class Training21Spec extends SparkSpec {
  private val dir = "/root/testdata/sf0.001"
  private def q(name: String) =
    SparkEntry.allDefs.find(_.name == name).get.fn(spark, dir)

  test("q221: conjunctive hits equal a JVM set-containment scan") {
    val docs = Tables(spark, dir, "documents")
      .select("doc_id", "text", "source", "n_chars").collect()
      .map(r => (r.getLong(0), r.getString(1).split(" ", -1).toSet,
        r.getString(2), r.getLong(3)))
    val terms = Set("join", "merge", "window")
    val want = docs.filter(d => terms.subsetOf(d._2))
      .map(d => (d._1, d._3, d._4)).toSet
    val got = q("q221_conjunctive_search").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSet
    assert(got == want)
  }

  test("q222: decile mix equals a JVM quantile + fold recount; shares tile each source") {
    val docs = Tables(spark, dir, "documents")
      .select("source", "n_chars").collect()
      .map(r => (r.getString(0), r.getLong(1).toDouble))
    // linear-interpolation quantiles (type-7, matching Spark percentile
    // and DuckDB quantile_cont), rounded 6 dp like the engine side
    val sorted = docs.map(_._2).sorted
    def quantile(p: Double): Double = {
      val h = (sorted.length - 1) * p
      val lo = math.floor(h).toInt
      val hi = math.ceil(h).toInt
      round6(sorted(lo) + (h - lo) * (sorted(hi) - sorted(lo)))
    }
    val bounds = (1 until 10).map(p => quantile(p / 10.0))
    val binned = docs.map { case (src, v) =>
      (src, 1L + bounds.count(v > _))
    }
    val srcTot = binned.groupBy(_._1).view.mapValues(_.size.toLong).toMap
    val want = binned.groupBy(identity).map { case ((src, bin), g) =>
      (src, bin) -> ((g.size.toLong,
        round6(g.size.toDouble / srcTot(src))))
    }
    val got = q("q222_source_decile_mix").collect()
      .map(r => (r.getString(0), r.getAs[Long]("bin")) ->
        ((r.getAs[Long]("n"), r.getAs[Double]("share")))).toMap
    assert(got == want)
    // every source's counts tile its population
    got.toSeq.groupBy(_._1._1).foreach { case (src, g) =>
      assert(g.map(_._2._1).sum == srcTot(src), src)
    }
  }
}
