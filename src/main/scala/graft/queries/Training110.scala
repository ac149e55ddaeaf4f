package graft.queries

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.{QueryDef, Tables}
import graft.operators.EquiDepthBins

/** Hundred-tenth wave — q396's production twin (round-9 verdict item 5):
  *
  *  - q489: histogram-answered range count with SKETCH boundaries —
  *    q396's 64-bin equi-depth summary built from ONE mergeable
  *    `approx_percentile` aggregation instead of the exact 63-point
  *    `percentile` agg (the same exact→sketch swap q318→q344 made for
  *    the z-order layout). The exact q396 stays oracle truth; THIS is
  *    the plan that survives 100 TB, gated by the sketch-contract
  *    discipline (sketch boundaries are merge-order-dependent, so the
  *    oracle pins exact witnesses + contracts, never sketch values):
  *      exact_n    — the exact recount witness (hash-matched);
  *      bound_ok   — |est − exact| ≤ max_err, the estimator's own error
  *                   bound from boundary-slab populations, pinned TRUE
  *                   (it holds for ANY boundary set — the equi-depth
  *                   interior/partial argument is boundary-agnostic);
  *      slabs_ok   — every slab's population within n/64 ± (n/500 + 8)
  *                   (rank error ≤ n/10000 at accuracy 10000, 10×+
  *                   headroom), pinned TRUE.
  */
object Training110 {
  val defs: Seq[QueryDef] = Seq(

    QueryDef(
      "q489_histogram_answering_sketch",
      (s, d) => {
        val lo = 2000000L; val hi = 6000000L
        val qs = (1 to 63).map(i => i / 64.0).mkString(", ")
        val v = Tables(s, d, "lineitem")
          .selectExpr("CAST(round(l_extendedprice * 100, 0) AS BIGINT) AS v")
          .localCheckpoint() // boundary sketch, summary, and witness read it
        // ONE mergeable sketch agg (integer input ⇒ approx_percentile
        // returns actual data values as longs) + the row count
        val row = v.agg(
          expr(s"approx_percentile(v, array($qs), 10000)").as("bs"),
          count(lit(1)).as("n")).head()
        val bs = row.getSeq[Long](0)
        val n = row.getLong(1)
        val slack = n / 500 + 8
        // literal binary-search CASE slab id: 6 codegen'd compares/row
        val caseExpr = EquiDepthBins.searchCountExpr(
          "v", bs.map(b => s"${b}L"), strict = true)
        val summary = v.select(expr(caseExpr).as("slab"))
          .groupBy("slab").agg(count(lit(1)).as("cnt"))
          .collect()
          .map(r => r.getAs[Number](0).intValue() -> r.getLong(1)).toMap
        val sl = bs.count(lo > _); val sh = bs.count(hi > _)
        val inner = summary.collect {
          case (s0, c) if s0 > sl && s0 < sh => c }.sum
        val partial = summary.collect {
          case (s0, c) if s0 == sl || s0 == sh => c }.sum
        val est = inner + (partial + 1) / 2
        val maxErr = partial / 2 + 1
        // check all 64 slab ids explicitly — an EMPTY slab (possible
        // under duplicate sketch boundaries) is absent from the groupBy
        // result, and a present-slabs-only forall would pass a
        // degenerate boundary set vacuously
        val slabsOk = (0 until 64).forall { i =>
          val c = summary.getOrElse(i, 0L)
          c >= n / 64 - slack && c <= n / 64 + slack
        }
        v.filter(col("v").between(lo, hi))
          .agg(count(lit(1)).as("exact_n"))
          .selectExpr("exact_n", s"${n}L AS n_rows",
            s"abs(${est}L - exact_n) <= ${maxErr}L AS bound_ok",
            s"$slabsOk AS slabs_ok")
      },
      Some("""
        SELECT CAST(count(*) AS BIGINT) AS exact_n,
               (SELECT CAST(count(*) AS BIGINT) FROM lineitem) AS n_rows,
               TRUE AS bound_ok, TRUE AS slabs_ok
        FROM (SELECT CAST(round(l_extendedprice * 100, 0) AS BIGINT) AS v
              FROM lineitem) t
        WHERE v BETWEEN 2000000 AND 6000000""")),
  )
}
