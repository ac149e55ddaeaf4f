package graft

import JvmRef.round6

/** Invariants for the twenty-ninth wave (q243-q246): SQL-UDF inlining
  * (+ exact-decimal recount), FILTER-clause aggregates, k-core peeling
  * (JVM replay + monotone-shrink + degree invariants), and session
  * variables (threshold recount).
  */
class Training29Spec extends SparkSpec {
  private val dir = "/root/testdata/sf0.001"
  private def q(name: String) =
    SparkEntry.allDefs.find(_.name == name).get.fn(spark, dir)

  test("q243: SQL UDF result equals an exact-decimal recount and stays codegen (no JVM UDF node)") {
    val li = Tables(spark, dir, "lineitem")
      .select("l_returnflag", "l_extendedprice", "l_discount").collect()
      .map(r => (r.getString(0), r.getDouble(1), r.getDouble(2)))
    val want = li.groupBy(_._1).map { case (f, rows) =>
      val rev = rows.map { r =>
        (BigDecimal(r._2).setScale(2, BigDecimal.RoundingMode.HALF_UP) *
          BigDecimal(1.0 - r._3).setScale(2, BigDecimal.RoundingMode.HALF_UP))
          .setScale(6)
      }.sum
      (f, rows.length.toLong, rev.toDouble)
    }.toSeq.sortBy(_._1)
    val df = q("q243_sql_udf")
    val got = df.collect()
      .map(r => (r.getString(0), r.getLong(1), r.getDouble(2))).toSeq
    assert(got == want)
    // the SQL UDF body must be INLINED by the analyzer — a black-box
    // JVM UDF node in the physical plan would defeat codegen
    val plan = df.queryExecution.executedPlan.toString
    assert(!plan.contains("ScalaUDF") && !plan.contains("BatchEvalPython"))
  }

  test("q244: FILTER-clause aggregates equal the conditional recount") {
    val os = Tables(spark, dir, "orders")
      .select("o_orderpriority", "o_orderstatus", "o_totalprice").collect()
      .map(r => (r.getString(0), r.getString(1), r.getDouble(2)))
    val want = os.groupBy(_._1).map { case (p, rows) =>
      val fin = rows.filter(_._2 == "F")
      val rev = fin.map(r => BigDecimal(r._3).setScale(6)).sum
      (p, rows.length.toLong, fin.length.toLong, rev.toDouble)
    }.toSeq.sortBy(_._1)
    val got = q("q244_filter_clause_agg").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2),
        r.getDouble(3))).toSeq
    assert(got == want)
  }

  test("q245: k-core rounds equal a JVM peel; counts shrink monotonically") {
    val li = Tables(spark, dir, "lineitem")
      .select("l_orderkey", "l_partkey").collect()
      .map(r => (r.getLong(0), r.getLong(1))).distinct
    val byOrder =
      li.groupBy(_._1).view.mapValues(_.map(_._2).distinct.toSeq).toMap
    var und: Set[(Long, Long)] = byOrder.values.flatMap { ps =>
      for (a <- ps; b <- ps; if a != b) yield (a, b)
    }.toSet
    def counts(s: Set[(Long, Long)]) =
      (s.map(_._1).size.toLong, s.size.toLong / 2)
    val want = scala.collection.mutable.ArrayBuffer[(Int, Long, Long)]()
    want += { val (n, m) = counts(und); (0, n, m) }
    for (r <- 1 to 6) {
      val deg = und.groupBy(_._1).view.mapValues(_.size).toMap
      val keep = deg.filter(_._2 >= 80).keySet
      und = und.filter(e => keep(e._1) && keep(e._2))
      want += { val (n, m) = counts(und); (r, n, m) }
    }
    val got = q("q245_kcore").collect()
      .map(r => (r.getAs[Int]("round"), r.getAs[Long]("n_nodes"),
        r.getAs[Long]("n_edges"))).sortBy(_._1).toSeq
    assert(got == want.toSeq)
    // peeling is monotone, and a stable round means a true k-core:
    // every surviving node has degree ≥ k
    got.sliding(2).foreach { case Seq(a, b) =>
      assert(b._2 <= a._2 && b._3 <= a._3)
    }
    if (und.nonEmpty)
      und.groupBy(_._1).foreach { case (_, es) => assert(es.size >= 80) }
  }

  test("q246: session-variable threshold query equals the recount") {
    val os = Tables(spark, dir, "orders")
      .select("o_orderpriority", "o_totalprice").collect()
      .map(r => (r.getString(0), r.getDouble(1)))
    val cut = os.map(o => BigDecimal(o._2).setScale(6)).sum.toDouble / os.length
    val above = os.filter(_._2 > cut)
    val want = above.groupBy(_._1).map { case (p, rows) =>
      val s = rows.map(r => BigDecimal(r._2).setScale(6)).sum.toDouble
      (p, rows.length.toLong, round6(s / rows.length))
    }.toSeq.sortBy(_._1)
    val got = q("q246_session_variables").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getDouble(2))).toSeq
    assert(got == want)
    // the threshold really bisects: both sides non-empty
    assert(above.nonEmpty && above.length < os.length)
  }
}
