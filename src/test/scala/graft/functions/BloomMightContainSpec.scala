package graft.functions

import org.apache.spark.sql.functions._

import graft.SparkSpec

/** BloomMightContain — the codegen broadcast-Bloom probe that replaced
  * the ScalaUDF in the triangle closing-join pre-filter (round 14).
  * Semantics pinned: exact parity with the driver-side
  * `BloomFilter.mightContainLong` on every non-null input (no
  * false-negative/false-positive assumptions — the expression must
  * return exactly what the filter returns), null hash → null (the
  * primitive-arg ScalaUDF behavior it replaced).
  */
class BloomMightContainSpec extends SparkSpec {
  import spark.implicits._

  test("compiled probe matches mightContainLong exactly; null in, null out") {
    val members = spark.range(0L, 2000L).toDF("id")
    val bf = members.stat.bloomFilter("id", 2000L, 0.01)
    val bfB = spark.sparkContext.broadcast(bf)
    try {
      val probes: Seq[java.lang.Long] =
        (0L until 50L).map(java.lang.Long.valueOf) ++
          Seq(123456789L, -1L, Long.MaxValue, Long.MinValue, 999999999999L)
            .map(java.lang.Long.valueOf) :+ (null: java.lang.Long)
      val df = probes.toDF("h")
        .withColumn("got", BloomMightContain.column(bfB, col("h")))
      val rows = df.collect()
      rows.foreach { r =>
        if (r.isNullAt(0)) assert(r.isNullAt(1), "null hash must yield null")
        else assert(r.getBoolean(1) === bf.mightContainLong(r.getLong(0)),
          s"probe ${r.getLong(0)} disagrees with the driver-side filter")
      }
      // non-vacuous: every member must test true (no false negatives)
      assert(rows.filter(r => !r.isNullAt(0) &&
          r.getLong(0) >= 0L && r.getLong(0) < 2000L)
        .forall(_.getBoolean(1)))
    } finally bfB.destroy()
  }

  test("two filters active at once stay independently bound") {
    val bfA = spark.range(0L, 100L).toDF("id").stat.bloomFilter("id", 100L, 0.01)
    val bfBf = spark.range(5000L, 5100L).toDF("id").stat.bloomFilter("id", 100L, 0.01)
    val hA = spark.sparkContext.broadcast(bfA)
    val hB = spark.sparkContext.broadcast(bfBf)
    try {
      val df = Seq(7L, 5007L).toDF("h")
        .withColumn("inA", BloomMightContain.column(hA, col("h")))
        .withColumn("inB", BloomMightContain.column(hB, col("h")))
        .orderBy("h")
      val got = df.collect().map(r => (r.getLong(0), r.getBoolean(1), r.getBoolean(2)))
      assert(got(0)._2 === true)   // 7 ∈ A
      assert(got(1)._3 === true)   // 5007 ∈ B
      // and each filter rejects the other's member (fpp 1% on 100 items
      // makes an accidental positive here vanishingly unlikely and
      // deterministic for this fixed seed-free construction)
      assert(got(0)._3 === bfBf.mightContainLong(7L))
      assert(got(1)._2 === bfA.mightContainLong(5007L))
    } finally { hA.destroy(); hB.destroy() }
  }

  test("closingBloomPred executions leave the session's function list unchanged") {
    // edges (i, i+1) and (i, i+2): every i ≤ 198 closes a triangle
    val e = spark.range(0L, 200L)
      .selectExpr("id AS u", "explode(array(id + 1, id + 2)) AS v")
    def functions() = spark.sessionState.functionRegistry.listFunction().toSet
    val before = functions()
    (1 to 2).foreach { _ =>
      val bp = graft.operators.Graphs.closingBloomPred(
        e, 400L, col("u"), col("v"), col("e1.u"), col("e2.v"))
      try {
        val probed = e.as("e1").join(e.as("e2"), col("e1.v") === col("e2.u"))
          .filter(bp.pred).count()
        assert(probed >= 199L, "no false negatives on the closing edges")
      } finally bp.release()
    }
    assert(functions() === before)
  }
}
