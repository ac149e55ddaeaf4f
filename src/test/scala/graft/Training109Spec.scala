package graft

import org.apache.spark.sql.functions._

import JvmRef.hash60

/** Invariants for the hundred-ninth wave:
  *
  *  - q487: JVM replay of both partitionings (sample → bounds →
  *    binary-search assignment, and the md5 hash) — loads recounted;
  *    every partition load sums to the row count, the range bounds are
  *    sorted, and skew_ppm = max·32·10⁶/n for both methods.
  *  - q488: imperative Banker's replay; the safety DEFINITION re-proven:
  *    when all_safe = 1 the release order is a valid safety sequence
  *    (every prefix fits), and when a process is never released its
  *    need genuinely exceeds slack + everything releasable.
  */
class Training109Spec extends SparkSpec {
  private val dir = "/root/testdata/sf0.001"
  private def q(name: String) =
    SparkEntry.allDefs.find(_.name == name).get.fn(spark, dir)

  test("q487: JVM partitioning replay; balance laws") {
    val keys = Tables(spark, dir, "lineitem").select("l_orderkey")
      .collect().map(_.getLong(0))
    val distinctKeys = keys.distinct.sorted
    val sample = distinctKeys.filter(k => hash60(k.toString) % 97 == 0).sorted
    val n = sample.length
    val bounds = (1 to 31).flatMap { qq =>
      val ks = sample.zipWithIndex.filter { case (_, i) =>
        (i + 1).toLong * 32 / (n + 1) == qq
      }.map(_._1)
      if (ks.isEmpty) None else Some(ks.min)
    }
    assert(bounds === bounds.sorted, "bounds monotone")
    def rangePart(k: Long): Long = bounds.count(_ < k).toLong
    def hashPart(k: Long): Long = math.floorMod(hash60(k.toString), 32L)
    def loads(f: Long => Long): Map[Long, Long] =
      keys.groupBy(f).map { case (p, xs) => p -> xs.length.toLong }
    val want = Map("range_sampled" -> loads(rangePart), "hash" -> loads(hashPart))
    val got = q("q487_range_partitioner_balance").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5)))
    assert(got.length === 2)
    got.foreach { case (m, np, rows, mx, mn, skew) =>
      val l = want(m)
      assert(np === l.size.toLong, s"$m n_parts")
      assert(rows === keys.length.toLong)
      assert(mx === l.values.max, s"$m max")
      assert(mn === l.values.min, s"$m min")
      assert(skew === l.values.max * 32L * 1000000L / keys.length)
      assert(l.values.sum === keys.length.toLong, "loads partition the input")
    }
  }

  test("q488: imperative Banker's replay; safety sequence law") {
    val procs = Tables(spark, dir, "orders").as("o")
      .join(Tables(spark, dir, "customer").as("c"), expr("c.c_custkey = o.o_custkey"))
      .groupBy(col("c.c_mktsegment").as("seg"))
      .agg(
        expr("CAST(3 + (count(*) % 11) AS BIGINT)").as("acpu"),
        expr("CAST(3 + (CAST(sum(CAST(round(o_totalprice, 0) AS BIGINT)) AS BIGINT) div 1000000) % 13 AS BIGINT)").as("amem"),
        expr("CAST(1 + (count(*) % 5) AS BIGINT)").as("needc"),
        expr("CAST(1 + (count(DISTINCT o_custkey) % 7) AS BIGINT)").as("needm"))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
      .sortBy(_._1)
    val released = collection.mutable.Map[String, Long]()
    for (r <- 1 to 5) {
      val availC = 2L + procs.filter(p => released.contains(p._1)).map(_._2).sum
      val availM = 2L + procs.filter(p => released.contains(p._1)).map(_._3).sum
      procs.filter(p => !released.contains(p._1) && p._4 <= availC && p._5 <= availM)
        .sortBy(_._1).headOption.foreach(p => released(p._1) = r.toLong)
    }
    val got = q("q488_bankers_safety").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5), r.getLong(6)))
    assert(got.length === procs.length)
    val allSafe = if (procs.forall(p => released.contains(p._1))) 1L else 0L
    got.foreach { case (seg, ac, am, nc, nm, rr, safe) =>
      assert(rr === released.getOrElse(seg, 0L), s"release round for $seg")
      assert(safe === allSafe)
    }
    // safety-definition law
    if (allSafe == 1L) {
      val order = procs.sortBy(p => released(p._1))
      var (ac, am) = (2L, 2L)
      order.foreach { p =>
        assert(p._4 <= ac && p._5 <= am, s"prefix feasibility at ${p._1}")
        ac += p._2; am += p._3
      }
    } else {
      val availC = 2L + procs.filter(p => released.contains(p._1)).map(_._2).sum
      val availM = 2L + procs.filter(p => released.contains(p._1)).map(_._3).sum
      procs.filterNot(p => released.contains(p._1)).foreach { p =>
        assert(p._4 > availC || p._5 > availM, s"${p._1} is genuinely stuck")
      }
    }
  }
}
