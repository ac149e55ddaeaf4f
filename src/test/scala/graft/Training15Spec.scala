package graft

import org.apache.spark.sql.functions._

import JvmRef.{hash60, round6}

/** Invariants for the fifteenth wave (q194-q198): every statistic is
  * recomputed in plain JVM Scala (BigInt moments, md5-derived HRW
  * scores), plus the structural properties a wrong implementation
  * would break — churn ≈ 1/9 for rendezvous hashing, bins capped by
  * the target size, merged state == direct state.
  */
class Training15Spec extends SparkSpec {
  private val dir = "/root/testdata/sf0.001"
  private def q(name: String) =
    SparkEntry.allDefs.find(_.name == name).get.fn(spark, dir)

  /** JVM mirror of TextOps.hash60*: first 15 md5 hex digits as a long. */

  private def hrw(id: Long, n: Int): Long =
    (0 until n).map { s =>
      (hash60(s"$id#$s") % 36028797018963968L) * 16L + s
    }.max % 16

  test("q194: HRW shards, movers, and id sums match a JVM recount; churn is ~1/9") {
    val ids = Tables(spark, dir, "documents")
      .select("doc_id").collect().map(_.getLong(0))
    val want = ids.groupBy(hrw(_, 8)).map { case (s, g) =>
      s -> ((g.length.toLong, g.count(id => hrw(id, 9) != s).toLong, g.sum))
    }
    val got = q("q194_shard_rendezvous").collect()
      .map(r => r.getAs[Long]("shard") ->
        ((r.getAs[Long]("n_docs"), r.getAs[Long]("n_moved"),
          r.getAs[Long]("id_sum")))).toMap
    assert(got == want)
    assert(got.keySet.subsetOf((0L until 8L).toSet))
    assert(got.values.map(_._1).sum == ids.length.toLong)
    // HRW churn when going 8→9 shards concentrates at 1/9 (±0.06 at
    // this SF) — the property that makes rendezvous resharding cheap.
    val frac = got.values.map(_._2).sum.toDouble / ids.length
    assert(frac > 1.0 / 9 - 0.06 && frac < 1.0 / 9 + 0.06, s"churn $frac")
  }

  test("q195: collation groups equal JVM lower()-keyed groups") {
    val rows = Tables(spark, dir, "documents")
      .select("doc_id", "source").collect()
      .map(r => (r.getLong(0), r.getString(1)))
    val want = rows
      .map { case (id, src) =>
        (if (id % 2 == 0) src.toUpperCase else src).toLowerCase -> id
      }
      .groupBy(_._1)
      .map { case (k, g) => k -> ((g.length.toLong, g.map(_._2).sum)) }
    val got = q("q195_collation_group").collect()
      .map(r => r.getAs[String]("source_lc") ->
        ((r.getAs[Long]("n_docs"), r.getAs[Long]("id_sum")))).toMap
    assert(got == want)
  }

  test("q196: bin packing matches a JVM replay and respects the cut rule") {
    val files = Tables(spark, dir, "lineitem")
      .groupBy((col("l_orderkey") / 100).cast("long").as("f"))
      .agg(count(lit(1)).as("n"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).sortBy(_._1)
    var cum = 0L
    val planned = files.map { case (f, n) =>
      val bin = cum / 8192; cum += n; (f, n, bin)
    }
    val want = planned.groupBy(_._3).map { case (b, g) =>
      b -> ((g.length.toLong, g.map(_._2).sum, g.map(_._1).min, g.map(_._1).max))
    }
    val got = q("q196_compaction_plan").collect()
      .map(r => r.getAs[Long]("bin") ->
        ((r.getAs[Long]("n_files"), r.getAs[Long]("total_rows"),
          r.getAs[Long]("min_file"), r.getAs[Long]("max_file")))).toMap
    assert(got == want)
    // order-preserving packing: bins tile the key axis without overlap
    val ordered = got.toSeq.sortBy(_._1).map(_._2)
    ordered.sliding(2).foreach {
      case Seq((_, _, _, hiA), (_, _, loB, _)) => assert(hiA < loB)
      case _ =>
    }
  }

  test("q197: the __ALL__ row equals the merge of per-source states and the direct stats") {
    val xs = Tables(spark, dir, "documents")
      .select("source", "n_chars").collect()
      .map(r => (r.getString(0), BigInt(r.getLong(1))))
    def stats(g: Seq[BigInt]): (Long, Double, Double) = {
      val n = BigInt(g.length); val s1 = g.sum; val s2 = g.map(x => x * x).sum
      (g.length.toLong,
        round6(s1.toDouble / n.toDouble),
        round6((n * s2 - s1 * s1).toDouble / (n.toDouble * n.toDouble)))
    }
    val want = xs.groupBy(_._1).map { case (s, g) => s -> stats(g.map(_._2).toSeq) } +
      ("__ALL__" -> stats(xs.map(_._2).toSeq))
    val got = q("q197_welford_merge").collect()
      .map(r => r.getAs[String]("source") ->
        ((r.getAs[Long]("n"), r.getAs[Double]("mean_chars"),
          r.getAs[Double]("var_chars")))).toMap
    assert(got.keySet == want.keySet)
    for ((k, (n, m, v)) <- want) {
      val (gn, gm, gv) = got(k)
      assert(gn == n, k)
      assert(math.abs(gm - m) < 1e-9, s"$k mean $gm vs $m")
      assert(math.abs(gv - v) < 1e-9, s"$k var $gv vs $v")
    }
  }

  test("q198: every full-frame correlation matches a JVM BigInt recount; |corr| <= 1") {
    val daily = Tables(spark, dir, "orders")
      .select(
        date_format(col("o_orderdate"), "yyyy-MM-dd").as("day"),
        expr("CAST(round(o_totalprice * 100) AS BIGINT)").as("cents"))
      .collect().map(r => (r.getString(0), BigInt(r.getLong(1))))
      .groupBy(_._1).toSeq.sortBy(_._1)
      .map { case (d, g) =>
        (d, BigInt(g.length),
          BigInt((g.map(_._2).sum.toDouble / 100.0).round))
      }
    val want = daily.indices.drop(29).map { i =>
      val fr = daily.slice(i - 29, i + 1)
      val n = BigInt(30)
      val sx = fr.map(_._2).sum; val sy = fr.map(_._3).sum
      val sxx = fr.map(t => t._2 * t._2).sum
      val syy = fr.map(t => t._3 * t._3).sum
      val sxy = fr.map(t => t._2 * t._3).sum
      val num = (n * sxy - sx * sy).toDouble
      val den = math.sqrt((n * sxx - sx * sx).toDouble) *
        math.sqrt((n * syy - sy * sy).toDouble)
      daily(i)._1 -> round6(num / den)
    }.toMap
    val got = q("q198_rolling_corr").collect()
      .map(r => r.getAs[String]("day") -> r.getAs[Double]("corr30")).toMap
    assert(got.keySet == want.keySet)
    for ((d, c) <- want) assert(math.abs(got(d) - c) < 1e-9, s"$d ${got(d)} vs $c")
    got.values.foreach(c => assert(c >= -1.0 && c <= 1.0))
  }
}
