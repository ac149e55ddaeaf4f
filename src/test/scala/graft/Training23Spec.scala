package graft

import org.apache.spark.sql.functions._

import JvmRef.hash60

/** Invariants for the twenty-third wave (q225-q226): the hashing-trick
  * census against a JVM md5 mirror, and the bottom-k merge contract
  * against a JVM direct cut — including the property the query exists
  * to pin (merge path ≡ direct path, flag TRUE on every row).
  */
class Training23Spec extends SparkSpec {
  private val dir = "/root/testdata/sf0.001"
  private def q(name: String) =
    SparkEntry.allDefs.find(_.name == name).get.fn(spark, dir)

  test("q225: hashing-trick census equals a JVM md5 mirror") {
    val custs = Tables(spark, dir, "customer")
      .select("c_mktsegment", "c_nationkey").collect()
      .map(r => (r.getString(0), r.getInt(1).toLong))
    val feats = custs.groupBy(identity).map { case ((seg, nk), g) =>
      (seg, nk, g.length.toLong, hash60(s"$seg|$nk") % 64)
    }.toSeq
    val buckets = feats.groupBy(_._4).view
      .mapValues(g => (g.size.toLong, g.map(_._3).sum)).toMap
    val r = q("q225_feature_hashing").collect().head
    assert(r.getAs[Long]("n_features") == feats.size.toLong)
    assert(r.getAs[Long]("buckets_used") == buckets.size.toLong)
    assert(r.getAs[Long]("max_features_per_bucket") ==
      buckets.values.map(_._1).max)
    assert(r.getAs[Long]("max_rows_per_bucket") ==
      buckets.values.map(_._2).max)
    assert(r.getAs[Long]("n_collided_features") ==
      feats.count(f => buckets(f._4)._1 > 1).toLong)
  }

  test("q226: bottom-5 via per-source merge equals the direct cut; all flags TRUE") {
    val docs = Tables(spark, dir, "documents")
      .select("doc_id", "source").collect()
      .map(r => (r.getLong(0), r.getString(1)))
    val ranked = docs.map { case (id, src) => (id, src, hash60(id.toString)) }
    val direct = ranked.sortBy(d => (d._3, d._1)).take(5)
      .map(d => (d._1, d._3))
    val merged = ranked.groupBy(_._2).values
      .flatMap(_.toSeq.sortBy(d => (d._3, d._1)).take(5)).toSeq
      .sortBy(d => (d._3, d._1)).take(5).map(d => (d._1, d._3))
    assert(direct.toSeq == merged.toSeq) // the contract itself, in JVM
    val got = q("q226_bottomk_sample_merge").collect()
      .map(r => ((r.getAs[Long]("doc_id"), r.getAs[Long]("rk")),
        r.getAs[Boolean]("merge_matches_direct")))
    assert(got.map(_._1).toSet == direct.toSet)
    assert(got.forall(_._2), "every row must match on both paths")
  }
}
