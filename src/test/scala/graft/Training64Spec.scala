package graft

import org.apache.spark.sql.functions._

import JvmRef.hash60

/** Invariants for the sixty-fourth wave, re-derived in the JVM with
  * independent implementations (own md5-hash60, own Lloyd's loop, own
  * rational modularity):
  *
  *  - q359: walks replayed over a JVM adjacency map with JVM hashing;
  *  - q360: the k-means fit AND the anomaly top-10 re-derived by a
  *    from-scratch JVM Lloyd's (same seed rule, half-up integer
  *    means) — catching a formula bug shared by the Spark and oracle
  *    chains;
  *  - q361: modularity recomputed with BigInt rationals.
  */
class Training64Spec extends SparkSpec {
  private val dir = "/root/testdata/sf0.001"
  private def q(name: String) =
    SparkEntry.allDefs.find(_.name == name).get.fn(spark, dir)

  test("q359: walks replay over a JVM adjacency with JVM md5-hash60") {
    val und = graft.operators.Graphs.doubled(
      graft.operators.Graphs.coPurchaseEdges(Tables(spark, dir, "lineitem")))
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    val adj = und.groupBy(_._1).view.mapValues(_.map(_._2)).toMap
    val seeds = adj.keys.filter(_ % 97 == 0).toSeq.sorted
    val want = seeds.map { seed =>
      var cur = seed
      val path = (1 to 3).map { t =>
        cur = adj(cur).map(v => (hash60(s"$seed:$t:$v"), v)).min._2
        cur
      }
      (seed, path(0), path(1), path(2))
    }
    val got = q("q359_random_walks").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSeq
    assert(got === want)
    assert(got.nonEmpty)
  }

  private def jvmKMeans(
      rows: Seq[(Long, Array[Long])], k: Int,
      iters: Int): (Array[Array[Long]], Map[Long, Int]) =
    JvmRef.kmeans(rows, k, iters)

  test("q360: anomaly top-10 re-derives from a from-scratch JVM Lloyd's") {
    val rows = Tables(spark, dir, "embeddings")
      .select(col("vec_id"),
        expr("transform(embedding, x -> cast(round(cast(x as double) * 1000000, 0) as bigint))"))
      .collect()
      .map(r => (r.getLong(0), r.getSeq[Long](1).toArray)).toSeq
    val (cents, labels) = jvmKMeans(rows, k = 8, iters = 2)
    def sq(a: Array[Long], b: Array[Long]): Long =
      a.zip(b).map { case (x, y) => (x - y) * (x - y) }.sum
    val want = rows.map { case (id, v) =>
      (id, labels(id).toLong, cents.map(c => sq(v, c)).min)
    }.sortBy { case (id, _, d2) => (-d2, id) }.take(10)
    val got = q("q360_kmeans_anomaly").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    assert(got === want)
  }

  test("q361: modularity re-derives with BigInt rationals") {
    import graft.operators.Dedup
    val docs = Tables(spark, dir, "documents")
    val pairs = Dedup.minhashCandidatePairs(
      Dedup.minhashBands(docs, "doc_id", "text"), "doc_id")
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    val lang = docs.select("doc_id", "lang").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    val m = BigInt(pairs.length)
    val se = BigInt(pairs.count { case (a, b) => lang(a) == lang(b) })
    val dc = pairs.flatMap(p => Seq(p._1, p._2))
      .groupBy(lang).view.mapValues(v => BigInt(v.length)).toMap
    val sd2 = dc.values.map(d => d * d).sum
    val num = 4 * m * se * 1000000 - sd2 * 1000000
    val den = 4 * m * m
    val qppm =
      if (num >= 0) (2 * num + den) / (2 * den)
      else -((2 * -num + den) / (2 * den))
    val r = q("q361_graph_modularity").collect().head
    assert(r.getLong(0) === pairs.length.toLong)
    assert(r.getLong(2) === qppm.toLong)
    assert(r.getLong(1) === dc.size.toLong)
  }
}
