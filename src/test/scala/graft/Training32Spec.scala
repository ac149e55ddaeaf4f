package graft

import JvmRef.halfUp

/** Invariants for the thirty-second wave (q254-q257): contract recount,
  * full JVM replays of quantile normalization, greedy k-center, and the
  * centroid label audit.
  */
class Training32Spec extends SparkSpec {
  private val dir = "/root/testdata/sf0.001"
  private def q(name: String) =
    SparkEntry.allDefs.find(_.name == name).get.fn(spark, dir)

  test("q254: contract counts match a JVM recount; all five contracts pass on harness data") {
    val li = Tables(spark, dir, "lineitem")
      .select("l_orderkey", "l_shipdate", "l_quantity").collect()
    val os = Tables(spark, dir, "orders")
      .select("o_orderkey", "o_orderstatus").collect()
    val orderKeys = os.map(_.getLong(0)).toSet
    val want = Seq(
      ("fk_lineitem_orderkey_in_orders", li.length.toLong,
        li.count(r => !orderKeys(r.getLong(0))).toLong),
      ("not_null_lineitem_shipdate", li.length.toLong,
        li.count(_.isNullAt(1)).toLong),
      ("range_lineitem_quantity_1_50", li.length.toLong,
        li.count(r => r.isNullAt(2) || r.getDouble(2) < 1.0 || r.getDouble(2) > 50.0).toLong),
      ("unique_orders_orderkey", os.length.toLong,
        (os.length - orderKeys.size).toLong),
      ("values_orders_orderstatus", os.length.toLong,
        os.count(r => r.isNullAt(1) || !Set("O", "F", "P")(r.getString(1))).toLong),
    )
    val got = q("q254_data_contracts").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getBoolean(3)))
      .toSeq
    assert(got.map(g => (g._1, g._2, g._3)) == want)
    got.foreach { case (c, _, v, passed) =>
      assert(passed == (v == 0L), c)
      assert(passed, s"harness data should satisfy $c")
    }
  }

  test("q255: normalized values are exact global order statistics at the mapped ranks") {
    val docs = Tables(spark, dir, "documents")
      .select("doc_id", "source", "n_chars").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
    val n = docs.length.toLong
    val globalSorted = docs.map(_._3).sorted
    val bySource = docs.groupBy(_._2)
    val wantAgg = bySource.map { case (src, rows) =>
      val ns = rows.length.toLong
      val sortedRows = rows.sortBy(r => (r._3, r._1))
      val nvs = sortedRows.zipWithIndex.map { case (_, i) =>
        val r = i + 1L
        val g = (r * n + ns - 1L) / ns
        globalSorted((g - 1L).toInt) // g-th smallest global value
      }
      (src, ns, nvs.sum, nvs.min, nvs.max)
    }.toSeq.sortBy(_._1)
    val got = q("q255_quantile_normalize").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
      .toSeq
    assert(got == wantAgg)
    // the top-ranked doc of every source maps to the global maximum
    got.foreach { case (_, _, _, _, mx) => assert(mx == globalSorted.last) }
  }

  test("q256: selection trace equals a JVM greedy k-center replay; radius non-increasing") {
    val pts = Tables(spark, dir, "embeddings")
      .select("vec_id", "embedding").collect()
      .map { r =>
        val v = r.getSeq[Float](1).toArray
          .map(x => math.round(x.toDouble * 1000000).toLong)
        (r.getLong(0), v)
      }
    def d2(a: Array[Long], b: Array[Long]): Long =
      a.zip(b).map { case (x, y) => (x - y) * (x - y) }.sum
    var sel = Vector((1L, pts.minBy(_._1)._1, 0L))
    var mind = collection.mutable.Map(pts.map(p => p._1 -> Long.MaxValue): _*)
    var center = pts.minBy(_._1)._2
    val byId = pts.toMap
    for (i <- 2 to 8) {
      pts.foreach { case (id, v) =>
        mind(id) = math.min(mind(id), d2(v, center))
      }
      val (id, r2) = pts.map(p => (p._1, mind(p._1)))
        .maxBy { case (id, m) => (m, -id) }
      sel = sel :+ ((i.toLong, id, r2))
      center = byId(id)
    }
    val got = q("q256_kcenter_coreset").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toVector
    assert(got == sel)
    val radii = got.drop(1).map(_._3)
    assert(radii == radii.sortBy(-_), s"radii must be non-increasing: $radii")
    assert(got.map(_._2).distinct.size == 8)
  }

  test("q257: confusion matrix equals a JVM centroid replay and covers every vector") {
    val pts = Tables(spark, dir, "embeddings")
      .select("vec_id", "label", "embedding").collect()
      .map { r =>
        val v = r.getSeq[Float](2).toArray
          .map(x => math.round(x.toDouble * 1000000).toLong)
        (r.getLong(0), r.getInt(1), v)
      }
    val cent = pts.groupBy(_._2).view.mapValues { rows =>
      val nn = rows.length.toLong
      Array.tabulate(64)(j => halfUp(rows.map(_._3(j)).sum, nn))
    }.toMap
    def d2(a: Array[Long], b: Array[Long]): Long =
      a.zip(b).map { case (x, y) => (x - y) * (x - y) }.sum
    val conf = pts.map { case (_, gl, v) =>
      val pred = cent.toSeq
        .map { case (l, c) => (d2(v, c), l) }.min._2
      (gl, pred)
    }.groupBy(identity).view.mapValues(_.size.toLong).toSeq
      .map { case ((g, p), nn) => (g, p, nn) }
      .sortBy(t => (t._1, t._2))
    val got = q("q257_centroid_label_audit").collect()
      .map(r => (r.getInt(0), r.getInt(1), r.getLong(2))).toSeq
    assert(got == conf)
    assert(got.map(_._3).sum == pts.length.toLong)
  }
}
