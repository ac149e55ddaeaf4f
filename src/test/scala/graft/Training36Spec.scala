package graft

import JvmRef.{halfUp, hash60}

/** Invariants for the thirty-sixth wave (q270-q273): exact-selection +
  * coverage replay, grid-density replay + planted-blob separation, skew
  * recount, and a full backoff-chain replay that proves all three
  * branches fire.
  */
class Training36Spec extends SparkSpec {
  private val dir = "/root/testdata/sf0.001"
  private def q(name: String) =
    SparkEntry.allDefs.find(_.name == name).get.fn(spark, dir)

  test("q270: threshold is the exact k-th calibration score; coverage ~ the 90% design") {
    val os = Tables(spark, dir, "orders")
      .selectExpr("o_orderkey", "o_orderpriority",
        "CAST(round(o_totalprice * 100, 0) AS BIGINT) AS cents")
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
    val mean = os.groupBy(_._2).view.mapValues { rs =>
      halfUp(rs.map(_._3).sum, rs.size.toLong)
    }.toMap
    val scored = os.map { case (k0, p, c) =>
      (k0, math.abs(c - mean(p)), hash60(s"cf:$k0") % 10 < 5)
    }
    val cal = scored.filter(_._3).map(_._2).sorted
    val k = ((cal.length + 1L) * 9 + 9) / 10
    val threshold = cal((k - 1).toInt)
    val ev = scored.filterNot(_._3).map(_._2)
    val got = q("q270_conformal_threshold").collect().head
    assert(got.getLong(0) == cal.length.toLong)
    assert(got.getLong(1) == k)
    assert(got.getLong(2) == threshold)
    assert(got.getLong(3) == ev.length.toLong)
    assert(got.getLong(4) == ev.count(_ <= threshold).toLong)
    // coverage close to design: conformal guarantees >= 90% on
    // exchangeable data in expectation; allow sampling slack
    val cov = got.getLong(4).toDouble / got.getLong(3)
    assert(cov > 0.84 && cov < 0.97, s"coverage $cov")
  }

  test("q271: clusters equal a JVM union-find replay of the cell grid") {
    val pts = Tables(spark, dir, "embeddings")
      .selectExpr(
        "CAST(round(CAST(embedding[1] AS DOUBLE) * 1000000, 0) AS BIGINT) AS x6",
        "CAST(round(CAST(embedding[2] AS DOUBLE) * 1000000, 0) AS BIGINT) AS y6")
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    def fd(x: Long, c: Long): Long = if (x >= 0) x / c else -((-x + c - 1) / c)
    val cellsAll = pts.map { case (x, y) => (fd(x, 1000000), fd(y, 1000000)) }
    val core = cellsAll.groupBy(identity).view.mapValues(_.size.toLong)
      .filter(_._2 >= 5).toMap
    def cid(c: (Long, Long)): Long = (c._1 + 64) * 16384 + (c._2 + 64)
    // union-find over 8-adjacency
    val parent = collection.mutable.Map(core.keys.map(c => c -> c).toSeq: _*)
    def find(c: (Long, Long)): (Long, Long) =
      if (parent(c) == c) c else { val r = find(parent(c)); parent(c) = r; r }
    for (c <- core.keys; dx <- -1 to 1; dy <- -1 to 1 if (dx, dy) != ((0, 0))) {
      val n = (c._1 + dx, c._2 + dy)
      if (core.contains(n)) {
        val (ra, rb) = (find(c), find(n))
        if (ra != rb) parent(if (cid(ra) < cid(rb)) rb else ra) =
          if (cid(ra) < cid(rb)) ra else rb
      }
    }
    val byCluster = core.keys.toSeq.groupBy(c => cid(find(c)))
    // min-label CC: cluster id is the min cell id in the component
    val want = byCluster.map { case (_, cells) =>
      (cells.map(cid).min, cells.size.toLong, cells.map(core).sum)
    }.toSeq.sortBy(t => (-t._3, t._1)).take(10)
    val got = q("q271_grid_density_clusters").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    assert(got == want)
  }

  test("GridDensity separates planted blobs and ignores sparse noise") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    // blob A around (0,0), blob B around (10,10) — both dense; one
    // lone point at (5,5) below minPts
    val pts = (
      (0 until 40).map(i => (i % 3 * 300000L, i / 3 % 3 * 300000L)) ++
        (0 until 40).map(i => (10000000L + i % 3 * 300000L, 10000000L + i / 3 % 3 * 300000L)) ++
        Seq((5000000L, 5000000L))
      ).toDF("x6", "y6")
    val out = graft.operators.GridDensity.clusters(pts, 1000000L, 5L)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(out.length == 2, out.mkString(","))
    assert(out.map(_._3).sum == 80L) // the noise point is in no cluster
    // the two clusters are far apart (different cell neighborhoods)
    assert(out.map(_._1).distinct.length == 2)
  }

  test("q272: skew report equals a JVM recount; hottest word needs salting") {
    val words = Tables(spark, dir, "documents")
      .selectExpr("explode(split(text, ' ')) AS w").collect()
      .map(_.getString(0)).filter(_.nonEmpty)
    val wc = words.groupBy(identity).view.mapValues(_.size.toLong).toMap
    val total = words.length.toLong
    val want = wc.toSeq.sortBy { case (w, c) => (-c, w) }.take(10)
      .map { case (w, c) =>
        (w, c, c * (c - 1) / 2, halfUp(1000000 * c, total),
          (c * 32 + total - 1) / total)
      }
    val got = q("q272_skew_diagnosis").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
      .toSeq
    assert(got == want)
    // the harness vocabulary is pathologically hot: every top word
    // exceeds one partition's fair share, so salting is recommended
    assert(got.head._5 >= 1L)
  }

  test("q273: backoff scores match a JVM replay and all three branches fire") {
    val docs = Tables(spark, dir, "documents")
      .select("doc_id", "text").collect()
      .map(r => (r.getLong(0), r.getString(1)))
    val (train, ev) = docs.partition(d => hash60(s"bo:${d._1}") % 10 < 8)
    def grams(ds: Seq[(Long, String)], n: Int): Seq[(Long, String)] =
      ds.flatMap { case (id, text) =>
        val w = text.split(" ", -1)
        (n to w.length).map(i => (id, w.slice(i - n, i).mkString(" ")))
      }
    val c1 = grams(train.toSeq, 1).groupBy(_._2).view.mapValues(_.size.toLong).toMap
    val c2 = grams(train.toSeq, 2).groupBy(_._2).view.mapValues(_.size.toLong).toMap
    val c3 = grams(train.toSeq, 3).groupBy(_._2).view.mapValues(_.size.toLong).toMap
    val nTok = c1.values.sum
    val LN04 = -916291L
    def lnM(x: Double): Long = math.round(math.log(x) * 1000000)
    var (b1, b2, b3) = (0, 0, 0)
    val scores = grams(ev.toSeq, 3).map { case (id, g) =>
      val w = g.split(" ")
      val s0 = c3.get(g) match {
        case Some(t3) =>
          b1 += 1; lnM(t3.toDouble / c2(w(0) + " " + w(1)))
        case None =>
          c2.get(w(1) + " " + w(2)) match {
            case Some(t2) => b2 += 1; LN04 + lnM(t2.toDouble / c1(w(1)))
            case None =>
              b3 += 1
              2 * LN04 + lnM(c1.getOrElse(w(2), 1L).toDouble / nTok)
          }
      }
      (id, s0)
    }
    val want = scores.groupBy(_._1).view.mapValues { ss =>
      (ss.size.toLong, halfUp(ss.map(_._2).sum, ss.size.toLong))
    }.toSeq.map { case (id, (n, a)) => (id, n, a) }
      .sortBy(t => (t._3, t._1)).take(10)
    val got = q("q273_stupid_backoff").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    assert(got == want)
    assert(b1 > 0, "seen-trigram branch must fire")
    assert(b2 + b3 > 0, s"backoff must fire on held-out docs (b2=$b2 b3=$b3)")
  }
}
