package graft

import JvmRef.{hash60, round6}

/** Invariants for the twenty-seventh wave (q235-q238): each query is
  * recounted in plain JVM Scala from the raw tables — same 60-bit md5
  * hash, same fold order, same rounding discipline — plus the property
  * that motivates each operator (JL distortion concentration, CDC
  * insertion-locality, shuffle-run geometric decay).
  */
class Training27Spec extends SparkSpec {
  private val dir = "/root/testdata/sf0.001"
  private def q(name: String) =
    SparkEntry.allDefs.find(_.name == name).get.fn(spark, dir)

  private def docs(): Array[(Long, String, String)] =
    Tables(spark, dir, "documents")
      .select("doc_id", "source", "text").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2)))

  // ---------------------------------------------------------------- q235

  test("q235: DSIR weights equal a JVM recount; target docs score high") {
    val ds = docs()
    val tgtSrc = Set("src0", "src1", "src2", "src3")
    val toks = ds.flatMap { case (id, src, text) =>
      text.split(" ", -1).map(w => (id, tgtSrc(src), hash60(w) % 64))
    }
    val cr = toks.groupBy(_._3).view.mapValues(_.length.toLong).toMap
    val ct = toks.filter(_._2).groupBy(_._3).view.mapValues(_.length.toLong).toMap
    val tr = toks.length.toLong
    val tt = toks.count(_._2).toLong
    val lr = cr.map { case (b, c) =>
      b -> round6(math.log(
        ((ct.getOrElse(b, 0L) + 1.0) / (tt + 64.0)) /
          ((c + 1.0) / (tr + 64.0))))
    }
    val want = toks.groupBy(_._1).map { case (id, ts) =>
      val ssum = ts.map(t => BigDecimal(lr(t._3)).setScale(6)).sum
      (id, ts.length.toLong, round6((ssum / ts.length).toDouble))
    }.toSeq.sortBy(t => (-t._3, t._1)).take(25)
    val got = q("q235_dsir_importance").collect()
      .map(r => (r.getAs[Long]("doc_id"), r.getAs[Long]("n_tokens"),
        r.getAs[Double]("avg_llr"))).toSeq
    assert(got == want)
    // the selected slice should be target-enriched: chance puts 5 of
    // the top 25 in the 4 target sources (4/20 of the corpus); demand
    // a >1.6x enrichment (the synthetic sources share most vocabulary,
    // so the separation is real but not extreme)
    val bySrc = ds.map(d => d._1 -> d._2).toMap
    assert(got.count(g => tgtSrc(bySrc(g._1))) > 8)
  }

  // ---------------------------------------------------------------- q236

  private def mix(z0: Long): Long = {
    var z = z0 + 0x9E3779B97F4A7C15L
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z ^ (z >>> 31)
  }
  private def sign(j: Int, i: Int): Int =
    if (((mix(j.toLong * 64L + i.toLong) >>> 20) & 1L) == 0L) 1 else -1

  test("q236: projection audit equals a JVM recount; distortion concentrates near 1") {
    val vecs = Tables(spark, dir, "embeddings")
      .select("vec_id", "embedding").collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1).toArray))
      .filter(_._1 % 25 == 0).sortBy(_._1)
    def proj(v: Array[Float]): Array[Double] =
      (1 to 16).map { j =>
        var acc = 0.0
        (1 to 64).foreach { i =>
          val t = v(i - 1).toDouble
          acc = acc + (if (sign(j, i) > 0) t else -t)
        }
        round6(acc / 4.0)
      }.toArray
    val pv = vecs.map { case (id, v) => (id, v, proj(v)) }
    val want = (for {
      i <- pv.indices; k <- (i + 1) until pv.length
      if pv(k)._1 - pv(i)._1 <= 500
    } yield {
      val (a, va, pa) = pv(i); val (b, vb, pb) = pv(k)
      var d2o = 0.0
      (0 until 64).foreach { x =>
        val dd = va(x).toDouble - vb(x).toDouble; d2o = d2o + dd * dd
      }
      var d2p = 0.0
      (0 until 16).foreach { x =>
        val dd = pa(x) - pb(x); d2p = d2p + dd * dd
      }
      val o = round6(d2o); val p = round6(d2p)
      (a, b, o, p, round6(p / o))
    }).toSeq
    val got = q("q236_random_projection").collect()
      .map(r => (r.getAs[Long]("a_id"), r.getAs[Long]("b_id"),
        r.getAs[Double]("d2_orig"), r.getAs[Double]("d2_proj"),
        r.getAs[Double]("distortion"))).toSeq
    assert(got == want)
    // JL concentration: the MEDIAN distortion is near 1 (individual
    // pairs can stray — k=16 gives ~±50% tails)
    val sorted = got.map(_._5).sorted
    val med = sorted(sorted.length / 2)
    assert(med > 0.5 && med < 1.6, s"median distortion $med")
  }

  // ---------------------------------------------------------------- q237

  private def chunksOf(words: Seq[String]): Seq[String] = {
    val out = Seq.newBuilder[String]
    val cur = scala.collection.mutable.ArrayBuffer[String]()
    words.foreach { w =>
      cur += w
      if (hash60(w) % 16 == 0) { out += cur.mkString(" "); cur.clear() }
    }
    if (cur.nonEmpty) out += cur.mkString(" ")
    out.result()
  }

  test("q237: CDC audit equals a JVM recount") {
    val ds = docs()
    val perDoc = ds.map { case (id, _, text) =>
      id -> chunksOf(text.split(" ", -1).toSeq)
    }
    val df = perDoc.flatMap { case (id, cs) => cs.map(c => (hash60(c), id)) }
      .groupBy(_._1).view.mapValues(_.map(_._2).distinct.size).toMap
    val want = perDoc.map { case (id, cs) =>
      val shared = cs.filter(c => df(hash60(c)) >= 2)
      val sw = shared.map(_.split(" ", -1).length).sum
      val tw = cs.map(_.split(" ", -1).length).sum
      (id, cs.size.toLong, shared.size.toLong, round6(sw.toDouble / tw))
    }.sortBy(_._1).toSeq
    val got = q("q237_cdc_chunk_dedup").collect()
      .map(r => (r.getAs[Long]("doc_id"), r.getAs[Long]("n_chunks"),
        r.getAs[Long]("n_shared_chunks"), r.getAs[Double]("shared_ratio")))
      .toSeq
    assert(got == want)
  }

  test("q237: CDC boundaries localize an insertion (fixed-width chunks don't)") {
    // insert one word mid-document: CDC re-chunks only the chunk the
    // insertion lands in (≤ 2 chunk hashes differ: it may split);
    // fixed 3-word chunking shifts EVERY chunk after the edit.
    val text = docs().map(_._3).maxBy(_.length)
    val words = text.split(" ", -1).toSeq
    val edited = (words.take(words.length / 2) :+ "INSERTED") ++
      words.drop(words.length / 2)
    val (a, b) = (chunksOf(words).map(hash60), chunksOf(edited).map(hash60))
    val changed = b.toSet.diff(a.toSet).size
    assert(changed <= 2, s"CDC changed $changed chunks")
    def fixed(ws: Seq[String]) = ws.grouped(3).map(g => hash60(g.mkString(" "))).toSeq
    val (fa, fb) = (fixed(words), fixed(edited))
    // the shifted tail makes most downstream fixed chunks differ
    assert(fb.toSet.diff(fa.toSet).size > changed)
  }

  // ---------------------------------------------------------------- q238

  test("q238: run audit equals a JVM recount; singleton runs dominate") {
    val laid = docs().map { case (id, src, _) =>
      (hash60(s"sh:$id") % 32, hash60(s"or:$id"), id, src)
    }
    val runs = laid.groupBy(_._1).toSeq.flatMap { case (_, rows) =>
      val ordered = rows.sortBy(r => (r._2, r._3)).map(_._4)
      // run-length encode the per-shard source sequence
      ordered.foldLeft(List.empty[(String, Long)]) {
        case ((s, n) :: rest, src) if s == src => (s, n + 1) :: rest
        case (acc, src) => (src, 1L) :: acc
      }
    }
    val want = runs.groupBy(_._1).map { case (src, rs) =>
      (src, rs.map(_._2).sum, rs.size.toLong, rs.map(_._2).max,
        rs.count(_._2 >= 2).toLong)
    }.toSeq.sortBy(_._1)
    val got = q("q238_shuffle_run_audit").collect()
      .map(r => (r.getAs[String]("source"), r.getAs[Long]("n_docs"),
        r.getAs[Long]("n_runs"), r.getAs[Long]("max_run"),
        r.getAs[Long]("runs_ge2"))).toSeq
    assert(got == want)
    // a hash shuffle of 20 equal sources has P(next==same) = 1/20:
    // same-source runs should be rare and short everywhere
    got.foreach { case (src, nd, nr, mx, _) =>
      assert(mx <= 4, s"$src max_run $mx")
      assert(nr >= nd * 8 / 10, s"$src runs $nr of $nd docs")
    }
  }
}
