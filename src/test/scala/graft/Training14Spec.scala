package graft

import org.apache.spark.sql.functions._

import graft.operators.TextOps
import JvmRef.{hash60, md5Hex}

/** Invariants for the fourteenth wave (q191-q193): a COMPLETE plain-JVM
  * mirror of the MinHash pipeline — word hashing, 3-gram shift-xor
  * combination, XOR-mixed signature components, band keys — recomputes
  * every diagnostic from raw text, so a drift anywhere in the
  * TextOps/Dedup expression chain breaks these, not just the oracle.
  */
class Training14Spec extends SparkSpec {
  private val dir = "/root/testdata/sf0.001"
  private def q(name: String) =
    SparkEntry.allDefs.find(_.name == name).get.fn(spark, dir)

  private def halfUp(s: Long, n: Long): Long = (2 * s + n) / (2 * n)
  private val mask60 = (1L << 60) - 1

  /** JVM mirror of wordHashes → ngramHashes(3) (distinct, short-doc fallback). */
  private def ngramHashes(text: String): Seq[Long] = {
    val wh = text.split(" ", -1).map(hash60).toSeq
    val hs =
      if (wh.length >= 3)
        (0 to wh.length - 3).map(i => ((wh(i) << 2) ^ (wh(i + 1) << 1) ^ wh(i + 2)) & mask60)
      else wh
    hs.distinct
  }

  private def xorConst(i: Int): Long = (i.toLong * 0x9E3779B97F4A7C15L) & mask60
  private def minhash(i: Int, hs: Seq[Long]): Long = hs.map(_ ^ xorConst(i)).min

  /** JVM mirror of bandSpark(b, 2, hs): md5 of "<min2b>_<min2b+1>". */
  private def bandKey(b: Int, hs: Seq[Long]): String =
    md5Hex(s"${minhash(2 * b, hs)}_${minhash(2 * b + 1, hs)}")

  private lazy val docs: Array[(Long, Seq[Long])] =
    Tables(spark, dir, "documents").select("doc_id", "text").collect()
      .map(r => (r.getLong(0), ngramHashes(r.getString(1))))

  /** Candidate pairs per the banded scheme (bucket cap 32). */
  private lazy val candidates: Set[(Long, Long)] = {
    val buckets = (for {
      (id, hs) <- docs.iterator
      b <- 0 until 4
    } yield ((b, bandKey(b, hs)), id)).toSeq.groupBy(_._1).values
      .map(_.map(_._2).sorted).filter(_.size <= 32)
    buckets.flatMap(ids =>
      for (i <- ids.indices; j <- (i + 1) until ids.length) yield (ids(i), ids(j))).toSet
  }

  /** Truth pairs: exact Jaccard ≥ 0.5 over the df≤64 shingle space. */
  private lazy val truth: Set[(Long, Long)] = {
    val df = docs.flatMap(_._2).groupBy(identity).map { case (h, g) => h -> g.length }
    val hot = df.filter(_._2 > 64).keySet
    val sets = docs.map { case (id, hs) => (id, hs.filterNot(hot).toSet) }
    (for {
      i <- sets.indices.iterator
      j <- (i + 1) until sets.length
      (ia, sa) = sets(i); (ib, sb) = sets(j)
      c = (sa & sb).size if c > 0
      jac = BigDecimal(c.toDouble / (sa.size + sb.size - c))
        .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
      if jac >= 0.5
    } yield if (ia < ib) (ia, ib) else (ib, ia)).toSet
  }

  test("q191: precision/recall match the full JVM minhash+Jaccard mirror") {
    val r = q("q191_minhash_pr").collect().head
    val tp = (truth & candidates).size.toLong
    assert(r.getAs[Long]("n_truth") == truth.size.toLong, "truth set")
    assert(r.getAs[Long]("n_candidates") == candidates.size.toLong, "candidate set")
    assert(r.getAs[Long]("tp") == tp)
    assert(r.getAs[Long]("precision_ppm") ==
      (if (candidates.isEmpty) 0L else halfUp(1000000L * tp, candidates.size)))
    assert(r.getAs[Long]("recall_ppm") ==
      (if (truth.isEmpty) 0L else halfUp(1000000L * tp, truth.size)))
    // the harness corpus has planted near-dups and the 4x2 S-curve at
    // tau=0.5 must find them: a degenerate all-zero result is a bug
    assert(r.getAs[Long]("n_truth") > 0 && r.getAs[Long]("tp") > 0)
  }

  test("q192: df histogram matches the JVM shingle recount; mass conserved") {
    val df = docs.flatMap(_._2).groupBy(identity).map { case (h, g) => h -> g.length.toLong }
    val expect = df.values.groupBy(d => java.lang.Long.toBinaryString(d).length.toLong)
      .map { case (b, g) => b -> (g.size.toLong, g.sum, g.map(d => d * d).sum) }
    val rows = q("q192_shingle_df_hist").collect()
    assert(rows.length == expect.size)
    rows.foreach { r =>
      val (n, tot, jr) = expect(r.getAs[Long]("df_log2_bucket"))
      assert(r.getAs[Long]("n_shingles") == n)
      assert(r.getAs[Long]("total_df") == tot)
      assert(r.getAs[Long]("join_rows") == jr)
    }
    // Σ total_df over buckets = total exploded shingle mass
    assert(rows.map(_.getAs[Long]("total_df")).sum == docs.map(_._2.size.toLong).sum)
  }

  test("q193: band occupancy matches the JVM recount; each band covers every doc") {
    val occ = (for {
      (id, hs) <- docs.iterator
      b <- 0 until 4
    } yield ((b, bandKey(b, hs)), id)).toSeq
      .groupBy(_._1).map { case (k, g) => k -> g.size.toLong }
    val expect = occ.groupBy { case ((b, _), sz) => (b.toLong, sz) }
      .map { case (k, g) => k -> (g.size.toLong, g.values.map(s => s * s).sum) }
    val rows = q("q193_band_occupancy").collect()
    assert(rows.length == expect.size)
    rows.foreach { r =>
      val (n, pm) = expect((r.getAs[Long]("band_idx"), r.getAs[Long]("bucket_size")))
      assert(r.getAs[Long]("n_buckets") == n)
      assert(r.getAs[Long]("pair_mass") == pm)
    }
    // conservation: within each band, Σ bucket_size · n_buckets = n_docs
    rows.groupBy(_.getAs[Long]("band_idx")).foreach { case (b, rs) =>
      val mass = rs.map(r => r.getAs[Long]("bucket_size") * r.getAs[Long]("n_buckets")).sum
      assert(mass == docs.length.toLong, s"band $b covers $mass of ${docs.length}")
    }
  }
}
