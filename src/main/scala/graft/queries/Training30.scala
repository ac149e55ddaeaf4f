package graft.queries

import org.apache.commons.io.FileUtils
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.{Num, QueryDef, Tables}
import graft.Num.round6
import graft.operators.TextOps.{hash60Duck, hash60Spark, lshPairsCtesDuck}
import graft.sources.Sinks

/** Thirtieth wave — three loops closed:
  *
  *  - q247: incremental aggregate maintenance (IVM) — the base
  *    aggregate is UPDATED from the q233 CDC change stream instead of
  *    rescanning the table; the maintained result provably equals the
  *    direct aggregate of the new version.
  *  - q248: dedup-cluster-aware train/eval split — q183 AUDITS
  *    near-dup leakage across splits; this CONSTRUCTS the split that
  *    cannot leak (all members of a near-dup cluster land together),
  *    and the declared result pins the crossing-pair count to zero.
  *  - q249: perceptual-hash near-dup matching over the opaque binary
  *    payload — extends the multimodal family (q51 decode slot, q124
  *    pooling) from featurize to MATCH: pooled grid → DCT-II
  *    low-frequency signs → 8-bit pHash → bucket-capped equality join.
  */
object Training30 {
  /** DCT-II coefficient cos(π/16·(i+0.5)·k), rounded to 6 dp at PLAN
    * time — both dialects embed the same literals, no runtime libm.
    */
  private def dctCoef(k: Int, i: Int): Double =
    round6(math.cos(math.Pi / 16.0 * (i + 0.5) * k))

  /** Left-associated 16-term DCT component k over cells p0..p15. */
  private def dctExpr(k: Int): String =
    (0 until 16).map(i => s"p$i * ${dctCoef(k, i)}").mkString("(", " + ", ")")

  val defs: Seq[QueryDef] = Seq(

    // ---- incremental aggregate maintenance: commit v0 = orders, v1 =
    // MERGE of re-priced updates (%10, price doubled) + new keys
    // (%100 shifted — inserts). The per-priority aggregate is then
    // maintained as  base ⊕ delta(changes)  — counts via ±1, revenue
    // via Σ(new−old) — WITHOUT rescanning v1. This is the
    // materialized-view maintenance loop every warehouse runs on its
    // CDC stream; at 100 TB the delta pass touches only the change
    // mass, and the combine join is dictionary-sized. The oracle
    // computes the direct aggregate of v1's closed form — equality IS
    // the IVM correctness statement.
    QueryDef(
      "q247_incremental_agg",
      (s, d) => {
        val root = java.nio.file.Paths.get(
          sys.props("java.io.tmpdir"),
          s"graft_ivm_${Integer.toHexString(d.hashCode)}").toString
        FileUtils.deleteQuietly(new java.io.File(root))
        val base = Tables(s, d, "orders")
          .select(col("o_orderkey"), col("o_orderpriority"),
            col("o_totalprice"))
          .withColumn("v", lit(0L))
        base.write.mode("overwrite").parquet(s"$root/v0")
        val updates = base
          .filter(pmod(col("o_orderkey"), lit(10)) === 0)
          .withColumn("o_totalprice", col("o_totalprice") * 2)
        val inserts = base
          .filter(pmod(col("o_orderkey"), lit(100)) === 0)
          .withColumn("o_orderkey", col("o_orderkey") + 10000000L)
        Sinks.mergeSnapshot(
          updates.unionAll(inserts).withColumn("v", lit(1L)),
          root, Seq("o_orderkey"), "v", version = 1L)
        val a0 = Sinks.readSnapshot(s, root, 0L)
          .groupBy("o_orderpriority")
          .agg(count(lit(1)).as("n0"), Num.dsum(col("o_totalprice")).as("r0"))
        val delta = Sinks.snapshotChanges(s, root, 0L, 1L, Seq("o_orderkey"))
          .withColumn("o_orderpriority",
            coalesce(col("new_o_orderpriority"), col("old_o_orderpriority")))
          .groupBy("o_orderpriority")
          .agg(
            sum(when(col("change_type") === "insert", 1L)
              .when(col("change_type") === "delete", -1L)
              .otherwise(0L)).as("dn"),
            Num.dsum(
              coalesce(col("new_o_totalprice"), lit(0.0)) -
                coalesce(col("old_o_totalprice"), lit(0.0))).as("dr"))
        a0.join(delta, Seq("o_orderpriority"), "full_outer")
          .select(
            col("o_orderpriority"),
            (coalesce(col("n0"), lit(0L)) + coalesce(col("dn"), lit(0L)))
              .as("n_orders"),
            (coalesce(col("r0"), lit(0.0)) + coalesce(col("dr"), lit(0.0)))
              .as("revenue"))
          .orderBy("o_orderpriority")
      },
      Some(s"""
        WITH base AS (
          SELECT o_orderpriority,
                 count(*) AS n0,
                 ${Num.dsumSql("o_totalprice")} AS r0
          FROM orders GROUP BY 1),
        delta AS (
          SELECT o_orderpriority,
                 CAST(count(*) FILTER (WHERE is_ins) AS BIGINT) AS dn,
                 ${Num.dsumSql("dv")} AS dr
          FROM (
            SELECT o_orderpriority,
                   o_totalprice * 2 - o_totalprice AS dv, FALSE AS is_ins
            FROM orders WHERE o_orderkey % 10 = 0
            UNION ALL
            SELECT o_orderpriority, o_totalprice, TRUE
            FROM orders WHERE o_orderkey % 100 = 0)
          GROUP BY 1)
        SELECT o_orderpriority,
               base.n0 + coalesce(delta.dn, 0) AS n_orders,
               base.r0 + coalesce(delta.dr, 0.0) AS revenue
        FROM base LEFT JOIN delta USING (o_orderpriority)
        ORDER BY o_orderpriority"""),
    ),

    // ---- cluster-aware split: assign every document the 80/20 split
    // of its NEAR-DUP CLUSTER (minhash-LSH pairs → connected
    // components, the q71 machinery), so a near-dup pair can never
    // straddle train/eval — the construction q183's leakage audit
    // wants to find nothing to report on. The declared result carries
    // the crossing-pair count, which is zero BY CONSTRUCTION (and the
    // oracle recomputes it from the same pair set). Scale shape: the
    // q45/q46 banded pair join + O(log n)-capable CC + one broadcast
    // of the cluster→split map; everything keyed.
    QueryDef(
      "q248_cluster_split",
      (s, d) => {
        import graft.operators.Dedup
        val docs = Tables(s, d, "documents")
        val pairs = Dedup.minhashCandidatePairs(
          Dedup.minhashBands(docs, "doc_id", "text"), "doc_id")
          .localCheckpoint(true) // consumed twice: split + crossing audit
        val comp = Dedup.connectedComponents(pairs, "doc_id_a", "doc_id_b")
        val sp = docs.select(col("doc_id"))
          .join(comp.withColumnRenamed("node", "doc_id"), Seq("doc_id"), "left")
          .withColumn("cid", coalesce(col("cluster_id"), col("doc_id")))
          .withColumn("split",
            when(expr(hash60Spark("concat('sp:', cid)")) % 10 < 8, "train")
              .otherwise("eval"))
          .select("doc_id", "split")
        val crossing = pairs
          .join(sp.withColumnRenamed("doc_id", "doc_id_a")
            .withColumnRenamed("split", "sa"), Seq("doc_id_a"))
          .join(sp.withColumnRenamed("doc_id", "doc_id_b")
            .withColumnRenamed("split", "sb"), Seq("doc_id_b"))
          .filter(col("sa") =!= col("sb"))
          .agg(count(lit(1)).as("n_crossing"))
        sp.groupBy("split").agg(count(lit(1)).as("n_docs"))
          .crossJoin(broadcast(crossing))
          .orderBy("split")
      },
      Some(s"""
        WITH RECURSIVE ${lshPairsCtesDuck("documents")},
        cl AS (
          SELECT d.doc_id, coalesce(c.cluster_id, d.doc_id) AS cid
          FROM documents d LEFT JOIN comp c ON c.node = d.doc_id),
        sp AS (
          SELECT doc_id,
                 CASE WHEN ${hash60Duck("'sp:' || cid")} % 10 < 8
                      THEN 'train' ELSE 'eval' END AS split
          FROM cl),
        crossing AS (
          SELECT count(*) AS n_crossing
          FROM pairs p
          JOIN sp a ON p.a = a.doc_id
          JOIN sp b ON p.b = b.doc_id
          WHERE a.split <> b.split)
        SELECT split, count(*) AS n_docs,
               (SELECT n_crossing FROM crossing) AS n_crossing
        FROM sp GROUP BY split ORDER BY split"""),
    ),

    // ---- perceptual-hash near-dup over the binary payload: 16-cell
    // byte-sum grid (the q124 floor-division pooling, partition-wise
    // behind the decode slot), 1D DCT-II components 1..8 with
    // PLAN-TIME cosine literals (no runtime libm in either engine),
    // sign-vs-mean bits → 8-bit pHash, then a bucket-capped equality
    // self-join emits candidate pairs. Equality on pHash is the
    // strict matcher; hamming ≤ k at scale rides the q48 SimHash
    // band machinery unchanged. The ≤32 bucket cap is the same
    // discipline as Dedup.minhashCandidatePairs — pair mass stays
    // bounded however skewed the hash gets.
    QueryDef(
      "q249_phash_neardup",
      (s, d) => {
        import s.implicits._
        val cells = 16
        val grid = Tables(s, d, "documents")
          .select(col("doc_id"), encode(col("text"), "UTF-8").as("payload"))
          .as[(Long, Array[Byte])]
          .mapPartitions { iter =>
            iter.map { case (id, payload) =>
              val n = payload.length
              val pool = Array.tabulate(cells) { w =>
                var acc = 0L
                var i = w * n / cells
                val hi = (w + 1) * n / cells
                while (i < hi) { acc += payload(i) & 0xff; i += 1 }
                acc
              }
              (id, pool)
            }
          }
          .toDF("doc_id", "pool")
          .select(
            (col("doc_id") +:
              (0 until cells).map(w => element_at(col("pool"), w + 1).as(s"p$w"))): _*)
        val withHash = grid
          .withColumn("__mean",
            expr(s"(${(1 to 8).map(dctExpr).mkString(" + ")}) / 8.0"))
          .withColumn("phash",
            expr((1 to 8).map(k =>
              s"CASE WHEN ${dctExpr(k)} > __mean THEN ${1L << (k - 1)} ELSE 0 END")
              .mkString("(", " + ", ")")))
          .select("doc_id", "phash")
        val sized = withHash
          .withColumn("__bsz",
            count(lit(1)).over(
              org.apache.spark.sql.expressions.Window.partitionBy("phash")))
          .filter(col("__bsz") <= 32)
          .select("doc_id", "phash")
        sized.as("a").join(sized.as("b"),
            col("a.phash") === col("b.phash") &&
              col("a.doc_id") < col("b.doc_id"))
          .select(
            col("a.doc_id").as("doc_a"),
            col("b.doc_id").as("doc_b"),
            col("a.phash").as("phash"))
          .orderBy("doc_a", "doc_b")
      },
      Some {
        val cellCols = (0 until 16).map { w =>
          s"""CAST(coalesce(list_sum(list_transform(
                range((($w * n) // 16) + 1, ((${w + 1} * n) // 16) + 1),
                i -> ascii(substr(text, CAST(i AS INTEGER), 1)))), 0) AS BIGINT) AS p$w"""
        }.mkString(",\n               ")
        s"""
        WITH grid AS (
          SELECT doc_id,
               $cellCols
          FROM (SELECT doc_id, text,
                       CAST(octet_length(encode(text)) AS BIGINT) AS n
                FROM documents)),
        m AS (
          SELECT doc_id,
                 (${(1 to 8).map(dctExpr).mkString(" + ")}) / 8.0 AS mn,
                 ${(1 to 8).map(k => s"${dctExpr(k)} AS f$k").mkString(", ")}
          FROM grid),
        ph AS (
          SELECT doc_id,
                 (${(1 to 8).map(k =>
                   s"CASE WHEN f$k > mn THEN ${1L << (k - 1)} ELSE 0 END")
                   .mkString(" + ")}) AS phash
          FROM m),
        sized AS (
          SELECT doc_id, phash FROM (
            SELECT doc_id, phash,
                   count(*) OVER (PARTITION BY phash) AS bsz
            FROM ph)
          WHERE bsz <= 32)
        SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, a.phash AS phash
        FROM sized a JOIN sized b
          ON a.phash = b.phash AND a.doc_id < b.doc_id
        ORDER BY doc_a, doc_b"""
      },
    ),
  )
}
