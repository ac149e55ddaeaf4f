package graft.queries

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.{QueryDef, Tables}
import graft.operators.{EquiDepthBins, TextOps}

/** Eighty-ninth wave — sampling, placement and sequential decisions:
  *
  *  - q429: weighted reservoir sample (Efraimidis–Spirakis A-ES) via
  *    integer exponential clocks — clock_i = -ln(u_i)/w_i with u_i a
  *    deterministic 60-bit-hash rational, the k smallest clocks ARE a
  *    weight-proportional sample. One TakeOrdered top-k: map-side
  *    partial heaps, never a global sort — THE one-pass distributed
  *    weighted sampler (Efraimidis & Spirakis 2006, Inf.Proc.Letters).
  *    The libm ln is rounded to micro-nats at the source (q74 rule)
  *    and everything after is integer.
  *  - q430: consistent-hash ring with virtual nodes — 8 shards × 16
  *    vnodes on a 2^32 ring, keys assigned to the clockwise successor
  *    by a plan-time-literal binary-search CASE tree (⌈log₂ 128⌉
  *    compares/row, zero join, zero shuffle before the 9-row census).
  *    A second 9-shard ring re-assigns every key; the output pins the
  *    defining theorem: keys only EVER move to the NEW shard, and the
  *    moved fraction is the new shard's ring measure (≈ vnodes/total).
  *    Complements q194's rendezvous (HRW) hashing — the OTHER classic
  *    minimal-movement placement scheme.
  *  - q431: per-arm SPRT (Wald's sequential probability ratio test),
  *    H0 p=0.5 vs H1 p=0.6, alpha=beta=0.05 — each event arm walks its
  *    cumulative log-likelihood ratio in integer micro-nats (literal
  *    plan-time constants, identical in both dialects) until it
  *    crosses ln((1-b)/a) (reject H0) or ln(b/(1-a)) (accept H0); the
  *    early-stopping complement of q176's fixed-horizon A/B test. One
  *    arm-keyed window pass — no single-partition exchange.
  */
object Training89 {
  // ---- q430 plan-time ring construction (deterministic md5, identical
  // to the hash60 both dialects compute at runtime for the KEYS).
  private def md5hex(x: String): String =
    java.security.MessageDigest.getInstance("MD5")
      .digest(x.getBytes("UTF-8")).map("%02x".format(_)).mkString
  private def hash60(x: String): Long =
    java.lang.Long.parseLong(md5hex(x).take(15), 16)
  private val RingMod = 4294967296L // 2^32

  /** (sortedPositions, ownerAlignedWithSorted) for `shards` × `vnodes`. */
  private[graft] def ring(shards: Int, vnodes: Int): (Seq[Long], Seq[Int]) = {
    val pts = for { s <- 0 until shards; v <- 0 until vnodes }
      yield (hash60(s"ring:$s:$v") % RingMod, s)
    require(pts.map(_._1).distinct.size == pts.size, "vnode position collision")
    val sorted = pts.sortBy(_._1)
    (sorted.map(_._1), sorted.map(_._2))
  }

  /** Owner-shard expression: binary-search the sorted ring for the first
    * position strictly above kpos (wrap to index 0), then map through the
    * owner array literal.
    */
  private def ownerExpr(kposCol: String, positions: Seq[Long], owners: Seq[Int]): String = {
    val idx = EquiDepthBins.searchCountExpr(kposCol, positions.map(_.toString + "L"), strict = false)
    s"element_at(array(${owners.mkString(",")}), (($idx) % ${positions.size}) + 1)"
  }
  private def ownerExprDuck(kposCol: String, ringCte: String): String =
    s"""(SELECT r.shard FROM $ringCte r WHERE r.pos =
          coalesce((SELECT min(r2.pos) FROM $ringCte r2 WHERE r2.pos > $kposCol),
                   (SELECT min(r3.pos) FROM $ringCte r3)))"""

  // ---- q431 plan-time micro-nat literals (p1=0.6, p0=0.5, a=b=0.05)
  private val SInc = math.round(math.log(0.6 / 0.5) * 1e6) //  182322
  private val FInc = math.round(math.log(0.4 / 0.5) * 1e6) // -223144
  private val UpperA = math.round(math.log(0.95 / 0.05) * 1e6) //  2944439
  private val LowerB = -UpperA // symmetric for a=b

  val defs: Seq[QueryDef] = Seq(

    QueryDef(
      "q429_weighted_reservoir_sample",
      (s, d) => {
        val h = TextOps.hash60Spark("concat('wrs:', cast(o_orderkey as string))")
        Tables(s, d, "orders").selectExpr(
          "o_orderkey",
          "CAST(round(o_totalprice * 100, 0) AS BIGINT) AS cents",
          s"CAST(round(-ln((($h % 1000000) + 1) / 1000001.0) * 1000000, 0) AS BIGINT) AS lmicro")
          .selectExpr("o_orderkey", "cents",
            "(lmicro * 1000000L) div cents AS clock")
          .orderBy(col("clock"), col("o_orderkey"))
          .limit(500)
      },
      Some(s"""
        WITH scored AS (
          SELECT o_orderkey,
                 CAST(round(o_totalprice * 100, 0) AS BIGINT) AS cents,
                 CAST(round(-ln(((${TextOps.hash60Duck("'wrs:' || CAST(o_orderkey AS VARCHAR)")} % 1000000) + 1)
                   / 1000001.0) * 1000000, 0) AS BIGINT) AS lmicro
          FROM orders)
        SELECT o_orderkey, cents, (lmicro * 1000000) // cents AS clock
        FROM scored ORDER BY clock, o_orderkey LIMIT 500""")),

    QueryDef(
      "q430_consistent_hash_ring",
      (s, d) => {
        val (posA, ownA) = ring(8, 16)
        val (posB, ownB) = ring(9, 16)
        val kpos = s"(${TextOps.hash60Spark("concat('key:', cast(o_orderkey as string))")} % ${RingMod}L)"
        Tables(s, d, "orders")
          .selectExpr(
            s"${ownerExpr(kpos, posA, ownA)} AS shard_a",
            s"${ownerExpr(kpos, posB, ownB)} AS shard_b")
          .groupBy(col("shard_b").as("shard"))
          .agg(count(lit(1)).as("n_keys"),
            sum(when(col("shard_a") =!= col("shard_b"), 1L).otherwise(0L))
              .as("n_gained"))
          .orderBy("shard")
      },
      Some(s"""
        WITH ring_a AS (
          SELECT t.s AS shard,
                 ${TextOps.hash60Duck("'ring:' || CAST(t.s AS VARCHAR) || ':' || CAST(u.v AS VARCHAR)")}
                   % $RingMod AS pos
          FROM range(8) t(s), range(16) u(v)),
        ring_b AS (
          SELECT t.s AS shard,
                 ${TextOps.hash60Duck("'ring:' || CAST(t.s AS VARCHAR) || ':' || CAST(u.v AS VARCHAR)")}
                   % $RingMod AS pos
          FROM range(9) t(s), range(16) u(v)),
        keys AS (
          SELECT ${TextOps.hash60Duck("'key:' || CAST(o_orderkey AS VARCHAR)")} % $RingMod AS kpos
          FROM orders),
        assigned AS (
          SELECT ${ownerExprDuck("k.kpos", "ring_a")} AS shard_a,
                 ${ownerExprDuck("k.kpos", "ring_b")} AS shard_b
          FROM keys k)
        SELECT CAST(shard_b AS INTEGER) AS shard,
               CAST(count(*) AS BIGINT) AS n_keys,
               CAST(SUM(CASE WHEN shard_a <> shard_b THEN 1 ELSE 0 END) AS BIGINT)
                 AS n_gained
        FROM assigned GROUP BY 1 ORDER BY shard""")),

    QueryDef(
      "q431_sprt_sequential_test",
      (s, d) => {
        import org.apache.spark.sql.expressions.Window
        val succ = s"(${TextOps.hash60Spark("concat('sprt:', cast(event_id as string))")} % 100) < " +
          "(CASE WHEN length(event_type) % 2 = 0 THEN 60 ELSE 50 END)"
        val w = Window.partitionBy("event_type").orderBy(col("ts"), col("event_id"))
        val walk = Tables(s, d, "events")
          .selectExpr("event_type AS arm", "ts", "event_id",
            s"CASE WHEN $succ THEN ${SInc}L ELSE ${FInc}L END AS inc")
          .withColumn("n", row_number().over(
            Window.partitionBy("arm").orderBy(col("ts"), col("event_id"))))
          .withColumn("cum", sum("inc").over(
            Window.partitionBy("arm").orderBy(col("ts"), col("event_id"))
              .rowsBetween(Window.unboundedPreceding, 0)))
          .localCheckpoint() // decision agg + lookup join both read it
        val dec = walk.groupBy("arm").agg(
          min(when(col("cum") >= UpperA || col("cum") <= LowerB, col("n")))
            .as("n_dec"),
          max("n").as("n_total"))
          .selectExpr("arm", "CAST(coalesce(n_dec, n_total) AS BIGINT) AS n_used")
        dec.join(walk.select(col("arm").as("warm"), col("n"), col("cum")),
            col("arm") === col("warm") && col("n") === col("n_used"))
          .selectExpr("arm",
            s"""CASE WHEN cum >= ${UpperA}L THEN 'reject_h0'
                     WHEN cum <= ${LowerB}L THEN 'accept_h0'
                     ELSE 'continue' END AS decision""",
            "n_used", "cum AS llr_micro")
          .orderBy("arm")
      },
      Some(s"""
        WITH walk AS (
          SELECT event_type AS arm, ts, event_id,
                 row_number() OVER (PARTITION BY event_type ORDER BY ts, event_id) AS n,
                 sum(CASE WHEN (${TextOps.hash60Duck("'sprt:' || CAST(event_id AS VARCHAR)")} % 100) <
                            (CASE WHEN length(event_type) % 2 = 0 THEN 60 ELSE 50 END)
                     THEN $SInc ELSE $FInc END)
                   OVER (PARTITION BY event_type ORDER BY ts, event_id
                         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
          FROM events),
        dec AS (
          SELECT arm,
                 coalesce(min(CASE WHEN cum >= $UpperA OR cum <= $LowerB THEN n END),
                          max(n)) AS n_used
          FROM walk GROUP BY arm)
        SELECT d.arm,
               CASE WHEN w.cum >= $UpperA THEN 'reject_h0'
                    WHEN w.cum <= $LowerB THEN 'accept_h0'
                    ELSE 'continue' END AS decision,
               CAST(d.n_used AS BIGINT) AS n_used,
               CAST(w.cum AS BIGINT) AS llr_micro
        FROM dec d JOIN walk w ON w.arm = d.arm AND w.n = d.n_used
        ORDER BY d.arm""")),
  )
}
