package graft.queries

import org.apache.commons.io.FileUtils
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.{QueryDef, Tables}
import graft.operators.{Similarity, VectorOps}

/** Eighty-third wave — index lifecycle, causal attribution, and
  * reporting primitives:
  *
  *  - q413: INCREMENTAL ANN index insert — v0 is built on 80% of the
  *    corpus, the late 20% is inserted WITHOUT refitting (assigned to
  *    the nearest stored centroid — `Similarity.insertIntoIvfIndex`,
  *    the production fast path between periodic rebuilds), and the
  *    probe runs against v1. Full-probe identity keeps the stored
  *    path hash-oracled; a missing insert would drop the late vectors
  *    from the results and fail the oracle. Completes the index
  *    lifecycle: build (q296) → probe → insert → time travel.
  *  - q414: Markov removal-effect attribution (Anderl et al. shape) —
  *    channel credit = how much absorption-to-purchase from the
  *    'view' entry state is LOST when the channel's transitions are
  *    removed (no renormalization: interrupted journeys don't
  *    convert). The causal successor to q151's positional and q267's
  *    Shapley credit, on q283's exact integer chain machinery.
  *  - q415: top-N + OTHER rollup — the ubiquitous dashboard shape:
  *    top-5 parts by exact revenue keep their identity, the long tail
  *    collapses into one OTHER row that preserves the total (rank
  *    over the part DICTIONARY, never the fact).
  */
object Training83 {
  val defs: Seq[QueryDef] = Seq(

    QueryDef(
      "q413_ann_index_incremental",
      (s, d) => {
        val root = java.nio.file.Paths.get(
          sys.props("java.io.tmpdir"),
          s"graft_ivfinc_${Integer.toHexString(d.hashCode)}").toString
        FileUtils.deleteQuietly(new java.io.File(root))
        val emb = Tables(s, d, "embeddings")
          .withColumn("vec", expr("transform(embedding, x -> cast(x as double))"))
          .select("vec_id", "vec")
        Similarity.buildIvfIndex(emb.filter(pmod(col("vec_id"), lit(5)) =!= 0),
          "vec_id", "vec", root, version = 0L, nlist = 8)
        Similarity.insertIntoIvfIndex(root,
          emb.filter(pmod(col("vec_id"), lit(5)) === 0), "vec_id", "vec")
        Similarity.probeIvfIndex(root,
          emb.filter(pmod(col("vec_id"), lit(100)) === 0),
          "vec_id", "vec", k = 3, nprobe = 8)
      },
      Some {
        val cos = VectorOps.cosineDuck("q.vec", "c.vec")
        s"""
        WITH emb AS (
          SELECT vec_id,
                 list_transform(embedding, x -> CAST(x AS DOUBLE)) AS vec
          FROM embeddings),
        q AS (SELECT vec_id, vec FROM emb WHERE vec_id % 100 = 0),
        sims AS (
          SELECT q.vec_id AS query_id, c.vec_id AS cand_id,
                 round($cos, 4) AS cos_sim
          FROM q, emb c WHERE c.vec_id != q.vec_id)
        SELECT query_id, cand_id, cos_sim, rnk FROM (
          SELECT query_id, cand_id, cos_sim,
                 CAST(row_number() OVER (PARTITION BY query_id
                   ORDER BY cos_sim DESC, cand_id) AS INT) AS rnk
          FROM sims) t
        WHERE rnk <= 3"""
      }),

    QueryDef(
      "q414_markov_removal_attribution",
      (s, d) => {
        val ev = Tables(s, d, "events")
          .select(col("user_id"), to_date(col("ts")).as("day"),
            col("ts"), col("event_id"), col("event_type"))
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy("user_id", "day").orderBy(col("ts"), col("event_id"))
        val trans = ev
          .withColumn("nxt", lead("event_type", 1).over(w))
          .filter(col("nxt").isNotNull)
          .groupBy(col("event_type").as("s0"), col("nxt").as("t0"))
          .agg(count(lit(1)).as("c"))
          .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2)))
        val outMass = trans.groupBy(_._1).view.mapValues(_.map(_._3).sum).toMap
        def halfUp(x: Long, n: Long): Long = (2 * x + n) / (2 * n)
        val p = trans.map { case (a, b, c) =>
          (a, b) -> halfUp(1000000L * c, outMass(a))
        }.toMap
        val states = Seq("click", "error", "purchase", "signup", "view")
        // absorption after 10 rounds with transitions through `removed`
        // dropped (mass lost, not renormalized)
        def absorb(removed: Option[String]): Long = {
          var a = states.map(st =>
            st -> (if (st == "purchase") 1000000L else 0L)).toMap
          for (_ <- 1 to 10) {
            a = states.map { st =>
              if (st == "purchase") st -> 1000000L
              else if (removed.contains(st)) st -> 0L
              else st -> halfUp(
                states.map { t2 =>
                  if (removed.contains(t2)) 0L
                  else p.getOrElse((st, t2), 0L) * a(t2)
                }.sum, 1000000L)
            }.toMap
          }
          a("view")
        }
        val base = absorb(None)
        import s.implicits._
        val rows = ("_base", base, 0L) +:
          Seq("click", "error", "signup").map { ch =>
            val without = absorb(Some(ch))
            (ch, without, halfUp(1000000L * (base - without), base))
          }
        rows.toDF("channel", "absorb_view_micro", "removal_effect_ppm")
          .orderBy("channel")
      },
      Some {
        def halfUpDuck(x: String, n: String): String =
          s"(2 * ($x) + ($n)) // (2 * ($n))"
        val states = Seq("click", "error", "purchase", "signup", "view")
        def chain(pfx: String, removed: Option[String]): String = {
          val init = s"""${pfx}a0 AS (
            SELECT state, CASE WHEN state = 'purchase' THEN 1000000
                          ELSE 0 END AS absorb FROM st)"""
          val stages = (1 to 10).map { i =>
            val removedGuard = removed
              .map(ch => s"AND p.s0 != '$ch' AND p.t0 != '$ch'")
              .getOrElse("")
            s"""${pfx}a$i AS MATERIALIZED (
              SELECT st.state,
                     CASE WHEN st.state = 'purchase' THEN 1000000
                          ${removed.map(ch =>
                            s"WHEN st.state = '$ch' THEN 0").getOrElse("")}
                          ELSE ${halfUpDuck(
                            s"""CAST(coalesce((SELECT sum(p.p_micro * prev.absorb)
                                 FROM p JOIN ${pfx}a${i - 1} prev
                                   ON prev.state = p.t0
                                 WHERE p.s0 = st.state $removedGuard), 0)
                               AS BIGINT)""", "1000000")}
                     END AS absorb
              FROM st)"""
          }
          (init +: stages).mkString(",\n")
        }
        s"""
        WITH r AS (
          SELECT user_id, CAST(ts AS DATE) AS day, event_type, ts, event_id,
                 lead(event_type) OVER (PARTITION BY user_id, CAST(ts AS DATE)
                                        ORDER BY ts, event_id) AS nxt
          FROM events),
        trans AS (
          SELECT event_type AS s0, nxt AS t0, count(*) AS c
          FROM r WHERE nxt IS NOT NULL GROUP BY 1, 2),
        om AS (SELECT s0, CAST(sum(c) AS BIGINT) AS m FROM trans GROUP BY 1),
        p AS (
          SELECT trans.s0, trans.t0,
                 ${halfUpDuck("1000000 * trans.c", "om.m")} AS p_micro
          FROM trans JOIN om ON om.s0 = trans.s0),
        st AS (SELECT unnest(${states.map(s0 => s"'$s0'")
            .mkString("[", ", ", "]")}) AS state),
        ${chain("b", None)},
        ${chain("rc", Some("click"))},
        ${chain("re", Some("error"))},
        ${chain("rs", Some("signup"))},
        base AS (SELECT absorb AS v FROM ba10 WHERE state = 'view'),
        res AS (
          SELECT '_base' AS channel, base.v AS absorb_view_micro,
                 CAST(0 AS BIGINT) AS removal_effect_ppm FROM base
          UNION ALL
          SELECT 'click', w.absorb,
                 ${halfUpDuck("1000000 * (base.v - w.absorb)", "base.v")}
          FROM (SELECT absorb FROM rca10 WHERE state = 'view') w, base
          UNION ALL
          SELECT 'error', w.absorb,
                 ${halfUpDuck("1000000 * (base.v - w.absorb)", "base.v")}
          FROM (SELECT absorb FROM rea10 WHERE state = 'view') w, base
          UNION ALL
          SELECT 'signup', w.absorb,
                 ${halfUpDuck("1000000 * (base.v - w.absorb)", "base.v")}
          FROM (SELECT absorb FROM rsa10 WHERE state = 'view') w, base)
        SELECT channel, CAST(absorb_view_micro AS BIGINT)
                 AS absorb_view_micro,
               CAST(removal_effect_ppm AS BIGINT) AS removal_effect_ppm
        FROM res ORDER BY channel"""
      }),

    QueryDef(
      "q415_topn_other_rollup",
      (s, d) => {
        import org.apache.spark.sql.expressions.Window
        val perPart = Tables(s, d, "lineitem")
          .groupBy(col("l_partkey"))
          .agg(sum(expr("CAST(round(l_extendedprice * 100, 0) AS BIGINT)"))
            .as("cents"), count(lit(1)).as("n_lines"))
          .localCheckpoint(true) // top-5 pick + join side share one scan
        // only the top-5 ever need a rank: TakeOrdered the 5 winners
        // (never a global row_number over the part dimension — the q292
        // class) and broadcast them back; the 5-row window is bounded
        val top5 = perPart
          .orderBy(col("cents").desc, col("l_partkey")).limit(5)
          .withColumn("rnk",
            row_number().over(Window.orderBy(col("cents").desc,
              col("l_partkey"))))
          .select(col("l_partkey"), col("rnk"))
        val ranked = perPart.join(broadcast(top5), Seq("l_partkey"), "left")
        ranked
          .selectExpr(
            """CASE WHEN rnk <= 5 THEN CAST(l_partkey AS STRING)
               ELSE 'OTHER' END AS label""",
            "cents", "n_lines",
            "CASE WHEN rnk <= 5 THEN rnk ELSE 6 END AS sort_rnk")
          .groupBy("label", "sort_rnk")
          .agg(sum("cents").as("cents"), sum("n_lines").as("n_lines"))
          .select("label", "cents", "n_lines")
          .orderBy(col("sort_rnk"), col("label"))
      },
      Some("""
        WITH per AS (
          SELECT l_partkey,
                 SUM(CAST(round(l_extendedprice * 100, 0) AS BIGINT))
                   AS cents,
                 count(*) AS n_lines
          FROM lineitem GROUP BY 1),
        ranked AS (
          SELECT *, row_number() OVER (ORDER BY cents DESC, l_partkey)
                   AS rnk
          FROM per)
        SELECT label, CAST(sum(cents) AS BIGINT) AS cents,
               CAST(sum(n_lines) AS BIGINT) AS n_lines
        FROM (
          SELECT CASE WHEN rnk <= 5 THEN CAST(l_partkey AS VARCHAR)
                      ELSE 'OTHER' END AS label,
                 cents, n_lines,
                 CASE WHEN rnk <= 5 THEN rnk ELSE 6 END AS sort_rnk
          FROM ranked) t
        GROUP BY label, sort_rnk
        ORDER BY sort_rnk, label""")),
  )
}
