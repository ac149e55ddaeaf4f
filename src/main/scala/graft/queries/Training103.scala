package graft.queries

import org.apache.spark.sql.DataFrame

import graft.{Iterate, QueryDef, Tables}

/** Hundred-third wave — learning and pricing machinery:
  *
  *  - q469: batch perceptron in exact integer arithmetic — 6 full-batch
  *    epochs over micro-unit (round(x·10⁶)) embedding features (dims
  *    1–8 + bias), target y = ±1 from the label's parity. Each epoch is
  *    ONE aggregation (margin under the epoch's weights, summed
  *    misclassified y·x update), so an epoch costs a scan regardless of
  *    corpus size; weights stay ≪ 2⁶³ up to ~10⁸ rows (beyond that,
  *    normalize the update by the row count — same fixpoint). Per-epoch
  *    misclassification counts are the learning curve, emitted as rows.
  *  - q470: item-item collaborative filtering — co-purchase cosine² in
  *    exact ppm (c²·10⁶ / (n_a·n_b), monotone in cosine so rankings are
  *    float-free), top-3 recommendations per low-key customer excluding
  *    already-owned parts. The co-occurrence self-join is per-order
  *    bounded AND capped (deterministic per-basket top-`CfBasketCap`
  *    items, mirrored in both dialects — the hot-shingle recipe, so one
  *    10⁴-item basket can no longer square); candidate generation is
  *    per-user bounded by owned-items × neighbors.
  *  - q471: tiered (bracket) billing — progressive marginal rates
  *    applied to per-customer usage with exact integer bracket clamps,
  *    rolled up by usage decile; the blended average rate is
  *    non-increasing in usage by construction (spec-pinned law).
  */
object Training103 {
  // ---------------------------------------------------------------- q469

  private val PDIMS = 8

  /** Micro-unit feature rows: y = ±1, x0 = bias (10⁶), x1..x8 = dims. */
  private def pcptDataSql(spark: Boolean, embRel: String): String = {
    def elem(k: Int) =
      if (spark) s"CAST(round(CAST(element_at(embedding, $k) AS DOUBLE) * 1000000, 0) AS BIGINT)"
      else s"CAST(round(CAST(embedding[$k] AS DOUBLE) * 1000000) AS BIGINT)"
    val xs = (1 to PDIMS).map(k => s"${elem(k)} AS x$k").mkString(",\n               ")
    s"""
        SELECT CASE WHEN label % 2 = 0 THEN CAST(1 AS BIGINT)
                    ELSE CAST(-1 AS BIGINT) END AS y,
               CAST(1000000 AS BIGINT) AS x0,
               $xs
        FROM $embRel"""
  }

  /** One batch epoch: n_err under the incoming weights, weights updated
    * by the summed misclassified y·x (learning rate 1).
    */
  private def pcptEpochSql(dataRel: String, stateRel: String): String = {
    val margin = (0 to PDIMS).map(k => s"st.w$k * d.x$k").mkString(" + ")
    val upd = (0 to PDIMS).map(k =>
      s"CAST(max(w$k) + coalesce(sum(CASE WHEN y * marg <= 0 THEN y * x$k END), 0) AS BIGINT) AS w$k")
      .mkString(",\n             ")
    s"""
      SELECT CAST(max(ep) + 1 AS BIGINT) AS ep,
             CAST(sum(CASE WHEN y * marg <= 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_err,
             $upd
      FROM (
        SELECT d.y, ${(0 to PDIMS).map(k => s"d.x$k").mkString(", ")},
               st.ep, ${(0 to PDIMS).map(k => s"st.w$k").mkString(", ")},
               $margin AS marg
        FROM $dataRel d CROSS JOIN $stateRel st) t"""
  }

  private def pcptInitSql: String =
    s"""SELECT CAST(0 AS BIGINT) AS ep, CAST(0 AS BIGINT) AS n_err,
               ${(0 to PDIMS).map(k => s"CAST(0 AS BIGINT) AS w$k").mkString(", ")}"""

  // ---------------------------------------------------------------- q470

  /** Per-basket contribution cap for the q470 co-occurrence self-join
    * (the HotShingleCap recipe, `Dedup.cappedPostings`): each order
    * contributes at most this many items to the co-occurrence and
    * item-count statistics, selected DETERMINISTICALLY (lowest part
    * keys first), so both dialects replay the identical cap and the
    * query stays hash-oracled with the cap ACTIVE. Without it one hot
    * basket of k items contributes k² pair rows — Σk² squares on
    * skewed corpora (a 10⁴-item order at 100× is 10⁸ pairs from one
    * key). With it the per-basket mass is ≤ cap², corpus-size-
    * independent. Harness baskets are ≤7 items so the cap does not
    * bind at any tested SF; PlantedHotBasket spec pins the collapse.
    * The full (uncapped) basket set still defines `owned` — what a
    * user already has is exact; only the SIMILARITY statistics are
    * cap-sampled, the standard trade in item-CF at scale.
    */
  private val CfBasketCap = 64

  /** Capped baskets straight off lineitem: the orders join contributes
    * only the customer key, which the similarity statistics never use
    * (every lineitem's order exists — harness FK integrity — so the
    * join never drops basket rows either); keeping the fact-table pass
    * join-free leaves ONE shuffle (the per-basket rank) before the
    * pair join.
    */
  private def cfOpcSql(lineitemRel: String): String =
    s"""SELECT ok, p FROM (
          SELECT ok, p,
                 row_number() OVER (PARTITION BY ok ORDER BY p) AS rn
          FROM (SELECT DISTINCT l_orderkey AS ok, l_partkey AS p
                FROM $lineitemRel) t0) t
        WHERE rn <= $CfBasketCap"""

  /** The per-user ownership census: the `u <= 20` cohort predicate is
    * pushed into the orders scan, so this is a broadcast-friendly
    * selective join — never a corpus-ranking pass.
    */
  private def cfOwnedSql(lineitemRel: String, ordersRel: String): String =
    s"""SELECT DISTINCT o.o_custkey AS u, l.l_partkey AS p
        FROM $lineitemRel l JOIN $ordersRel o ON o.o_orderkey = l.l_orderkey
        WHERE o.o_custkey <= 20"""

  private def cfNSql(opcRel: String): String =
    s"""SELECT p, CAST(count(DISTINCT ok) AS BIGINT) AS np
        FROM $opcRel GROUP BY p"""

  /** Similarity + recommendation stages over pre-staged `opc` (capped
    * baskets), `owned` (the query's 20-customer cohort), and `n`
    * (global item counts). Only co-occurrence rows whose LEFT item is
    * owned by someone in the cohort can ever reach a recommendation,
    * so that predicate is pushed INTO the pair enumeration: the a-side
    * joins the owned-part dictionary before pairing, cutting the pair
    * stream from Σk² to (cohort items per basket)·k while every count
    * c(pa,pb) stays the exact global statistic (it is a per-basket
    * count, not a share of the enumeration). Output is bit-identical
    * to the unrestricted form — the hash oracle stays green. This is
    * the production recommender shape: candidate generation scoped to
    * the requesting cohort's neighborhoods, statistics global.
    */
  private def cfRestSql(spark: Boolean, opcRel: String,
      ownedRel: String, nRel: String): String = {
    val mat = if (spark) "" else "MATERIALIZED "
    val idiv = if (spark) "div" else "//"
    s"""
      cooc AS $mat(
        SELECT a.p AS pa, b.p AS pb, CAST(count(*) AS BIGINT) AS c
        FROM $opcRel a
        JOIN (SELECT DISTINCT p FROM $ownedRel) w ON w.p = a.p
        JOIN $opcRel b ON b.ok = a.ok AND b.p <> a.p
        GROUP BY a.p, b.p),
      sim AS $mat(
        SELECT co.pa, co.pb,
               CAST((co.c * co.c * 1000000) $idiv (na.np * nb.np) AS BIGINT)
                 AS sim2_ppm
        FROM cooc co
        JOIN $nRel na ON na.p = co.pa
        JOIN $nRel nb ON nb.p = co.pb),
      owned AS (SELECT u, p FROM $ownedRel),
      cand AS $mat(
        SELECT ow.u, s.pb AS rec,
               CAST(max(s.sim2_ppm) AS BIGINT) AS score_ppm
        FROM owned ow
        JOIN sim s ON s.pa = ow.p
        LEFT JOIN owned ow2 ON ow2.u = ow.u AND ow2.p = s.pb
        WHERE ow2.p IS NULL
        GROUP BY ow.u, s.pb)
      SELECT u AS custkey, rec AS part, score_ppm, CAST(rk AS BIGINT) AS rk
      FROM (SELECT u, rec, score_ppm,
                   row_number() OVER (PARTITION BY u
                     ORDER BY score_ppm DESC, rec) AS rk
            FROM cand) t
      WHERE rk <= 3 ORDER BY custkey, rk"""
  }

  // ---------------------------------------------------------------- q471

  /** Progressive marginal-rate brackets (cents per unit over the
    * bracket's span): [0,100)@50, [100,500)@40, [500,2000)@30, 2000+@20.
    */
  private def billingSql(spark: Boolean, lineitemRel: String, ordersRel: String,
      custRel: String): String = {
    val mat = if (spark) "" else "MATERIALIZED "
    val idiv = if (spark) "div" else "//"
    val brackets = Seq((0L, 100L, 50L), (100L, 500L, 40L), (500L, 2000L, 30L))
    val bracketTerms = brackets.map { case (lo, hi, r) =>
      s"$r * greatest(CAST(0 AS BIGINT), least(u, $hi) - $lo)"
    } :+ s"20 * greatest(CAST(0 AS BIGINT), u - 2000)"
    s"""
      WITH usage AS $mat(
        SELECT o.o_custkey AS u_key,
               CAST(sum(CAST(round(l.l_quantity, 0) AS BIGINT)) AS BIGINT) AS u
        FROM $lineitemRel l JOIN $ordersRel o ON o.o_orderkey = l.l_orderkey
        GROUP BY o.o_custkey),
      charged AS $mat(
        SELECT u_key, u,
               CAST(${bracketTerms.mkString(" + ")} AS BIGINT) AS charge_cents,
               ntile(10) OVER (ORDER BY u, u_key) AS decile
        FROM usage)
      SELECT CAST(decile AS BIGINT) AS decile,
             CAST(count(*) AS BIGINT) AS n_cust,
             CAST(sum(u) AS BIGINT) AS usage_units,
             CAST(sum(charge_cents) AS BIGINT) AS charge_cents,
             CAST((sum(charge_cents) * 1000000) $idiv sum(u) AS BIGINT)
               AS avg_rate_ppm
      FROM charged GROUP BY decile ORDER BY decile"""
  }

  val defs: Seq[QueryDef] = Seq(

    QueryDef(
      "q469_batch_perceptron",
      (s, d) => {
        Tables(s, d, "embeddings").createOrReplaceTempView("graft_pc_embeddings")
        val data = Iterate.ckpt(s.sql(
          pcptDataSql(spark = true, "graft_pc_embeddings")))
        data.createOrReplaceTempView("graft_pc_data")
        var state = Iterate.ckpt(s.sql(pcptInitSql).coalesce(1))
        val epochs = scala.collection.mutable.ArrayBuffer[DataFrame]()
        for (_ <- 1 to 6) {
          state.createOrReplaceTempView("graft_pc_state")
          state = Iterate.ckpt(s.sql(
            pcptEpochSql("graft_pc_data", "graft_pc_state")).coalesce(1))
          epochs += state
        }
        epochs.reduce(_ unionAll _).orderBy("ep")
      },
      Some {
        val epochs = (1 to 6).map(r =>
          s"e$r AS MATERIALIZED (${pcptEpochSql("data", s"e${r - 1}")})").mkString(",\n")
        s"""
          WITH data AS MATERIALIZED (${pcptDataSql(spark = false, "embeddings")}),
          e0 AS (${pcptInitSql}),
          $epochs
          ${(1 to 6).map(r => s"SELECT * FROM e$r").mkString(" UNION ALL ")}
          ORDER BY ep"""
      }),

    QueryDef(
      "q470_item_cf_recs",
      (s, d) => {
        Tables(s, d, "lineitem").createOrReplaceTempView("graft_cf_lineitem")
        Tables(s, d, "orders").createOrReplaceTempView("graft_cf_orders")
        val opc = Iterate.ckpt(s.sql(cfOpcSql("graft_cf_lineitem")))
        opc.createOrReplaceTempView("graft_cf_opc")
        val owned = Iterate.ckpt(s.sql(
          cfOwnedSql("graft_cf_lineitem", "graft_cf_orders")))
        owned.createOrReplaceTempView("graft_cf_owned")
        val n = Iterate.ckpt(s.sql(cfNSql("graft_cf_opc")))
        n.createOrReplaceTempView("graft_cf_n")
        s.sql("WITH " + cfRestSql(spark = true,
          "graft_cf_opc", "graft_cf_owned", "graft_cf_n"))
      },
      Some(s"""
        WITH opc AS MATERIALIZED (${cfOpcSql("lineitem")}),
        ownedm AS MATERIALIZED (${cfOwnedSql("lineitem", "orders")}),
        nm AS MATERIALIZED (${cfNSql("opc")}),
        ${cfRestSql(spark = false, "opc", "ownedm", "nm")}""")),

    QueryDef(
      "q471_tiered_billing",
      (s, d) => {
        Tables(s, d, "lineitem").createOrReplaceTempView("graft_tb_lineitem")
        Tables(s, d, "orders").createOrReplaceTempView("graft_tb_orders")
        Tables(s, d, "customer").createOrReplaceTempView("graft_tb_customer")
        s.sql(billingSql(spark = true,
          "graft_tb_lineitem", "graft_tb_orders", "graft_tb_customer"))
      },
      Some(billingSql(spark = false, "lineitem", "orders", "customer"))),
  )
}
