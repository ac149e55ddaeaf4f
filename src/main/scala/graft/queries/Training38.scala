package graft.queries

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.{QueryDef, Tables}
import graft.Num.{halfUpDuck, halfUpSpark}
import graft.operators.TextOps.{hash60Duck, hash60Spark}

/** Thirty-eighth wave — local privacy, fairness, verification, LTV:
  *
  *  - q278: randomized-response debiasing — the local-DP estimation
  *    loop (the collection side of q240's central-DP release).
  *  - q279: group-fairness report — demographic parity / TPR / FPR
  *    per customer segment for a rule classifier.
  *  - q280: Merkle-style bucketed dataset digest — q164's single
  *    digest made INCREMENTALLY verifiable (a change touches one
  *    bucket digest + the root, not the whole table).
  *  - q281: cohort LTV curves — cumulative per-user revenue by cohort
  *    age (the value dimension q87's retention matrix lacks).
  */
object Training38 {
  val defs: Seq[QueryDef] = Seq(

    // ---- randomized response: each doc reports its sensitive bit
    // (lang = 'en') truthfully with p = 3/4, flipped otherwise (the
    // flip is a deterministic hash coin, so the whole mechanism is
    // engine-exact), and the aggregate debiases the reported rate:
    // π̂ = (p̂ − 1/4)/(1/2) = (4·rep − n)/(2n). The in-bound flag is
    // the 3σ envelope in EXACT integer form — (π̂−π)²·n ≤ 9e12 — so
    // the oracle recomputes estimate AND flag. One map-side agg.
    QueryDef(
      "q278_randomized_response",
      (s, d) =>
        Tables(s, d, "documents")
          .select(
            when(col("lang") === "en", 1L).otherwise(0L).as("tru"),
            (expr(hash60Spark("concat('rr:', doc_id)")) % 4 === 0).as("flip"))
          .withColumn("rep",
            when(col("flip"), lit(1L) - col("tru")).otherwise(col("tru")))
          .agg(count(lit(1)).as("n"), sum("tru").as("n_true_pos"),
            sum("rep").as("n_rep_pos"))
          .select(
            col("n"), col("n_true_pos"), col("n_rep_pos"),
            expr(halfUpSpark("1000000 * n_true_pos", "n")).as("pi_true_ppm"),
            expr(halfUpSpark("(4 * n_rep_pos - n) * 1000000", "2 * n")).as("pi_est_ppm"))
          .withColumn("rr_ok", expr(
            """(pi_est_ppm - pi_true_ppm) * (pi_est_ppm - pi_true_ppm) * n
               <= 9000000000000L""")),
      Some(s"""
        WITH r AS (
          SELECT CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS tru,
                 CASE WHEN ${hash60Duck("'rr:' || doc_id")} % 4 = 0
                      THEN 1 - CASE WHEN lang = 'en' THEN 1 ELSE 0 END
                      ELSE CASE WHEN lang = 'en' THEN 1 ELSE 0 END END AS rep
          FROM documents),
        a AS (
          SELECT count(*) AS n,
                 CAST(sum(tru) AS BIGINT) AS n_true_pos,
                 CAST(sum(rep) AS BIGINT) AS n_rep_pos
          FROM r),
        b AS (
          SELECT n, n_true_pos, n_rep_pos,
                 ${halfUpDuck("1000000 * n_true_pos", "n")} AS pi_true_ppm,
                 ${halfUpDuck("(4 * n_rep_pos - n) * 1000000", "2 * n")} AS pi_est_ppm
          FROM a)
        SELECT n, n_true_pos, n_rep_pos, pi_true_ppm, pi_est_ppm,
               (pi_est_ppm - pi_true_ppm) * (pi_est_ppm - pi_true_ppm) * n
                 <= 9000000000000 AS rr_ok
        FROM b"""),
    ),

    // ---- group-fairness report: for the rule classifier
    // ŷ = (o_totalprice > 150000) against outcome y = (status = 'F'),
    // per customer market segment: selection rate (demographic
    // parity), TPR and FPR (equalized odds), and the signed parity
    // gap vs the overall selection rate — all exact ppm. Scale shape:
    // dims broadcast (the q03 join), ONE keyed agg, overall rate a
    // broadcast scalar.
    QueryDef(
      "q279_fairness_report",
      (s, d) => {
        val o = Tables(s, d, "orders")
          .select(col("o_custkey"),
            (col("o_totalprice") > 150000.0).cast("long").as("yhat"),
            (col("o_orderstatus") === "F").cast("long").as("y"))
        val c = Tables(s, d, "customer").select("c_custkey", "c_mktsegment")
        val base = o.join(broadcast(c), col("o_custkey") === col("c_custkey"))
        val g = base.groupBy("c_mktsegment")
          .agg(
            count(lit(1)).as("n"),
            sum("yhat").as("sel"),
            sum(when(col("y") === 1, col("yhat")).otherwise(0L)).as("tp"),
            sum(when(col("y") === 1, 1L).otherwise(0L)).as("pos"),
            sum(when(col("y") === 0, col("yhat")).otherwise(0L)).as("fp"),
            sum(when(col("y") === 0, 1L).otherwise(0L)).as("neg"))
        val overall = base.agg(
          expr(halfUpSpark("1000000 * sum(yhat)", "count(1)")).as("overall_sel_ppm"))
        g.crossJoin(broadcast(overall))
          .select(
            col("c_mktsegment"), col("n"),
            expr(halfUpSpark("1000000 * sel", "n")).as("sel_ppm"),
            expr(halfUpSpark("1000000 * tp", "pos")).as("tpr_ppm"),
            expr(halfUpSpark("1000000 * fp", "neg")).as("fpr_ppm"),
            (expr(halfUpSpark("1000000 * sel", "n")) - col("overall_sel_ppm"))
              .as("parity_gap_ppm"))
          .orderBy("c_mktsegment")
      },
      Some(s"""
        WITH base AS (
          SELECT c_mktsegment,
                 CASE WHEN o_totalprice > 150000.0 THEN 1 ELSE 0 END AS yhat,
                 CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END AS y
          FROM orders JOIN customer ON o_custkey = c_custkey),
        g AS (
          SELECT c_mktsegment, count(*) AS n,
                 CAST(sum(yhat) AS BIGINT) AS sel,
                 CAST(sum(CASE WHEN y = 1 THEN yhat ELSE 0 END) AS BIGINT) AS tp,
                 CAST(sum(y) AS BIGINT) AS pos,
                 CAST(sum(CASE WHEN y = 0 THEN yhat ELSE 0 END) AS BIGINT) AS fp,
                 CAST(sum(1 - y) AS BIGINT) AS neg
          FROM base GROUP BY 1),
        ov AS (
          SELECT ${halfUpDuck("1000000 * CAST(sum(yhat) AS BIGINT)", "count(*)")}
                   AS overall_sel_ppm
          FROM base)
        SELECT c_mktsegment, n,
               ${halfUpDuck("1000000 * sel", "n")} AS sel_ppm,
               ${halfUpDuck("1000000 * tp", "pos")} AS tpr_ppm,
               ${halfUpDuck("1000000 * fp", "neg")} AS fpr_ppm,
               ${halfUpDuck("1000000 * sel", "n")} - overall_sel_ppm
                 AS parity_gap_ppm
        FROM g, ov ORDER BY c_mktsegment"""),
    ),

    // ---- Merkle-style bucketed digest: every row hashes its content,
    // rows fold into 64 key-bucketed COMMUTATIVE digests (sum mod
    // 2^61−1 — order/partitioning invariant), and the root hashes the
    // ordered bucket-digest string. q164 proves one digest; this
    // makes verification INCREMENTAL — after an upsert to bucket b,
    // only b's digest and the 64-entry root recompute, which is how
    // two 100 TB replicas diff in O(changed buckets). One map-side
    // keyed agg + dictionary root.
    QueryDef(
      "q280_merkle_digest",
      (s, d) => {
        val rows = Tables(s, d, "lineitem")
          .select(
            pmod(col("l_orderkey"), lit(64)).as("bucket"),
            expr(hash60Spark(
              "concat(l_orderkey, ':', l_linenumber, ':', CAST(round(l_quantity) AS BIGINT))"))
              .as("h"))
        val buckets = rows.groupBy("bucket")
          .agg(count(lit(1)).as("n_rows"),
            // exact decimal accumulate (a BIGINT sum of 60-bit hashes
            // overflows), then one modulus — scale-independent
            expr("CAST(sum(CAST(h AS DECIMAL(38,0))) % 2305843009213693951L AS BIGINT)")
              .as("digest"))
          .localCheckpoint(true) // 64-row dictionary: root + report
        val root = buckets.agg(
          expr(hash60Spark(
            """array_join(transform(sort_array(collect_list(struct(bucket, digest))),
                 p -> concat(p.bucket, '=', p.digest)), ',')"""))
            .as("root_digest"))
        buckets.crossJoin(broadcast(root))
          .select("bucket", "n_rows", "digest", "root_digest")
          .orderBy("bucket")
      },
      Some(s"""
        WITH rows0 AS (
          SELECT l_orderkey % 64 AS bucket,
                 ${hash60Duck(
                   "l_orderkey || ':' || l_linenumber || ':' || CAST(round(l_quantity) AS BIGINT)")} AS h
          FROM lineitem),
        buckets AS (
          SELECT bucket, count(*) AS n_rows,
                 CAST(sum(CAST(h AS HUGEINT)) % 2305843009213693951 AS BIGINT) AS digest
          FROM rows0 GROUP BY 1),
        root AS (
          SELECT ${hash60Duck(
                   "string_agg(bucket || '=' || digest, ',' ORDER BY bucket)")}
                   AS root_digest
          FROM buckets)
        SELECT bucket, n_rows, digest, root_digest
        FROM buckets, root ORDER BY bucket"""),
    ),

    // ---- cohort LTV: users cohort by first-event week; cumulative
    // purchase value per cohort age divided by cohort size = the
    // per-user LTV curve (the value dimension next to q87's retention
    // counts). All micro-exact; the cumulative window is KEYED by
    // cohort and runs over the week dictionary.
    QueryDef(
      "q281_cohort_ltv",
      (s, d) => {
        val ev = Tables(s, d, "events")
          .select(col("user_id"), to_date(col("ts")).as("day"),
            col("event_type"),
            expr("CAST(round(value * 1000000) AS BIGINT)").as("v6"))
          .withColumn("week",
            // sign-safe floor division (Spark `div` truncates toward
            // zero; DuckDB `//` floors) — keeps the two engines on the
            // same week bucket for any event timestamped before the
            // 2024-01-01 epoch.
            expr("CASE WHEN datediff(day, DATE '2024-01-01') >= 0" +
              " THEN datediff(day, DATE '2024-01-01') div 7" +
              " ELSE -((-datediff(day, DATE '2024-01-01') + 6) div 7) END"))
        val cohort = ev.groupBy("user_id").agg(min("week").as("cohort_week"))
        val sizes = cohort.groupBy("cohort_week").agg(count(lit(1)).as("n_users"))
        val rev = ev.join(broadcast(cohort), Seq("user_id"))
          .filter(col("event_type") === "purchase")
          .withColumn("age_week", col("week") - col("cohort_week"))
          .groupBy("cohort_week", "age_week")
          .agg(sum("v6").as("rev6"))
        rev
          .withColumn("cum_rev_micro", sum("rev6").over(
            Window.partitionBy("cohort_week").orderBy("age_week")
              .rowsBetween(Window.unboundedPreceding, 0)))
          .join(broadcast(sizes), Seq("cohort_week"))
          .select(col("cohort_week"), col("age_week"), col("n_users"),
            col("cum_rev_micro"),
            expr(halfUpSpark("cum_rev_micro", "n_users")).as("ltv_micro"))
          .orderBy("cohort_week", "age_week")
      },
      Some(s"""
        WITH ev AS (
          SELECT user_id, CAST(ts AS DATE) AS day, event_type,
                 CAST(round(value * 1000000) AS BIGINT) AS v6,
                 (CAST(ts AS DATE) - DATE '2024-01-01') // 7 AS week
          FROM events),
        cohort AS (
          SELECT user_id, min(week) AS cohort_week FROM ev GROUP BY 1),
        sizes AS (
          SELECT cohort_week, count(*) AS n_users FROM cohort GROUP BY 1),
        rev AS (
          SELECT cohort_week, ev.week - cohort_week AS age_week,
                 CAST(sum(v6) AS BIGINT) AS rev6
          FROM ev JOIN cohort USING (user_id)
          WHERE event_type = 'purchase'
          GROUP BY 1, 2),
        cum AS (
          SELECT cohort_week, age_week,
                 CAST(sum(rev6) OVER (PARTITION BY cohort_week ORDER BY age_week)
                      AS BIGINT) AS cum_rev_micro
          FROM rev)
        SELECT cohort_week, age_week, n_users, cum_rev_micro,
               ${halfUpDuck("cum_rev_micro", "n_users")} AS ltv_micro
        FROM cum JOIN sizes USING (cohort_week)
        ORDER BY cohort_week, age_week"""),
    ),
  )
}
