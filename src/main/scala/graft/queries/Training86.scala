package graft.queries

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.{QueryDef, Tables}

/** Eighty-sixth wave — privacy lattice search, SRE burn rates, and
  * multi-measure reshaping:
  *
  *  - q422: generalization-lattice search — pick the FINEST
  *    quasi-identifier grain that still satisfies k-anonymity (k=5):
  *    three candidate grains from fine to coarse are audited in one
  *    pass each (dictionary-sized group counts), and the chosen grain
  *    is the first whose minimum class size clears k. The decision
  *    step that turns q170's k-anonymity AUDIT into an actual
  *    anonymization plan.
  *  - q423: SLO burn-rate alerting — error-budget burn (observed
  *    error rate ÷ budget rate) over a short and a long window per
  *    day, alert when BOTH exceed the multiplier (the standard
  *    multi-window burn-rate rule that suppresses blips). Exact ppm
  *    integers over day/hour dictionaries.
  *  -  q424: multi-measure UNPIVOT — wide per-priority (cents, qty)
  *    measure PAIRS reshaped long in one statement (the
  *    measure-group form of q79/q262's single-measure unpivot).
  */
object Training86 {
  val defs: Seq[QueryDef] = Seq(

    QueryDef(
      "q422_generalization_lattice",
      (s, d) => {
        val base = Tables(s, d, "customer")
          .join(broadcast(Tables(s, d, "nation")),
            col("c_nationkey") === col("n_nationkey"))
          .selectExpr("n_name", "c_mktsegment",
            "CAST(round(c_acctbal, 0) AS BIGINT) div 1000 AS bal_k")
          .localCheckpoint() // all three grain audits read it
        def minClass(cols: Seq[String]): DataFrame =
          base.groupBy(cols.map(col): _*)
            .agg(count(lit(1)).as("n"))
            .agg(min("n").as("min_class"), count(lit(1)).as("n_classes"))
        val grains = Seq(
          ("1_nation_segment_balance", Seq("n_name", "c_mktsegment", "bal_k")),
          ("2_nation_segment", Seq("n_name", "c_mktsegment")),
          ("3_nation", Seq("n_name")))
        val audits = grains.map { case (name, cols) =>
          minClass(cols).selectExpr(s"'$name' AS grain",
            "min_class", "n_classes")
        }.reduce(_ unionByName _).localCheckpoint(true)
        val k = 5L
        // 3-row relation → the pick is driver-bounded; '_none' keeps
        // the report alive when NO grain satisfies k (tiny fixtures)
        val chosenName = audits.filter(col("min_class") >= k)
          .orderBy("grain").limit(1).collect()
          .headOption.map(_.getString(0)).getOrElse("_none")
        audits
          .withColumn("is_chosen", col("grain") === lit(chosenName))
          .select("grain", "min_class", "n_classes", "is_chosen")
          .orderBy("grain")
      },
      Some("""
        WITH base AS (
          SELECT n_name, c_mktsegment,
                 CAST(round(c_acctbal, 0) AS BIGINT) // 1000 AS bal_k
          FROM customer JOIN nation ON c_nationkey = n_nationkey),
        a1 AS (
          SELECT '1_nation_segment_balance' AS grain,
                 CAST(min(n) AS BIGINT) AS min_class,
                 CAST(count(*) AS BIGINT) AS n_classes
          FROM (SELECT count(*) AS n FROM base GROUP BY n_name,
                c_mktsegment, bal_k) g),
        a2 AS (
          SELECT '2_nation_segment',
                 CAST(min(n) AS BIGINT), CAST(count(*) AS BIGINT)
          FROM (SELECT count(*) AS n FROM base GROUP BY n_name,
                c_mktsegment) g),
        a3 AS (
          SELECT '3_nation',
                 CAST(min(n) AS BIGINT), CAST(count(*) AS BIGINT)
          FROM (SELECT count(*) AS n FROM base GROUP BY n_name) g),
        audits AS (SELECT * FROM a1 UNION ALL SELECT * FROM a2
                   UNION ALL SELECT * FROM a3),
        chosen AS (
          SELECT coalesce((SELECT grain FROM audits WHERE min_class >= 5
                           ORDER BY grain LIMIT 1), '_none') AS c)
        SELECT grain, min_class, n_classes, grain = chosen.c AS is_chosen
        FROM audits, chosen ORDER BY grain""")),

    QueryDef(
      "q423_slo_burn_rate",
      (s, d) => {
        // short window: per (day, hour); long window: per day; budget:
        // 2% error rate; alert when BOTH burn rates exceed 2×
        val ev = Tables(s, d, "events").selectExpr("to_date(ts) AS day",
          "hour(ts) AS hr",
          "CASE WHEN event_type = 'error' THEN 1L ELSE 0L END AS err")
          .localCheckpoint()
        val hourly = ev.groupBy("day", "hr")
          .agg(count(lit(1)).as("n"), sum("err").as("e"))
          .selectExpr("day", "hr",
            "(2 * 1000000 * e + n) div (2 * n) AS short_ppm")
        val daily = ev.groupBy("day")
          .agg(count(lit(1)).as("n"), sum("err").as("e"))
          .selectExpr("day", "(2 * 1000000 * e + n) div (2 * n) AS long_ppm")
        val budgetPpm = 20000L // 2%
        hourly.join(daily, "day")
          .withColumn("alert",
            col("short_ppm") > lit(2 * budgetPpm) &&
              col("long_ppm") > lit(2 * budgetPpm))
          .groupBy("day")
          .agg(max("long_ppm").as("long_ppm"),
            max("short_ppm").as("max_short_ppm"),
            sum(when(col("alert"), 1L).otherwise(0L)).as("n_alert_hours"))
          .orderBy("day")
      },
      Some("""
        WITH ev AS (
          SELECT CAST(ts AS DATE) AS day, hour(ts) AS hr,
                 CASE WHEN event_type = 'error' THEN 1 ELSE 0 END AS err
          FROM events),
        hourly AS (
          SELECT day, hr,
                 (2 * 1000000 * sum(err) + count(*)) // (2 * count(*))
                   AS short_ppm
          FROM ev GROUP BY 1, 2),
        daily AS (
          SELECT day,
                 (2 * 1000000 * sum(err) + count(*)) // (2 * count(*))
                   AS long_ppm
          FROM ev GROUP BY 1)
        SELECT day, CAST(max(long_ppm) AS BIGINT) AS long_ppm,
               CAST(max(short_ppm) AS BIGINT) AS max_short_ppm,
               CAST(SUM(CASE WHEN short_ppm > 40000 AND long_ppm > 40000
                    THEN 1 ELSE 0 END) AS BIGINT) AS n_alert_hours
        FROM hourly JOIN daily USING (day)
        GROUP BY day ORDER BY day""")),

    QueryDef(
      "q424_multi_measure_unpivot",
      (s, d) => {
        // build the wide frame (columns A_cents, A_qty, N_cents, …)
        // then UNPIVOT with measure GROUPS restores the long form
        Tables(s, d, "lineitem").selectExpr(
          "CAST(round(l_extendedprice * 100, 0) AS BIGINT) AS c0",
          "CAST(l_quantity AS BIGINT) AS q0",
          "l_returnflag")
          .groupBy().pivot("l_returnflag")
          .agg(sum("c0").as("cents"), sum("q0").as("qty"))
          .createOrReplaceTempView("graft_wide_mm2")
        s.sql("""
          SELECT flag, cents, qty FROM graft_wide_mm2
          UNPIVOT ((cents, qty) FOR flag IN (
            (A_cents, A_qty) AS `A`,
            (N_cents, N_qty) AS `N`,
            (R_cents, R_qty) AS `R`))
          ORDER BY flag""")
      },
      Some("""
        SELECT l_returnflag AS flag,
               CAST(SUM(CAST(round(l_extendedprice * 100, 0) AS BIGINT))
                 AS BIGINT) AS cents,
               CAST(SUM(CAST(l_quantity AS BIGINT)) AS BIGINT) AS qty
        FROM lineitem GROUP BY 1 ORDER BY flag""")),
  )
}
