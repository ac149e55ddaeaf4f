package graft.queries

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.{Num, QueryDef, Tables}
import graft.operators.IqrOutlierFilter

/** The reference pipeline's operators (SURVEY.md §2 D2/F/G5/G7/G1),
  * re-expressed as generic, oracle-checkable transforms over the harness
  * tables. The wafer-schema pipeline itself (graft.wafer) composes these
  * same shapes over the 25-column wafer schema; here each semantic is
  * pinned against DuckDB on lineitem.
  */
object WaferOps {
  import Num.dsumSql

  /** Deterministic population-std z-score ingredients via exact decimal
    * moments (sklearn StandardScaler ddof=0 parity, reference
    * preprocessing.py:197-198): mean = Σx/n, var = Σx²/n − mean².
    */
  private def momentCols(x: String) = Seq(
    (Num.dsum(col(x)) / count(col(x))).as("__m"),
    (Num.dsum(col(x) * col(x)) / count(col(x))).as("__msq"))

  val defs: Seq[QueryDef] = Seq(

    // ---- D2: exact per-group quantiles (pandas-matching linear interpolation)
    QueryDef(
      "q21_group_quantiles",
      (s, d) =>
        Tables(s, d, "lineitem")
          .groupBy("l_returnflag")
          .agg(
            round(expr("percentile(l_quantity, 0.25)"), 4).as("q25"),
            round(expr("percentile(l_quantity, 0.5)"), 4).as("q50"),
            round(expr("percentile(l_quantity, 0.75)"), 4).as("q75"),
            round(expr("percentile(l_extendedprice, 0.75)"), 4).as("price_q75"),
            count(col("l_quantity")).as("n")),
      Some("""
        SELECT l_returnflag,
               round(quantile_cont(l_quantity, 0.25), 4) AS q25,
               round(quantile_cont(l_quantity, 0.5), 4) AS q50,
               round(quantile_cont(l_quantity, 0.75), 4) AS q75,
               round(quantile_cont(l_extendedprice, 0.75), 4) AS price_q75,
               count(l_quantity) AS n
        FROM lineitem GROUP BY l_returnflag""")),

    // ---- G7: sequential per-group upper-IQR outlier removal
    QueryDef(
      "q22_iqr_outlier_filter",
      (s, d) =>
        IqrOutlierFilter(
          Tables(s, d, "lineitem"),
          groupCols = Seq("l_returnflag"),
          valueCols = Seq("l_quantity", "l_extendedprice"))
          .select("l_orderkey", "l_linenumber"),
      Some("""
        WITH b1 AS (
          SELECT l_returnflag,
                 quantile_cont(l_quantity, 0.25) AS q1,
                 quantile_cont(l_quantity, 0.75) AS q3,
                 count(l_quantity) AS cnt
          FROM lineitem GROUP BY l_returnflag),
        f1 AS (
          SELECT l.* FROM lineitem l JOIN b1 USING (l_returnflag)
          WHERE b1.cnt < 2 OR b1.q3 - b1.q1 = 0
             OR (l.l_quantity IS NOT NULL
                 AND l.l_quantity <= b1.q3 + 1.5 * (b1.q3 - b1.q1))),
        b2 AS (
          SELECT l_returnflag,
                 quantile_cont(l_extendedprice, 0.25) AS q1,
                 quantile_cont(l_extendedprice, 0.75) AS q3,
                 count(l_extendedprice) AS cnt
          FROM f1 GROUP BY l_returnflag),
        f2 AS (
          SELECT f1.* FROM f1 JOIN b2 USING (l_returnflag)
          WHERE b2.cnt < 2 OR b2.q3 - b2.q1 = 0
             OR (f1.l_extendedprice IS NOT NULL
                 AND f1.l_extendedprice <= b2.q3 + 1.5 * (b2.q3 - b2.q1)))
        SELECT l_orderkey, l_linenumber FROM f2""")),

    // ---- G1: per-group z-score, population std (ddof=0), deterministic moments
    QueryDef(
      "q23_zscore",
      (s, d) => {
        val li = Tables(s, d, "lineitem")
        val mc = momentCols("l_extendedprice")
        val stats = li.groupBy("l_returnflag")
          .agg(mc.head, mc.tail: _*)
          .withColumn("__sd", sqrt(col("__msq") - col("__m") * col("__m")))
        li.join(broadcast(stats), Seq("l_returnflag"))
          .select(
            col("l_orderkey"), col("l_linenumber"),
            round((col("l_extendedprice") - col("__m")) / nullif(col("__sd"), lit(0.0)), 4)
              .as("z_price"))
      },
      Some(s"""
        WITH stats AS (
          SELECT l_returnflag,
                 ${dsumSql("l_extendedprice")} / count(l_extendedprice) AS m,
                 ${dsumSql("l_extendedprice * l_extendedprice")} / count(l_extendedprice) AS msq
          FROM lineitem GROUP BY l_returnflag)
        SELECT l_orderkey, l_linenumber,
               round((l_extendedprice - m) / nullif(sqrt(msq - m * m), 0), 4) AS z_price
        FROM lineitem JOIN stats USING (l_returnflag)""")),

    // ---- F1-F4: engineered ratio features, epsilon guards, null-scrub
    QueryDef(
      "q24_engineered_features",
      (s, d) =>
        Tables(s, d, "lineitem").select(
          col("l_orderkey"),
          col("l_linenumber"),
          (col("l_extendedprice") / (col("l_quantity") + lit(1e-6))).as("price_per_qty"),
          (col("l_discount") / (col("l_tax") + lit(1e-6))).as("disc_tax_ratio"),
          // true divide-by-zero path: null in both engines (Spark ANSI needs the nullif)
          (col("l_quantity") / nullif(col("l_discount"), lit(0.0))).as("qty_per_disc"),
          // inf/NaN scrub shape (F3/F4): guard then keep
          when(isnan(col("l_extendedprice") / (col("l_quantity") + lit(1e-6))), lit(null))
            .otherwise(col("l_extendedprice") / (col("l_quantity") + lit(1e-6)))
            .as("density_scrubbed")),
      Some("""
        SELECT l_orderkey, l_linenumber,
               l_extendedprice / (l_quantity + 1e-6) AS price_per_qty,
               l_discount / (l_tax + 1e-6) AS disc_tax_ratio,
               l_quantity / nullif(l_discount, 0.0) AS qty_per_disc,
               CASE WHEN isnan(l_extendedprice / (l_quantity + 1e-6)) THEN NULL
                    ELSE l_extendedprice / (l_quantity + 1e-6) END AS density_scrubbed
        FROM lineitem""")),

    // ---- F8/G5: rule-based labeling as one chained-when expression
    QueryDef(
      "q25_rule_label",
      (s, d) =>
        Tables(s, d, "lineitem")
          .withColumn("is_killer",
            when(col("l_returnflag") === "R" && col("l_linestatus") === "F"
              && col("l_quantity") > 45, lit(true))
              .when(col("l_returnflag") === "A" && col("l_quantity") > 48, lit(true))
              .otherwise(lit(false)))
          .groupBy("l_returnflag", "is_killer")
          .agg(count(lit(1)).as("n")),
      Some("""
        SELECT l_returnflag,
               CASE WHEN l_returnflag = 'R' AND l_linestatus = 'F' AND l_quantity > 45 THEN TRUE
                    WHEN l_returnflag = 'A' AND l_quantity > 48 THEN TRUE
                    ELSE FALSE END AS is_killer,
               count(*) AS n
        FROM lineitem GROUP BY 1, 2""")),
  )
}
