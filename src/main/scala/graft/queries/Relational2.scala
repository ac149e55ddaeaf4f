package graft.queries

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.{Num, QueryDef, Tables}

/** Second relational batch: distinct aggregation, approximate distinct
  * (HLL), non-equi range join, full outer join, scalar subquery, string
  * and date scalar functions.
  */
object Relational2 {
  val defs: Seq[QueryDef] = Seq(

    // ---- distinct aggregation (exact)
    QueryDef(
      "q31_distinct_agg",
      (s, d) =>
        Tables(s, d, "lineitem")
          .groupBy("l_returnflag")
          .agg(
            countDistinct(col("l_suppkey")).as("n_supp"),
            countDistinct(col("l_partkey"), col("l_suppkey")).as("n_part_supp"),
            count(lit(1)).as("n")),
      Some("""
        SELECT l_returnflag,
               count(DISTINCT l_suppkey) AS n_supp,
               count(DISTINCT (l_partkey, l_suppkey)) AS n_part_supp,
               count(*) AS n
        FROM lineitem GROUP BY l_returnflag""")),

    // ---- approximate distinct: HLL sketch. Sketch ESTIMATES differ by
    // engine, so the raw estimate can't be hash-compared; instead the
    // query asserts the sketch's own accuracy contract. It computes both
    // the HLL estimate (rsd=0.01) and the exact distinct per group and
    // emits `approx_ok` = |approx - exact| <= 3% of exact (integer
    // arithmetic, deterministic for fixed data). DuckDB oracles the exact
    // count and literal TRUE — if Spark's HLL ever drifts outside the
    // bound, the driver's hash check fails. At 100 TB the sketch is the
    // *only* sane distinct-count (mergeable, single-pass, bounded
    // memory); the exact column here is the small-SF witness, and q31
    // remains the fully-exact counterpart.
    QueryDef(
      "q32_approx_distinct",
      (s, d) =>
        Tables(s, d, "lineitem")
          .groupBy("l_returnflag")
          .agg(
            approx_count_distinct(col("l_partkey"), 0.01).as("__approx"),
            countDistinct(col("l_partkey")).as("n_parts_exact"),
            count(lit(1)).as("n"))
          .select(
            col("l_returnflag"),
            col("n_parts_exact"),
            col("n"),
            (abs(col("__approx") - col("n_parts_exact")) * lit(100L) <=
              lit(3L) * col("n_parts_exact")).as("approx_ok")),
      Some("""
        SELECT l_returnflag,
               count(DISTINCT l_partkey) AS n_parts_exact,
               count(*) AS n,
               TRUE AS approx_ok
        FROM lineitem GROUP BY l_returnflag""")),

    // ---- non-equi range join against a broadcast band table
    QueryDef(
      "q33_range_join",
      (s, d) => {
        val bands = s.createDataFrame(Seq(
          ("low", 0.0, 20000.0),
          ("mid", 20000.0, 60000.0),
          ("high", 60000.0, 1e18)
        )).toDF("band", "lo", "hi")
        Tables(s, d, "lineitem")
          .join(broadcast(bands),
            col("l_extendedprice") >= col("lo") && col("l_extendedprice") < col("hi"))
          .groupBy("band")
          .agg(count(lit(1)).as("n"), Num.dsum(col("l_extendedprice")).as("total"))
      },
      Some(s"""
        SELECT band, count(*) AS n, ${Num.dsumSql("l_extendedprice")} AS total
        FROM lineitem
        JOIN (VALUES ('low', 0.0, 20000.0),
                     ('mid', 20000.0, 60000.0),
                     ('high', 60000.0, 1e18)) AS bands(band, lo, hi)
          ON l_extendedprice >= lo AND l_extendedprice < hi
        GROUP BY band""")),

    // ---- full outer join of two aggregates
    QueryDef(
      "q34_full_outer",
      (s, d) => {
        val o = Tables(s, d, "orders")
        val f = o.filter(col("o_orderstatus") === "F")
          .groupBy(col("o_custkey").as("ck_f")).agg(count(lit(1)).as("n_f"))
        val p = o.filter(col("o_orderstatus") === "P")
          .groupBy(col("o_custkey").as("ck_p")).agg(count(lit(1)).as("n_p"))
        f.join(p, col("ck_f") === col("ck_p"), "full_outer")
          .select(
            coalesce(col("ck_f"), col("ck_p")).as("custkey"),
            coalesce(col("n_f"), lit(0L)).as("n_f"),
            coalesce(col("n_p"), lit(0L)).as("n_p"))
      },
      Some("""
        SELECT COALESCE(f.ck, p.ck) AS custkey,
               COALESCE(f.n_f, 0) AS n_f,
               COALESCE(p.n_p, 0) AS n_p
        FROM (SELECT o_custkey AS ck, count(*) AS n_f FROM orders
              WHERE o_orderstatus = 'F' GROUP BY 1) f
        FULL OUTER JOIN (SELECT o_custkey AS ck, count(*) AS n_p FROM orders
              WHERE o_orderstatus = 'P' GROUP BY 1) p
          ON f.ck = p.ck""")),

    // ---- scalar + correlated subqueries through the SQL surface
    QueryDef(
      "q35_scalar_subquery",
      (s, d) => {
        Tables(s, d, "orders").createOrReplaceTempView("graft_orders_sq")
        // decimal-accumulated avg: the threshold must be bit-identical in
        // both engines or boundary rows could flip
        s.sql(s"""
          SELECT o_orderkey, o_custkey, o_totalprice
          FROM graft_orders_sq
          WHERE o_totalprice > 2 * (SELECT ${Num.dsumSql("o_totalprice")} / count(*)
                                    FROM graft_orders_sq)""")
      },
      Some(s"""
        SELECT o_orderkey, o_custkey, o_totalprice
        FROM orders
        WHERE o_totalprice > 2 * (SELECT ${Num.dsumSql("o_totalprice")} / count(*)
                                  FROM orders)""")),

    // ---- string scalar functions
    QueryDef(
      "q36_string_funcs",
      (s, d) =>
        Tables(s, d, "part").select(
          col("p_partkey"),
          upper(col("p_name")).as("name_upper"),
          substring(col("p_name"), 1, 5).as("name_pfx"),
          length(col("p_name")).cast("long").as("name_len"),
          regexp_replace(col("p_name"), "[aeiou]", "_").as("name_novowel"),
          concat_ws("|", col("p_brand"), col("p_type")).as("brand_type"),
          when(col("p_name").like("%widget%"), lit(1L)).otherwise(lit(0L)).as("is_widget")),
      Some("""
        SELECT p_partkey,
               upper(p_name) AS name_upper,
               substr(p_name, 1, 5) AS name_pfx,
               CAST(length(p_name) AS BIGINT) AS name_len,
               regexp_replace(p_name, '[aeiou]', '_', 'g') AS name_novowel,
               concat_ws('|', p_brand, p_type) AS brand_type,
               CASE WHEN p_name LIKE '%widget%' THEN 1 ELSE 0 END AS is_widget
        FROM part""")),

    // ---- date-part extraction + aggregation
    QueryDef(
      "q37_date_parts",
      (s, d) =>
        Tables(s, d, "orders")
          .groupBy(
            year(col("o_orderdate")).as("y"),
            quarter(col("o_orderdate")).as("q"),
            (dayofweek(col("o_orderdate")) - 1).as("dow")) // 0=Sunday, matching DuckDB
          .agg(count(lit(1)).as("n"), Num.dsum(col("o_totalprice")).as("total")),
      Some(s"""
        SELECT CAST(year(o_orderdate) AS INTEGER) AS y,
               CAST(quarter(o_orderdate) AS INTEGER) AS q,
               CAST(dayofweek(o_orderdate) AS INTEGER) AS dow,
               count(*) AS n, ${Num.dsumSql("o_totalprice")} AS total
        FROM orders GROUP BY 1, 2, 3""")),
  )
}
