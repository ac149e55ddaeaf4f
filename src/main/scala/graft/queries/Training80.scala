package graft.queries

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.{QueryDef, Tables}

/** Eightieth wave — tamper-evident ledgers, nested-schema pruning,
  * and heterogeneous treatment effects:
  *
  *  - q405: hash-chained batch ledger — per-day batch digests (the
  *    q164/q280 XOR-of-row-hashes discipline) folded into a chained
  *    head digest: chain_i = md5(chain_{i-1} || digest_i). Any
  *    reordering, drop, or tamper of ANY historical batch changes the
  *    head — the append-only integrity check a 100 TB ingest ledger
  *    publishes daily. The chain fold runs over the DICTIONARY of
  *    days (one array fold), never over rows.
  *  - q406: nested-struct schema pruning — a struct-of-structs column
  *    is written once and a query touching ONE leaf reads ONLY that
  *    leaf (`ReadSchema` pruned to the nested path, spec-pinned).
  *    Completes the pruning family: columns (B1), partitions (q375),
  *    buckets (q392), blocks (q138) — now nested leaves.
  *  - q407: uplift by predicted-spend decile — deterministic
  *    hash-assigned treatment/control split, per-decile response
  *    delta in cents. The heterogeneous-treatment-effect readout on
  *    top of q176's A/B machinery: WHERE the effect concentrates,
  *    not just whether it exists.
  */
object Training80 {
  val defs: Seq[QueryDef] = Seq(

    QueryDef(
      "q405_audit_chain",
      (s, d) => {
        val daily = Tables(s, d, "events")
          .selectExpr("to_date(ts) AS day",
            """md5(concat(CAST(event_id AS STRING), ':',
               CAST(unix_micros(ts) AS STRING))) AS rh""")
          .groupBy("day")
          // order-independent per-batch digest: bit_xor over the first
          // 15 hex chars of each row hash (the q280 discipline)
          .agg(expr(
            """bit_xor(CAST(conv(substring(rh, 1, 15), 16, 10) AS BIGINT))
            """).as("digest"), count(lit(1)).as("n_rows"))
        daily
          .agg(expr("""aggregate(
              transform(array_sort(collect_list(struct(day, digest))),
                x -> CAST(x.digest AS STRING)),
              'genesis', (acc, x) -> md5(concat(acc, ':', x)))""")
            .as("chain_head"),
            count(lit(1)).as("n_batches"),
            sum("n_rows").as("n_rows"))
      },
      Some("""
        WITH daily AS (
          SELECT CAST(ts AS DATE) AS day,
                 bit_xor(CAST(('0x' || substr(md5(
                     CAST(event_id AS VARCHAR) || ':' ||
                     CAST(epoch_us(ts) AS VARCHAR)), 1, 15))
                   AS BIGINT)) AS digest,
                 count(*) AS n_rows
          FROM events GROUP BY 1)
        SELECT list_reduce(
                 list_prepend('genesis',
                   list_transform(
                     list_sort(list(struct_pack(day := day,
                                                digest := digest))),
                     x -> CAST(x.digest AS VARCHAR))),
                 (acc, x) -> md5(acc || ':' || x)) AS chain_head,
               CAST(count(*) AS BIGINT) AS n_batches,
               CAST(sum(n_rows) AS BIGINT) AS n_rows
        FROM daily""")),

    QueryDef(
      "q406_nested_schema_pruning",
      (s, d) => {
        val root = java.nio.file.Paths.get(
          sys.props("java.io.tmpdir"),
          s"graft_nested_${graft.Stage.key(d, "orders")}").toString
        if (!java.nio.file.Files.exists(
            java.nio.file.Paths.get(root, "_SUCCESS"))) {
          Tables(s, d, "orders").selectExpr("o_orderkey",
            """named_struct(
                 'customer', named_struct('custkey', o_custkey,
                                          'status', o_orderstatus),
                 'money', named_struct(
                   'total_cents',
                   CAST(round(o_totalprice * 100, 0) AS BIGINT),
                   'priority', o_orderpriority)) AS payload""")
            .write.mode("overwrite").parquet(root)
        }
        // touches ONLY payload.money.total_cents — the scan's
        // ReadSchema must prune to that single nested leaf
        s.read.parquet(root)
          .groupBy(expr("payload.money.total_cents div 1000000")
            .as("bucket_10kd"))
          .agg(count(lit(1)).as("n"),
            sum(expr("payload.money.total_cents")).as("sum_cents"))
          .orderBy("bucket_10kd")
      },
      Some("""
        SELECT CAST(round(o_totalprice * 100, 0) AS BIGINT) // 1000000
                 AS bucket_10kd,
               CAST(count(*) AS BIGINT) AS n,
               CAST(SUM(CAST(round(o_totalprice * 100, 0) AS BIGINT))
                 AS BIGINT) AS sum_cents
        FROM orders GROUP BY 1 ORDER BY bucket_10kd""")),

    // ---- uplift: treatment = hash-assigned half of customers;
    // response = order spend. Deciles come from NTILE over account
    // balance (the "model score" stand-in) — computed by the TWO-PHASE
    // rank (ScalableRank: range-partition + partition-local sort +
    // broadcast prefix offsets), never a global ntile window: the
    // customer dimension of a 100 TB star is billions of rows, and an
    // unpartitioned window moves every one of them through ONE task.
    // Bit-identical to ntile(10) OVER (ORDER BY ...) by the SQL-standard
    // bucket formula, which the oracle still states as plain ntile.
    QueryDef(
      "q407_uplift_deciles",
      (s, d) => {
        val cust = graft.operators.ScalableRank.withNtile(
          Tables(s, d, "customer").selectExpr("c_custkey",
            "c_acctbal",
            """CASE WHEN CAST(conv(substring(md5(
                 CAST(c_custkey AS STRING)), 1, 15), 16, 10) AS BIGINT)
                 % 2 = 0
               THEN 1 ELSE 0 END AS treated"""),
          10, Seq(col("c_acctbal").desc, col("c_custkey").asc), "decile")
        val spend = Tables(s, d, "orders")
          .groupBy(col("o_custkey").as("c_custkey"))
          .agg(sum(expr("CAST(round(o_totalprice * 100, 0) AS BIGINT)"))
            .as("cents"))
        cust.join(spend, Seq("c_custkey"), "left")
          .na.fill(0L, Seq("cents"))
          .groupBy("decile")
          .agg(
            sum(when(col("treated") === 1, 1L).otherwise(0L)).as("n_t"),
            sum(when(col("treated") === 1, col("cents"))
              .otherwise(0L)).as("cents_t"),
            sum(when(col("treated") === 0, 1L).otherwise(0L)).as("n_c"),
            sum(when(col("treated") === 0, col("cents"))
              .otherwise(0L)).as("cents_c"))
          .selectExpr("decile", "n_t", "n_c",
            """CASE WHEN cents_t >= 0
               THEN (2 * cents_t + n_t) div (2 * nullif(n_t, 0))
               ELSE -((2 * (-cents_t) + n_t) div (2 * nullif(n_t, 0)))
               END
             - CASE WHEN cents_c >= 0
               THEN (2 * cents_c + n_c) div (2 * nullif(n_c, 0))
               ELSE -((2 * (-cents_c) + n_c) div (2 * nullif(n_c, 0)))
               END AS uplift_cents""")
          .orderBy("decile")
      },
      Some("""
        WITH cust AS (
          SELECT c_custkey, c_acctbal,
                 CASE WHEN CAST(('0x' || substr(md5(
                     CAST(c_custkey AS VARCHAR)), 1, 15)) AS BIGINT)
                   % 2 = 0 THEN 1 ELSE 0 END AS treated,
                 ntile(10) OVER (ORDER BY c_acctbal DESC, c_custkey)
                   AS decile
          FROM customer),
        spend AS (
          SELECT o_custkey AS c_custkey,
                 SUM(CAST(round(o_totalprice * 100, 0) AS BIGINT))
                   AS cents
          FROM orders GROUP BY 1),
        j AS (
          SELECT decile, treated, COALESCE(cents, 0) AS cents
          FROM cust LEFT JOIN spend USING (c_custkey)),
        agg AS (
          SELECT decile,
                 SUM(CASE WHEN treated = 1 THEN 1 ELSE 0 END) AS n_t,
                 SUM(CASE WHEN treated = 1 THEN cents ELSE 0 END)
                   AS cents_t,
                 SUM(CASE WHEN treated = 0 THEN 1 ELSE 0 END) AS n_c,
                 SUM(CASE WHEN treated = 0 THEN cents ELSE 0 END)
                   AS cents_c
          FROM j GROUP BY 1)
        SELECT decile, CAST(n_t AS BIGINT) AS n_t,
               CAST(n_c AS BIGINT) AS n_c,
               CAST((2 * cents_t + n_t) // (2 * nullif(n_t, 0))
                 - (2 * cents_c + n_c) // (2 * nullif(n_c, 0))
                 AS BIGINT) AS uplift_cents
        FROM agg ORDER BY decile""")),
  )
}
