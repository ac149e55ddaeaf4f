package graft.queries

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.{Num, QueryDef, Tables}
import graft.operators.TextOps

/** Round-2 additions: deterministic distributed statistics, reproducible
  * hash sampling, skew-salted join, IVF ANN, explode word counts, dedup
  * survivorship, and stride frame-sampling over sequential payloads.
  *
  * Scale notes: every aggregate here is a partial+final hash agg (one
  * shuffle); the stats in q60 are single-pass moment sums — the shape
  * that survives 100 TB, unlike two-pass mean-then-residual formulas.
  */
object Advanced {
  import Num.{dsum, dsumSql}

  /** null when zero — ANSI-safe denominator guard. */
  private def nz(c: org.apache.spark.sql.Column) = when(c === 0.0, lit(null)).otherwise(c)

  val defs: Seq[QueryDef] = Seq(

    // ---- per-group correlation + least-squares regression from exact
    // decimal moment sums. Built-in corr()/regr_slope() accumulate
    // doubles in shuffle order (nondeterministic last bits, engine-
    // dependent formulas); moments through dsum are bit-identical in any
    // order and any engine, so the derived stats hash-match the oracle.
    QueryDef(
      "q60_deterministic_stats",
      (s, d) => {
        val li = Tables(s, d, "lineitem")
        val x = col("l_quantity")
        val y = col("l_extendedprice")
        li.groupBy("l_returnflag")
          .agg(
            count(lit(1)).cast("double").as("n"),
            dsum(x).as("sx"), dsum(y).as("sy"),
            dsum(x * x).as("sxx"), dsum(y * y).as("syy"),
            dsum(x * y).as("sxy"))
          .withColumn("__cov_n", col("n") * col("sxy") - col("sx") * col("sy"))
          .withColumn("__var_x", col("n") * col("sxx") - col("sx") * col("sx"))
          .withColumn("__var_y", col("n") * col("syy") - col("sy") * col("sy"))
          .withColumn("corr_qty_price",
            round(col("__cov_n") / nz(sqrt(col("__var_x") * col("__var_y"))), 6))
          .withColumn("slope", round(col("__cov_n") / nz(col("__var_x")), 6))
          .withColumn("intercept",
            round((col("sy") - (col("__cov_n") / nz(col("__var_x"))) * col("sx")) / col("n"), 6))
          .select(col("l_returnflag"), col("n").cast("long").as("n"),
            col("corr_qty_price"), col("slope"), col("intercept"))
      },
      Some(s"""
        WITH m AS (
          SELECT l_returnflag,
                 CAST(count(*) AS DOUBLE) AS n,
                 ${dsumSql("l_quantity")} AS sx,
                 ${dsumSql("l_extendedprice")} AS sy,
                 ${dsumSql("l_quantity * l_quantity")} AS sxx,
                 ${dsumSql("l_extendedprice * l_extendedprice")} AS syy,
                 ${dsumSql("l_quantity * l_extendedprice")} AS sxy
          FROM lineitem GROUP BY l_returnflag)
        SELECT l_returnflag, CAST(n AS BIGINT) AS n,
               round((n*sxy - sx*sy) / NULLIF(sqrt((n*sxx - sx*sx) * (n*syy - sy*sy)), 0.0), 6)
                 AS corr_qty_price,
               round((n*sxy - sx*sy) / NULLIF(n*sxx - sx*sx, 0.0), 6) AS slope,
               round((sy - ((n*sxy - sx*sy) / NULLIF(n*sxx - sx*sx, 0.0)) * sx) / n, 6)
                 AS intercept
        FROM m""")),

    // ---- reproducible stratified sampling: md5-hash the key into [0,100)
    // and keep a per-stratum rate. Unlike rand()-based sampling this is
    // deterministic across runs, engines, and cluster sizes — the only
    // sane way to sample a 100 TB table you'll need to resample
    // identically next month. No shuffle: a codegen'd filter at the scan.
    QueryDef(
      "q61_hash_sample",
      (s, d) => {
        val bucket = expr(s"${TextOps.hash60Spark("cast(o_orderkey as string)")} % 100")
        val rate = when(col("o_orderstatus") === "F", 10)
          .when(col("o_orderstatus") === "O", 5)
          .otherwise(50)
        Tables(s, d, "orders")
          .filter(bucket < rate)
          .select("o_orderkey", "o_orderstatus", "o_totalprice")
      },
      Some(s"""
        SELECT o_orderkey, o_orderstatus, o_totalprice
        FROM orders
        WHERE ${TextOps.hash60Duck("o_orderkey::VARCHAR")} % 100 <
              CASE WHEN o_orderstatus = 'F' THEN 10
                   WHEN o_orderstatus = 'O' THEN 5
                   ELSE 50 END""")),

    // ---- skew-salted fact join: SaltedJoin scatters the (possibly hot)
    // left keys over saltFactor sub-keys and replicates the right side —
    // result must equal the plain join, which IS the oracle.
    QueryDef(
      "q62_salted_join",
      (s, d) => {
        val li = Tables(s, d, "lineitem")
        val o = Tables(s, d, "orders")
          .withColumnRenamed("o_orderkey", "l_orderkey")
          .select("l_orderkey", "o_orderpriority")
        graft.operators.SaltedJoin(li, o, Seq("l_orderkey"), saltFactor = 8)
          .groupBy("o_orderpriority")
          .agg(
            count(lit(1)).as("n_items"),
            dsum(col("l_extendedprice")).as("revenue"))
      },
      Some(s"""
        SELECT o_orderpriority, count(*) AS n_items,
               ${dsumSql("l_extendedprice")} AS revenue
        FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        GROUP BY o_orderpriority""")),

    // ---- IVF ANN (kmeans coarse quantizer, probe nprobe of nlist lists).
    // Driver-oracled via the full-probe identity: with nprobe = nlist
    // every list is searched, so the ENTIRE IVF machinery (quantizer
    // fit, list assignment, per-query probe ranking, per-list candidate
    // join, exact re-rank) must reproduce the brute-force top-k exactly
    // — any bug in list routing or candidate union breaks the hash.
    // DuckDB replays the brute-force side. The approximate trade-off
    // (nprobe < nlist) stays pinned by IvfAnnSpec's recall bound —
    // sketch-style outputs legitimately differ per engine, exact
    // identities don't.
    QueryDef(
      "q63_ivf_ann",
      (s, d) => {
        val emb = Tables(s, d, "embeddings")
          .withColumn("vec", expr("transform(embedding, x -> cast(x as double))"))
        graft.operators.Similarity.ivfTopK(
          emb, "vec_id", "vec", queryFilter = pmod(col("vec_id"), lit(50)) === 0, k = 5,
          nlist = 8, nprobe = 8)
      },
      Some(s"""
        WITH emb AS (
          SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS vec
          FROM embeddings),
        sims AS (
          SELECT q.vec_id AS query_id, c.vec_id AS cand_id,
                 round(${graft.operators.VectorOps.cosineDuck("q.vec", "c.vec")}, 4) AS cos_sim
          FROM emb q JOIN emb c ON q.vec_id % 50 = 0 AND q.vec_id <> c.vec_id)
        SELECT query_id, cand_id, cos_sim, rnk
        FROM (SELECT *, row_number() OVER (PARTITION BY query_id
                                           ORDER BY cos_sim DESC, cand_id) AS rnk
              FROM sims) t
        WHERE rnk <= 5""")),

    // ---- classic explode + re-aggregate: per-word corpus frequency.
    QueryDef(
      "q64_word_count",
      (s, d) =>
        Tables(s, d, "documents")
          .select(explode(split(col("text"), " ")).as("word"))
          .groupBy("word")
          .agg(count(lit(1)).as("n")),
      Some("""
        SELECT word, count(*) AS n
        FROM (SELECT unnest(string_split(text, ' ')) AS word FROM documents) w
        GROUP BY word""")),

    // ---- dedup survivorship: within each exact-duplicate group keep the
    // "best" document (longest, then lowest id) — the keep-policy join
    // every production dedup pipeline needs after candidate discovery.
    QueryDef(
      "q65_dedup_survivor",
      (s, d) => {
        val w = Window.partitionBy("text_md5")
          .orderBy(col("n_chars").desc, col("doc_id").asc)
        Tables(s, d, "documents")
          .withColumn("text_md5", md5(col("text")))
          .withColumn("rnk", row_number().over(w))
          .filter(col("rnk") === 1)
          .select("text_md5", "doc_id", "n_chars")
      },
      Some("""
        SELECT text_md5, doc_id, n_chars
        FROM (SELECT md5(text) AS text_md5, doc_id, n_chars,
                     row_number() OVER (PARTITION BY md5(text)
                                        ORDER BY n_chars DESC, doc_id) AS rnk
              FROM documents) t
        WHERE rnk = 1""")),

    // ---- two-stage funnel over the event stream: per user, first click
    // and the first purchase at-or-after it. Two grouped minima + one
    // per-user join — no window over the raw event log, so it shuffles
    // each event once and the join side is one row per user.
    QueryDef(
      "q67_funnel",
      (s, d) => {
        val ev = Tables(s, d, "events")
        val firstClick = ev.filter(col("event_type") === "click")
          .groupBy("user_id").agg(min(col("ts")).as("first_click"))
        val purchases = ev.filter(col("event_type") === "purchase")
          .select(col("user_id").as("p_user_id"), col("ts"))
        // time bound inside the LEFT join condition: users with no
        // qualifying purchase must survive with a null, not be filtered
        firstClick
          .join(purchases,
            col("user_id") === col("p_user_id") && col("ts") >= col("first_click"),
            "left")
          .groupBy("user_id", "first_click")
          .agg(min(col("ts")).as("first_purchase"))
          .select(
            col("user_id"),
            col("first_purchase").isNotNull.as("converted"),
            (unix_micros(col("first_purchase")) - unix_micros(col("first_click")))
              .as("us_to_convert"))
      },
      Some("""
        WITH fc AS (
          SELECT user_id, min(CAST(ts AS TIMESTAMP)) AS first_click
          FROM events WHERE event_type = 'click' GROUP BY user_id),
        fp AS (
          SELECT fc.user_id, fc.first_click,
                 min(CAST(p.ts AS TIMESTAMP)) AS first_purchase
          FROM fc LEFT JOIN events p
            ON p.user_id = fc.user_id AND p.event_type = 'purchase'
           AND CAST(p.ts AS TIMESTAMP) >= fc.first_click
          GROUP BY fc.user_id, fc.first_click)
        SELECT user_id,
               first_purchase IS NOT NULL AS converted,
               epoch_us(first_purchase) - epoch_us(first_click) AS us_to_convert
        FROM fp""")),

    // ---- correlated scalar subquery, through the engine's SQL entry:
    // orders above 2× their own customer's average order value.
    QueryDef(
      "q68_correlated_subquery",
      (s, d) => {
        Tables(s, d, "orders").createOrReplaceTempView("graft_orders_corr")
        s.sql(s"""
          SELECT o_orderkey, o_custkey, o_totalprice
          FROM graft_orders_corr o
          WHERE o_totalprice >
                2 * (SELECT ${dsumSql("o2.o_totalprice")} / count(*)
                     FROM graft_orders_corr o2
                     WHERE o2.o_custkey = o.o_custkey)""")
      },
      Some(s"""
        SELECT o_orderkey, o_custkey, o_totalprice
        FROM orders o
        WHERE o_totalprice >
              2 * (SELECT ${dsumSql("o2.o_totalprice")} / count(*)
                   FROM orders o2
                   WHERE o2.o_custkey = o.o_custkey)""")),

    // ---- chi-square independence statistic over a contingency table
    // (order status × priority). Counts are exact longs, the statistic is
    // IEEE double arithmetic over them — deterministic cross-engine with
    // no decimal machinery needed. One groupBy + one tiny re-aggregation.
    QueryDef(
      "q69_chi_square",
      (s, d) => {
        val counts = Tables(s, d, "orders")
          .groupBy("o_orderstatus", "o_orderpriority")
          .agg(count(lit(1)).as("n"))
          .cache() // tiny (|status|×|priority| rows); reused three ways below
        val rowTot = counts.groupBy("o_orderstatus")
          .agg(sum("n").as("row_n"))
        val colTot = counts.groupBy("o_orderpriority")
          .agg(sum("n").as("col_n"))
        val total = counts.agg(sum("n").as("tot_n"))
        counts
          .join(broadcast(rowTot), "o_orderstatus")
          .join(broadcast(colTot), "o_orderpriority")
          .crossJoin(broadcast(total))
          .withColumn("e",
            col("row_n").cast("double") * col("col_n") / col("tot_n"))
          .agg(
            round(Num.dsum((col("n") - col("e")) * (col("n") - col("e")) / col("e")), 6)
              .as("chi2"),
            count(lit(1)).as("n_cells"))
      },
      Some("""
        WITH counts AS (
          SELECT o_orderstatus, o_orderpriority, count(*) AS n
          FROM orders GROUP BY 1, 2),
        rt AS (SELECT o_orderstatus, sum(n) AS row_n FROM counts GROUP BY 1),
        ct AS (SELECT o_orderpriority, sum(n) AS col_n FROM counts GROUP BY 1),
        tot AS (SELECT sum(n) AS tot_n FROM counts),
        cells AS (
          SELECT n, CAST(row_n AS DOUBLE) * col_n / tot_n AS e
          FROM counts JOIN rt USING (o_orderstatus)
                      JOIN ct USING (o_orderpriority), tot)
        SELECT round(CAST(SUM(CAST(((n - e) * (n - e) / e) AS DECIMAL(28,6))) AS DOUBLE), 6)
                 AS chi2,
               count(*) AS n_cells
        FROM cells""")),

    // ---- Gini impurity of the source distribution per language —
    // category-diversity scoring for corpus curation. 1 - Σp² from exact
    // counts is pure rational arithmetic (no log), so it is bit-identical
    // across engines with no rounding gymnastics. (Shannon entropy would
    // hinge on libm's log rounding, which IEEE does not pin down.)
    QueryDef(
      "q70_gini_diversity",
      (s, d) => {
        val counts = Tables(s, d, "documents")
          .groupBy("lang", "source")
          .agg(count(lit(1)).as("n"))
        val byLang = counts.groupBy("lang").agg(sum("n").as("lang_n"))
        counts.join(broadcast(byLang), "lang")
          .withColumn("p", col("n").cast("double") / col("lang_n"))
          .groupBy("lang")
          .agg(
            round(lit(1.0) - Num.dsum(col("p") * col("p")), 6).as("source_gini"),
            count(lit(1)).as("n_sources"))
      },
      Some("""
        WITH counts AS (
          SELECT lang, source, count(*) AS n FROM documents GROUP BY 1, 2),
        withp AS (
          SELECT lang, CAST(n AS DOUBLE) / sum(n) OVER (PARTITION BY lang) AS p
          FROM counts)
        SELECT lang,
               round(1.0 - CAST(SUM(CAST((p * p) AS DECIMAL(28,6))) AS DOUBLE), 6)
                 AS source_gini,
               count(*) AS n_sources
        FROM withp GROUP BY lang""")),

    // ---- stride frame-sampling over a sequential payload: one 32-char
    // frame every 64 positions, fingerprinted. The multimodal shape —
    // sample frames from a long media payload without materializing the
    // rest — expressed as pure per-row array ops (codegen, no shuffle);
    // the binary-typed decode slot itself is pinned by q51.
    QueryDef(
      "q66_frame_sample",
      (s, d) =>
        Tables(s, d, "documents")
          .select(col("doc_id"), col("n_chars"),
            explode(expr("sequence(0, cast(greatest(ceil(length(text) / 64.0), 1) as int) - 1)"))
              .as("frame_idx"),
            col("text"))
          .select(col("doc_id"), col("frame_idx"),
            md5(expr("substr(text, cast(frame_idx * 64 + 1 as int), 32)")).as("frame_md5")),
      Some("""
        WITH idx AS (
          SELECT doc_id, text,
                 unnest(range(0, GREATEST(CAST(ceil(length(text) / 64.0) AS BIGINT), 1)))
                   AS frame_idx
          FROM documents)
        SELECT doc_id, frame_idx,
               md5(substr(text, CAST(frame_idx * 64 + 1 AS INTEGER), 32)) AS frame_md5
        FROM idx""")),

    // ---- Bloom-prefiltered semi-join (BloomJoin.semiJoinLong): fact
    // rows that cannot match any selective-dim key are dropped before
    // the shuffle; the exact semi-join then removes Bloom false
    // positives, so the result equals the plain semi-join the oracle
    // runs. See BloomJoin's scaladoc for the 100 TB rationale.
    QueryDef(
      "q72_bloom_semi_join",
      (s, d) => {
        val dim = Tables(s, d, "part").filter(col("p_size") >= 48)
        graft.operators.BloomJoin
          .semiJoinLong(Tables(s, d, "lineitem"), "l_partkey", dim, "p_partkey",
            expectedKeys = 100000L)
          .groupBy("l_returnflag")
          .agg(count(lit(1)).as("n"), dsum(col("l_quantity")).as("sum_qty"))
      },
      Some(s"""
        SELECT l_returnflag, count(*) AS n, ${dsumSql("l_quantity")} AS sum_qty
        FROM lineitem
        WHERE l_partkey IN (SELECT p_partkey FROM part WHERE p_size >= 48)
        GROUP BY l_returnflag""")),

    // ---- calendar densification (gap fill): an explicit month spine
    // from the data's own min/max month, crossed with the region dim,
    // left-joined to actual monthly revenue, missing months zero-filled.
    // Time-series training data needs dense, regular grids; at scale
    // the spine is tiny (months × regions) and broadcast, the fact agg
    // is the only shuffle.
    QueryDef(
      "q73_gap_fill_months",
      (s, d) => {
        val o = Tables(s, d, "orders")
          .join(Tables(s, d, "customer"), col("o_custkey") === col("c_custkey"))
          .join(broadcast(Tables(s, d, "nation")), col("c_nationkey") === col("n_nationkey"))
          .join(broadcast(Tables(s, d, "region")), col("n_regionkey") === col("r_regionkey"))
          .select(date_trunc("month", col("o_orderdate")).cast("date").as("month"),
            col("r_name"), col("o_totalprice"))
        val actual = o.groupBy("month", "r_name")
          .agg(dsum(col("o_totalprice")).as("revenue"), count(lit(1)).as("n_orders"))
        val bounds = o.agg(min("month").as("lo"), max("month").as("hi"))
        val spine = bounds
          .select(explode(expr("sequence(lo, hi, interval 1 month)")).as("month"))
          .crossJoin(Tables(s, d, "region").select(col("r_name")))
        spine.join(actual, Seq("month", "r_name"), "left")
          .select(col("month"), col("r_name"),
            coalesce(col("revenue"), lit(0.0)).as("revenue"),
            coalesce(col("n_orders"), lit(0L)).as("n_orders"))
      },
      Some(s"""
        WITH o AS (
          SELECT CAST(date_trunc('month', o_orderdate) AS DATE) AS month,
                 r_name, o_totalprice
          FROM orders
          JOIN customer ON o_custkey = c_custkey
          JOIN nation ON c_nationkey = n_nationkey
          JOIN region ON n_regionkey = r_regionkey),
        actual AS (
          SELECT month, r_name, ${dsumSql("o_totalprice")} AS revenue,
                 count(*) AS n_orders
          FROM o GROUP BY 1, 2),
        bounds AS (SELECT min(month) AS lo, max(month) AS hi FROM o),
        spine AS (
          SELECT CAST(unnest(generate_series(lo, hi, INTERVAL 1 MONTH)) AS DATE)
                   AS month, r_name
          FROM bounds, region)
        SELECT s.month, s.r_name,
               coalesce(a.revenue, 0.0) AS revenue,
               coalesce(a.n_orders, 0) AS n_orders
        FROM spine s LEFT JOIN actual a
          ON s.month = a.month AND s.r_name = a.r_name""")),

    // ---- BM25 relevance scoring (k1=1.2, b=0.75) of every document
    // against a fixed 3-term query. Term frequencies and doc lengths
    // are per-row array ops (codegen, no shuffle); N / df / avgdl are
    // one tiny global aggregate broadcast back — the full-corpus scan
    // stays single-pass at any scale. Cross-engine float discipline:
    // each idf is rounded to 6 dp at the source (libm ln is ≤1 ulp on
    // both engines, not bit-pinned), after which every remaining term
    // is exact-rational double arithmetic — identical everywhere.
    QueryDef(
      "q74_bm25",
      (s, d) => {
        val terms = Seq("spark", "data", "query")
        val tf = Tables(s, d, "documents")
          .withColumn("toks", split(col("text"), " "))
          .select(
            (col("doc_id") +: size(col("toks")).as("dl") +:
              terms.map(w =>
                expr(s"size(filter(toks, x -> x = '$w'))").as(s"tf_$w"))): _*)
        val g = tf.agg(
          count(lit(1)).as("n"),
          ((dsum(col("dl")) / count(lit(1))).as("avgdl") +:
            terms.map(w =>
              sum(when(col(s"tf_$w") > 0, 1L).otherwise(0L)).as(s"df_$w"))): _*)
        val scored = tf.crossJoin(broadcast(g))
        val score = terms.map { w =>
          val idf = round(
            log((col("n") - col(s"df_$w") + lit(0.5)) / (col(s"df_$w") + lit(0.5)) + lit(1.0)), 6)
          idf * col(s"tf_$w") * lit(2.2) /
            (col(s"tf_$w") + lit(1.2) * (lit(0.25) + lit(0.75) * col("dl") / col("avgdl")))
        }.reduce(_ + _)
        scored.select(col("doc_id"), col("dl"), round(score, 6).as("bm25"))
      },
      Some {
        val terms = Seq("spark", "data", "query")
        s"""
        WITH tf AS (
          SELECT doc_id, len(string_split(text, ' ')) AS dl,
                 ${terms.map(w =>
          s"len(list_filter(string_split(text, ' '), x -> x = '$w')) AS tf_$w")
          .mkString(",\n                 ")}
          FROM documents),
        g AS (
          SELECT count(*) AS n,
                 ${dsumSql("dl")} / count(*) AS avgdl,
                 ${terms.map(w =>
          s"sum(CASE WHEN tf_$w > 0 THEN 1 ELSE 0 END) AS df_$w")
          .mkString(",\n                 ")}
          FROM tf)
        SELECT doc_id, dl,
               round(${terms.map(w =>
          s"""round(ln((n - df_$w + 0.5) / (df_$w + 0.5) + 1.0), 6)
                 * tf_$w * 2.2
                 / (tf_$w + 1.2 * (0.25 + 0.75 * dl / avgdl))""").mkString("\n               + ")}, 6) AS bm25
        FROM tf, g"""
      }),

    // ---- snapshot upsert (MERGE semantics): a change batch is applied
    // onto a base snapshot — matched keys take the batch row, unmatched
    // batch keys insert, everything else carries over. Expressed as a
    // full outer join with batch-precedence coalesce: one shuffle on
    // the key, the exact shape of a Delta/Iceberg MERGE rewrite. Batch
    // here: every 3rd customer gets +100 balance and refreshed segment;
    // synthetic new customers extend the keyspace.
    QueryDef(
      "q75_upsert_merge",
      (s, d) => {
        val base = Tables(s, d, "customer")
          .select(col("c_custkey"), col("c_acctbal"), col("c_mktsegment"))
        val batch = Tables(s, d, "customer")
          .filter(col("c_custkey") % 3 === 0)
          .select(col("c_custkey"),
            (col("c_acctbal") + 100.0).as("c_acctbal"),
            lit("REFRESHED").as("c_mktsegment"))
          .unionAll(
            Tables(s, d, "customer")
              .agg(max("c_custkey").as("mx"))
              .select(explode(expr("sequence(mx + 1, mx + 50)")).as("c_custkey"),
                lit(0.0).as("c_acctbal"), lit("NEW").as("c_mktsegment")))
        base.as("b").join(batch.as("u"), Seq("c_custkey"), "full_outer")
          .select(col("c_custkey"),
            coalesce(col("u.c_acctbal"), col("b.c_acctbal")).as("acctbal"),
            coalesce(col("u.c_mktsegment"), col("b.c_mktsegment")).as("mktsegment"),
            when(col("u.c_acctbal").isNotNull && col("b.c_acctbal").isNotNull, "updated")
              .when(col("u.c_acctbal").isNotNull, "inserted")
              .otherwise("carried").as("merge_action"))
      },
      Some("""
        WITH base AS (
          SELECT c_custkey, c_acctbal, c_mktsegment FROM customer),
        batch AS (
          SELECT c_custkey, c_acctbal + 100.0 AS c_acctbal,
                 'REFRESHED' AS c_mktsegment
          FROM customer WHERE c_custkey % 3 = 0
          UNION ALL
          SELECT unnest(generate_series(mx + 1, mx + 50)) AS c_custkey,
                 0.0 AS c_acctbal, 'NEW' AS c_mktsegment
          FROM (SELECT max(c_custkey) AS mx FROM customer)),
        m AS (
          SELECT coalesce(b.c_custkey, u.c_custkey) AS c_custkey,
                 coalesce(u.c_acctbal, b.c_acctbal) AS acctbal,
                 coalesce(u.c_mktsegment, b.c_mktsegment) AS mktsegment,
                 CASE WHEN u.c_acctbal IS NOT NULL AND b.c_acctbal IS NOT NULL
                        THEN 'updated'
                      WHEN u.c_acctbal IS NOT NULL THEN 'inserted'
                      ELSE 'carried' END AS merge_action
          FROM base b FULL OUTER JOIN batch u ON b.c_custkey = u.c_custkey)
        SELECT * FROM m""")),

    // ---- SCD2 validity intervals from an ordered change log: each
    // customer's order stream becomes (attribute, valid_from, valid_to)
    // rows, open-ended for the current one. One window (partition by
    // entity, order by event time + key tiebreak) — no self-join, which
    // is the trap formulation that dies at scale.
    QueryDef(
      "q76_scd2_intervals",
      (s, d) => {
        val w = Window.partitionBy("o_custkey").orderBy("valid_from", "o_orderkey")
        Tables(s, d, "orders")
          .select(col("o_custkey"), col("o_orderkey"),
            col("o_orderpriority").as("status"),
            col("o_orderdate").as("valid_from"))
          .withColumn("valid_to", lead("valid_from", 1).over(w))
          .withColumn("is_current", col("valid_to").isNull)
      },
      Some("""
        SELECT o_custkey, o_orderkey, o_orderpriority AS status,
               o_orderdate AS valid_from,
               lead(o_orderdate) OVER (PARTITION BY o_custkey
                                       ORDER BY o_orderdate, o_orderkey)
                 AS valid_to,
               (lead(o_orderdate) OVER (PARTITION BY o_custkey
                                        ORDER BY o_orderdate, o_orderkey))
                 IS NULL AS is_current
        FROM orders""")),

    // ---- ML feature encoding: one-hot of the categorical segment plus
    // per-segment min-max scaling of the balance (ANSI-safe nullif
    // denominator). Pure window + per-row exprs — the standard "encode
    // features for training" pass, zero joins.
    QueryDef(
      "q77_feature_encode",
      (s, d) => {
        val segs = Seq("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
        val w = Window.partitionBy("c_mktsegment")
        Tables(s, d, "customer")
          .select(
            (col("c_custkey") +: col("c_mktsegment") +: col("c_acctbal") +:
              segs.map(g =>
                (col("c_mktsegment") === g).cast("int").as(s"seg_${g.toLowerCase}"))): _*)
          .withColumn("bal_minmax",
            round((col("c_acctbal") - min("c_acctbal").over(w)) /
              nz(max("c_acctbal").over(w) - min("c_acctbal").over(w)), 6))
          .drop("c_mktsegment", "c_acctbal")
      },
      Some {
        val segs = Seq("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
        s"""
        SELECT c_custkey,
               ${segs.map(g =>
          s"CAST(c_mktsegment = '$g' AS INTEGER) AS seg_${g.toLowerCase}")
          .mkString(",\n               ")},
               round((c_acctbal - min(c_acctbal) OVER w)
                     / nullif(max(c_acctbal) OVER w - min(c_acctbal) OVER w, 0), 6)
                 AS bal_minmax
        FROM customer
        WINDOW w AS (PARTITION BY c_mktsegment)"""
      }),

    // ---- null imputation with the per-group exact median: nulls are
    // planted deterministically (every 7th key), medians come from one
    // tiny grouped percentile broadcast back over the scan. Linear-
    // interpolated `percentile` ≡ DuckDB quantile_cont (pinned by q21).
    QueryDef(
      "q78_impute_median",
      (s, d) => {
        val base = Tables(s, d, "customer")
          .select(col("c_custkey"), col("c_mktsegment"),
            when(col("c_custkey") % 7 === 0, lit(null)).otherwise(col("c_acctbal"))
              .as("bal"))
        val med = base.groupBy("c_mktsegment")
          .agg(round(expr("percentile(bal, 0.5)"), 6).as("seg_median"))
        base.join(broadcast(med), "c_mktsegment")
          .select(col("c_custkey"),
            coalesce(col("bal"), col("seg_median")).as("bal_imputed"),
            col("bal").isNull.as("was_imputed"))
      },
      Some("""
        WITH base AS (
          SELECT c_custkey, c_mktsegment,
                 CASE WHEN c_custkey % 7 = 0 THEN NULL ELSE c_acctbal END AS bal
          FROM customer),
        med AS (
          SELECT c_mktsegment, round(quantile_cont(bal, 0.5), 6) AS seg_median
          FROM base GROUP BY 1)
        SELECT c_custkey,
               coalesce(bal, seg_median) AS bal_imputed,
               bal IS NULL AS was_imputed
        FROM base JOIN med USING (c_mktsegment)""")),

    // ---- generic column-profiling report (DataProfile.numericProfile):
    // one-pass per-column counts/nulls/distincts/min/max/mean, wide →
    // long. The reference's reporting stage as a reusable operator.
    QueryDef(
      "q82_profile",
      (s, d) =>
        graft.operators.DataProfile.numericProfile(
          Tables(s, d, "customer")
            .withColumn("bal_or_null",
              when(col("c_custkey") % 11 === 0, lit(null)).otherwise(col("c_acctbal"))),
          Seq("c_custkey", "c_nationkey", "bal_or_null")),
      Some {
        def one(c: String, src: String) = s"""
          SELECT '$c' AS col_name,
                 count($c) AS n_nonnull,
                 CAST(sum(CASE WHEN $c IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_null,
                 count(DISTINCT $c) AS n_distinct,
                 CAST(min($c) AS DOUBLE) AS min_value,
                 CAST(max($c) AS DOUBLE) AS max_value,
                 round(${dsumSql(s"CAST($c AS DOUBLE)")} / count($c), 6) AS mean_value
          FROM $src"""
        val src = """(SELECT *,
            CASE WHEN c_custkey % 11 = 0 THEN NULL ELSE c_acctbal END AS bal_or_null
          FROM customer)"""
        Seq("c_custkey", "c_nationkey", "bal_or_null")
          .map(c => one(c, src)).mkString("\n          UNION ALL")
      }),

    // ---- equi-depth (decile) binning per segment: keyed ntile window
    // (deterministic via unique-key tiebreak), then per-bin stats.
    // Keyed — never a global single-partition window; for truly global
    // equi-depth bins at 100 TB the path is percentile boundaries +
    // comparison assignment instead.
    QueryDef(
      "q83_ntile_binning",
      (s, d) => {
        val w = Window.partitionBy("c_mktsegment")
          .orderBy(col("c_acctbal"), col("c_custkey"))
        Tables(s, d, "customer")
          .withColumn("decile", ntile(10).over(w))
          .groupBy("c_mktsegment", "decile")
          .agg(
            count(lit(1)).as("n"),
            round(min("c_acctbal"), 6).as("lo"),
            round(max("c_acctbal"), 6).as("hi"),
            round(dsum(col("c_acctbal")) / count(lit(1)), 6).as("mean_bal"))
      },
      Some(s"""
        WITH binned AS (
          SELECT c_mktsegment, c_acctbal,
                 ntile(10) OVER (PARTITION BY c_mktsegment
                                 ORDER BY c_acctbal, c_custkey) AS decile
          FROM customer)
        SELECT c_mktsegment, decile, count(*) AS n,
               round(min(c_acctbal), 6) AS lo,
               round(max(c_acctbal), 6) AS hi,
               round(${dsumSql("c_acctbal")} / count(*), 6) AS mean_bal
        FROM binned GROUP BY 1, 2""")),

    // ---- nested (array) aggregation: per nation, the sorted list of
    // its top-5 customers by balance. collect_list is shuffle-order-
    // nondeterministic, so the list is built from an already-ranked
    // input and sort_array'd — deterministic on any cluster; joined to
    // a string for cross-engine hashing.
    QueryDef(
      "q88_collect_topk",
      (s, d) => {
        val w = Window.partitionBy("c_nationkey")
          .orderBy(col("c_acctbal").desc, col("c_custkey"))
        Tables(s, d, "customer")
          .withColumn("rk", row_number().over(w))
          .filter(col("rk") <= 5)
          .groupBy("c_nationkey")
          .agg(
            array_join(sort_array(collect_list(col("c_custkey"))), ",")
              .as("top_custkeys"),
            round(dsum(col("c_acctbal")), 6).as("top_bal_sum"))
      },
      Some(s"""
        WITH ranked AS (
          SELECT c_nationkey, c_custkey, c_acctbal,
                 row_number() OVER (PARTITION BY c_nationkey
                                    ORDER BY c_acctbal DESC, c_custkey) AS rk
          FROM customer)
        SELECT c_nationkey,
               array_to_string(list_sort(list(c_custkey)), ',') AS top_custkeys,
               round(${dsumSql("c_acctbal")}, 6) AS top_bal_sum
        FROM ranked WHERE rk <= 5
        GROUP BY c_nationkey""")),

    // ---- unpivot / melt (wide → long): the pandas-style reshape, via
    // Spark's stack() generator — per-row expansion, no shuffle.
    QueryDef(
      "q79_unpivot",
      (s, d) =>
        Tables(s, d, "customer")
          .select(col("c_custkey"),
            expr("""stack(2, 'acctbal', c_acctbal,
                             'nationkey', cast(c_nationkey as double))""")
              .as(Seq("feature", "value"))),
      Some("""
        SELECT c_custkey, 'acctbal' AS feature, c_acctbal AS value FROM customer
        UNION ALL
        SELECT c_custkey, 'nationkey' AS feature, CAST(c_nationkey AS DOUBLE) AS value
        FROM customer""")),

    // ---- GLOBAL equi-depth deciles: percentile boundaries + comparison
    // assignment (see EquiDepthBins) — the companion to q83's keyed
    // ntile. One boundary aggregation, a broadcast of 9 doubles, a
    // per-row codegen'd fold, one 10-key agg; no global sort or
    // single-partition window anywhere.
    QueryDef(
      "q91_global_equidepth",
      (s, d) =>
        graft.operators.EquiDepthBins.globalBins(
          Tables(s, d, "customer"), "c_acctbal", bins = 10),
      Some(graft.operators.EquiDepthBins.globalBinsDuck(
        "customer", "c_acctbal", bins = 10))),
  )
}
