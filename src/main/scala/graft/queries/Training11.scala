package graft.queries

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.{QueryDef, Tables}

/** Eleventh wave: the comparison/association statistics a curation
  * pipeline runs when deciding whether two slices of a 100 TB corpus
  * are exchangeable — rank correlation, variance decomposition, 2x2
  * significance, concentration, power-law shape, weekly seasonality,
  * and the per-source "dataset card" rollup that summarizes all of it.
  *
  * Determinism discipline (same as waves I-X): every ratio leaves the
  * engine either as a half-up integer ppm (`(2s+n) div (2n)` on
  * nonnegative exact integers) or as a round-6 double whose numerator
  * and denominator are EXACTLY equal integers on both engines (cast to
  * DOUBLE only for the final division). `sqrt` is IEEE-754
  * correctly-rounded (unlike ln/exp), so it may run on exact inputs;
  * `ln` is rounded once at source to micro-nats (q74 recipe).
  *
  * Scale notes: the only big-data passes are single groupBys of the
  * fact tables; every ordered window below runs over a bounded
  * dictionary (distinct prices, the supplier dimension, a top-1000
  * vocabulary cut, seven weekdays) — never over raw rows.
  */
object Training11 {
  val defs: Seq[QueryDef] = Seq(

    // ---- Spearman rank correlation between order value and order
    // width (lineitem count). Ranks are DOUBLED MIDRANKS (2r = 2*cum
    // below + cnt + 1), computed per DISTINCT value so ties stay
    // integral and the window never touches raw rows; the factor 2
    // cancels in the correlation. rho is Pearson over the doubled
    // midranks from five exact integer sufficient statistics
    // (DECIMAL(38,0) where n*Sigma products exceed 64 bits); the final
    // double division and IEEE sqrt are the only float ops.
    QueryDef(
      "q174_spearman",
      (s, d) => {
        val items = Tables(s, d, "lineitem")
          .groupBy(col("l_orderkey").as("okey"))
          .agg(count(lit(1)).as("v"))
        val ord = Tables(s, d, "orders")
          .select(col("o_orderkey").as("okey"),
            expr("CAST(round(o_totalprice * 100, 0) AS BIGINT)").as("u"))
          .join(items, "okey")
          .localCheckpoint(true) // two midrank dicts + final agg read it
        def doubledMidrank(df: DataFrame, c: String): DataFrame = {
          val byV = df.groupBy(col(c)).agg(count(lit(1)).as("cnt"))
          // exclusive prefix over the distinct-value dictionary via the
          // two-phase prefix sum (q436 class; no unpartitioned window)
          graft.operators.ScalableRank
            .withPrefixSum(byV, Seq(col(c)), col("cnt"), "cuminc")
            .withColumn("cumb", col("cuminc") - col("cnt"))
            .select(col(c), (lit(2L) * col("cumb") + col("cnt") + lit(1L)).as(c + "r"))
        }
        ord
          .join(broadcast(doubledMidrank(ord.select("u"), "u")), "u")
          .join(broadcast(doubledMidrank(ord.select("v"), "v")), "v")
          .agg(
            count(lit(1)).as("n"),
            sum("ur").as("su"), sum("vr").as("sv"),
            sum(expr("ur * ur")).as("suu"),
            sum(expr("vr * vr")).as("svv"),
            sum(expr("ur * vr")).as("suv"))
          .select(
            col("n").as("n_orders"),
            expr("""round(
                CAST(CAST(n AS DECIMAL(38,0)) * suv - CAST(su AS DECIMAL(38,0)) * sv AS DOUBLE)
                / sqrt(CAST(CAST(n AS DECIMAL(38,0)) * suu - CAST(su AS DECIMAL(38,0)) * su AS DOUBLE)
                       * CAST(CAST(n AS DECIMAL(38,0)) * svv - CAST(sv AS DECIMAL(38,0)) * sv AS DOUBLE)),
                6)""").as("spearman_rho"))
      },
      Some("""
        WITH ord AS (
          SELECT o.o_orderkey AS okey,
                 CAST(round(o_totalprice * 100, 0) AS BIGINT) AS u,
                 i.v
          FROM orders o
          JOIN (SELECT l_orderkey, count(*) AS v FROM lineitem GROUP BY 1) i
            ON i.l_orderkey = o.o_orderkey),
        ur AS (
          SELECT u, 2 * CAST(coalesce(sum(cnt) OVER (ORDER BY u
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT)
                   + cnt + 1 AS ur
          FROM (SELECT u, count(*) AS cnt FROM ord GROUP BY 1)),
        vr AS (
          SELECT v, 2 * CAST(coalesce(sum(cnt) OVER (ORDER BY v
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT)
                   + cnt + 1 AS vr
          FROM (SELECT v, count(*) AS cnt FROM ord GROUP BY 1)),
        st AS (
          SELECT count(*) AS n,
                 CAST(sum(ur) AS BIGINT) AS su, CAST(sum(vr) AS BIGINT) AS sv,
                 CAST(sum(ur * ur) AS BIGINT) AS suu,
                 CAST(sum(vr * vr) AS BIGINT) AS svv,
                 CAST(sum(ur * vr) AS BIGINT) AS suv
          FROM ord JOIN ur USING (u) JOIN vr USING (v))
        SELECT n AS n_orders,
               round(CAST(CAST(n AS HUGEINT) * suv - CAST(su AS HUGEINT) * sv AS DOUBLE)
                 / sqrt(CAST(CAST(n AS HUGEINT) * suu - CAST(su AS HUGEINT) * su AS DOUBLE)
                        * CAST(CAST(n AS HUGEINT) * svv - CAST(sv AS HUGEINT) * sv AS DOUBLE)),
                 6) AS spearman_rho
        FROM st""")),

    // ---- one-way ANOVA F of order value across the five order
    // priorities. Works on ROUND-AT-SOURCE whole dollars so every
    // sufficient statistic (n_g, S_g, Q_g) and every half-up division
    // stays inside BIGINT/DECIMAL(38,0): X = Sigma S_g^2/n_g and
    // S^2/n are each rounded half-up once, then SSB/SSW are exact
    // integer differences and F is one round-6 double division.
    // Scale: one map-side-combined groupBy of the fact table; the k=5
    // group frame is driver-free (a 5-row aggregate of an aggregate).
    QueryDef(
      "q175_anova_f",
      (s, d) =>
        Tables(s, d, "orders")
          .select(col("o_orderpriority").as("g"),
            expr("CAST(round(o_totalprice, 0) AS BIGINT)").as("x"))
          .groupBy("g")
          .agg(count(lit(1)).as("ng"), sum("x").as("sg"),
            sum(expr("x * x")).as("qg"))
          .agg(
            count(lit(1)).as("k"),
            sum("ng").as("n"),
            sum("qg").as("q"),
            sum("sg").as("stot"),
            sum(expr("""(2 * CAST(sg AS DECIMAL(38,0)) * sg + ng) div (2 * ng)"""))
              .as("x_hat"))
          .select(
            col("k").as("n_groups"),
            col("n").as("n_orders"),
            expr("x_hat - (2 * CAST(stot AS DECIMAL(38,0)) * stot + n) div (2 * n)")
              .as("ssb"),
            expr("q - x_hat").as("ssw"),
            expr("""round(
                CAST(CAST(n - k AS DECIMAL(38,0))
                     * (x_hat - (2 * CAST(stot AS DECIMAL(38,0)) * stot + n) div (2 * n)) AS DOUBLE)
                / CAST(CAST(k - 1 AS DECIMAL(38,0)) * (q - x_hat) AS DOUBLE), 6)""").as("f_stat")),
      Some("""
        WITH g AS (
          SELECT o_orderpriority AS g, count(*) AS ng,
                 CAST(sum(CAST(round(o_totalprice, 0) AS BIGINT)) AS BIGINT) AS sg,
                 CAST(sum(CAST(round(o_totalprice, 0) AS BIGINT)
                          * CAST(round(o_totalprice, 0) AS BIGINT)) AS BIGINT) AS qg
          FROM orders GROUP BY 1),
        a AS (
          SELECT count(*) AS k, CAST(sum(ng) AS BIGINT) AS n,
                 CAST(sum(qg) AS BIGINT) AS q, CAST(sum(sg) AS BIGINT) AS stot,
                 CAST(sum((2 * CAST(sg AS HUGEINT) * sg + ng) // (2 * ng)) AS BIGINT) AS x_hat
          FROM g)
        SELECT k AS n_groups, n AS n_orders,
               CAST(x_hat - (2 * CAST(stot AS HUGEINT) * stot + n) // (2 * n) AS BIGINT) AS ssb,
               CAST(q - x_hat AS BIGINT) AS ssw,
               round(CAST((n - k) * (x_hat - (2 * CAST(stot AS HUGEINT) * stot + n) // (2 * n)) AS DOUBLE)
                 / CAST((k - 1) * (q - x_hat) AS DOUBLE), 6) AS f_stat
        FROM a""")),

    // ---- weekend-vs-weekday conversion A/B: the squared two-proportion
    // z (= 1-dof chi-square) in its ALL-INTEGER cross-product form
    // z^2 = (x1 n2 - x2 n1)^2 (n1+n2) / (n1 n2 (x1+x2)(n1+n2-x1-x2)),
    // so no p-hat, no sqrt, no intermediate float: numerator and
    // denominator are exact DECIMAL(38,0) products of one aggregate's
    // counts, divided once as doubles. The weekday comes from epoch-day
    // arithmetic ((d+4) mod 7, 1970-01-01 was a Thursday) — identical
    // on both engines, no calendar-function semantics in play.
    QueryDef(
      "q176_ab_test",
      (s, d) =>
        Tables(s, d, "events")
          .select(
            (expr("CAST(datediff(CAST(ts AS DATE), DATE '1970-01-01') AS BIGINT)")
              + lit(4L)).mod(lit(7L)).isin(0L, 6L).as("weekend"),
            when(col("event_type") === "purchase", lit(1L)).otherwise(lit(0L)).as("p"))
          .agg(
            sum(when(col("weekend"), col("p")).otherwise(lit(0L))).as("x1"),
            sum(when(col("weekend"), lit(1L)).otherwise(lit(0L))).as("n1"),
            sum(when(!col("weekend"), col("p")).otherwise(lit(0L))).as("x2"),
            sum(when(!col("weekend"), lit(1L)).otherwise(lit(0L))).as("n2"))
          .select(
            col("x1").as("weekend_purchases"), col("n1").as("weekend_events"),
            col("x2").as("weekday_purchases"), col("n2").as("weekday_events"),
            expr("""round(
                CAST(CAST(x1 AS DECIMAL(38,0)) * n2 - CAST(x2 AS DECIMAL(38,0)) * n1 AS DOUBLE)
                * CAST(CAST(x1 AS DECIMAL(38,0)) * n2 - CAST(x2 AS DECIMAL(38,0)) * n1 AS DOUBLE)
                * CAST(n1 + n2 AS DOUBLE)
                / CAST(CAST(n1 AS DECIMAL(38,0)) * n2 * (x1 + x2) * (n1 + n2 - x1 - x2) AS DOUBLE),
                6)""").as("z_squared")),
      Some("""
        WITH e AS (
          SELECT (date_diff('day', DATE '1970-01-01', CAST(ts AS DATE)) + 4) % 7
                   IN (0, 6) AS weekend,
                 CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS p
          FROM events),
        a AS (
          SELECT CAST(sum(CASE WHEN weekend THEN p ELSE 0 END) AS BIGINT) AS x1,
                 CAST(sum(CASE WHEN weekend THEN 1 ELSE 0 END) AS BIGINT) AS n1,
                 CAST(sum(CASE WHEN NOT weekend THEN p ELSE 0 END) AS BIGINT) AS x2,
                 CAST(sum(CASE WHEN NOT weekend THEN 1 ELSE 0 END) AS BIGINT) AS n2
          FROM e)
        SELECT x1 AS weekend_purchases, n1 AS weekend_events,
               x2 AS weekday_purchases, n2 AS weekday_events,
               round(CAST(x1 * n2 - x2 * n1 AS DOUBLE)
                 * CAST(x1 * n2 - x2 * n1 AS DOUBLE)
                 * CAST(n1 + n2 AS DOUBLE)
                 / CAST(CAST(n1 AS HUGEINT) * n2 * (x1 + x2) * (n1 + n2 - x1 - x2) AS DOUBLE),
                 6) AS z_squared
        FROM a""")),

    // ---- supplier revenue concentration: exact Gini, HHI, and top-10
    // share in half-up ppm. The big pass is one groupBy of lineitem;
    // the rank window then runs over the SUPPLIER DIMENSION (bounded),
    // totally ordered by (revenue, suppkey) so ties cannot reorder
    // between engines. Gini uses the sorted-cumsum identity
    // G = 2 Sigma i*x_i / (n S) - (n+1)/n, all in exact cents.
    QueryDef(
      "q177_concentration",
      (s, d) => {
        val rev = Tables(s, d, "lineitem")
          .groupBy(col("l_suppkey").as("sk"))
          .agg(sum(expr("CAST(round(l_extendedprice * 100, 0) AS BIGINT)")).as("c"))
          .localCheckpoint(true) // rank pass + ntot scalar share one scan
        // two-phase rank over the SUPPLIER dimension (q292 class — no
        // global row_number window); ntot by broadcast scalar, not an
        // everything-in-one-partition count window
        val ranked = graft.operators.ScalableRank
          .withRowNumber(rev, Seq(col("c").asc, col("sk").asc), "i")
          .crossJoin(broadcast(rev.agg(count(lit(1)).as("ntot"))))
        ranked.agg(
          count(lit(1)).as("n"),
          sum("c").as("s"),
          sum(expr("CAST(i AS DECIMAL(38,0)) * c")).as("ic"),
          sum(expr("CAST(c AS DECIMAL(38,0)) * c")).as("c2"),
          sum(when(col("i") > col("ntot") - 10, col("c")).otherwise(lit(0L))).as("t10"))
          .select(
            col("n").as("n_suppliers"),
            col("s").as("total_cents"),
            expr("""(2 * (2000000 * CAST(ic AS DECIMAL(38,0))
                          - 1000000 * (CAST(n AS DECIMAL(38,0)) + 1) * s)
                    + CAST(n AS DECIMAL(38,0)) * s) div (2 * CAST(n AS DECIMAL(38,0)) * s)""")
              .as("gini_ppm"),
            expr("(2 * 1000000 * c2 + CAST(s AS DECIMAL(38,0)) * s) div (2 * CAST(s AS DECIMAL(38,0)) * s)")
              .as("hhi_ppm"),
            expr("(2 * 1000000 * CAST(t10 AS DECIMAL(38,0)) + s) div (2 * CAST(s AS DECIMAL(38,0)))")
              .as("top10_ppm"))
      },
      Some("""
        WITH rev AS (
          SELECT l_suppkey AS sk,
                 CAST(sum(CAST(round(l_extendedprice * 100, 0) AS BIGINT)) AS BIGINT) AS c
          FROM lineitem GROUP BY 1),
        rk AS (
          SELECT c, sk, row_number() OVER (ORDER BY c, sk) AS i,
                 count(*) OVER () AS n
          FROM rev),
        a AS (
          SELECT count(*) AS n, CAST(sum(c) AS BIGINT) AS s,
                 CAST(sum(i * c) AS HUGEINT) AS ic,
                 CAST(sum(CAST(c AS HUGEINT) * c) AS HUGEINT) AS c2,
                 CAST(sum(CASE WHEN i > n - 10 THEN c ELSE 0 END) AS BIGINT) AS t10
          FROM rk)
        SELECT n AS n_suppliers, s AS total_cents,
               CAST((2 * (2000000 * ic - 1000000 * (n + 1) * CAST(s AS HUGEINT))
                     + CAST(n AS HUGEINT) * s)
                    // (2 * CAST(n AS HUGEINT) * s) AS BIGINT) AS gini_ppm,
               CAST((2 * 1000000 * c2 + CAST(s AS HUGEINT) * s)
                    // (2 * CAST(s AS HUGEINT) * s) AS BIGINT) AS hhi_ppm,
               CAST((2 * 1000000 * CAST(t10 AS HUGEINT) + s)
                    // (2 * CAST(s AS HUGEINT)) AS BIGINT) AS top10_ppm
        FROM a""")),

    // ---- Zipf shape of the corpus: OLS of ln(freq) on ln(rank) over
    // the top-1000 tokens. The vocabulary cut is a bounded-heap
    // TakeOrdered (freq desc, token asc — total order), NOT a global
    // sort; ln runs once per retained token and is rounded at source to
    // micro-nats, after which the regression is the q166 exact-integer
    // sufficient-statistics machine. A healthy natural-language corpus
    // slopes near -1; flat slopes flag templated/boilerplate text.
    QueryDef(
      "q178_zipf_slope",
      (s, d) => {
        val top = Tables(s, d, "documents")
          .select(explode(split(col("text"), " ")).as("word"))
          .filter(col("word") =!= "")
          .groupBy("word")
          .agg(count(lit(1)).as("nw"))
          .orderBy(col("nw").desc, col("word").asc)
          .limit(1000)
        top
          .withColumn("r",
            row_number().over(Window.orderBy(col("nw").desc, col("word").asc)).cast("long"))
          .select(
            expr("CAST(round(ln(CAST(r AS DOUBLE)) * 1000000) AS BIGINT)").as("x"),
            expr("CAST(round(ln(CAST(nw AS DOUBLE)) * 1000000) AS BIGINT)").as("y"))
          .agg(
            count(lit(1)).as("n"),
            sum("x").as("sx"), sum("y").as("sy"),
            sum(expr("x * x")).as("sxx"),
            sum(expr("x * y")).as("sxy"))
          .select(
            col("n").as("n_tokens"),
            expr("""round(
                CAST(CAST(n AS DECIMAL(38,0)) * sxy - CAST(sx AS DECIMAL(38,0)) * sy AS DOUBLE)
                / CAST(CAST(n AS DECIMAL(38,0)) * sxx - CAST(sx AS DECIMAL(38,0)) * sx AS DOUBLE),
                6)""").as("zipf_slope"),
            expr("""round(
                (CAST(sy AS DOUBLE)
                 - CAST(CAST(n AS DECIMAL(38,0)) * sxy - CAST(sx AS DECIMAL(38,0)) * sy AS DOUBLE)
                   / CAST(CAST(n AS DECIMAL(38,0)) * sxx - CAST(sx AS DECIMAL(38,0)) * sx AS DOUBLE)
                   * sx)
                / CAST(n AS DOUBLE), 6)""").as("zipf_intercept"))
      },
      Some("""
        WITH v AS (
          SELECT word, count(*) AS nw
          FROM (SELECT unnest(string_split(text, ' ')) AS word FROM documents) w
          WHERE word <> ''
          GROUP BY 1
          ORDER BY nw DESC, word
          LIMIT 1000),
        xy AS (
          SELECT CAST(round(ln(CAST(row_number() OVER (ORDER BY nw DESC, word) AS DOUBLE))
                      * 1000000) AS BIGINT) AS x,
                 CAST(round(ln(CAST(nw AS DOUBLE)) * 1000000) AS BIGINT) AS y
          FROM v),
        st AS (
          SELECT count(*) AS n, CAST(sum(x) AS BIGINT) AS sx, CAST(sum(y) AS BIGINT) AS sy,
                 CAST(sum(x * x) AS BIGINT) AS sxx, CAST(sum(x * y) AS BIGINT) AS sxy
          FROM xy)
        SELECT n AS n_tokens,
               round(CAST(CAST(n AS HUGEINT) * sxy - CAST(sx AS HUGEINT) * sy AS DOUBLE)
                 / CAST(CAST(n AS HUGEINT) * sxx - CAST(sx AS HUGEINT) * sx AS DOUBLE),
                 6) AS zipf_slope,
               round((CAST(sy AS DOUBLE)
                      - CAST(CAST(n AS HUGEINT) * sxy - CAST(sx AS HUGEINT) * sy AS DOUBLE)
                        / CAST(CAST(n AS HUGEINT) * sxx - CAST(sx AS HUGEINT) * sx AS DOUBLE)
                        * sx)
                 / CAST(n AS DOUBLE), 6) AS zipf_intercept
        FROM st""")),

    // ---- weekly seasonality profile of event traffic: per-weekday
    // volume index in half-up ppm of the overall daily mean
    // (index = S_d * C / (c_d * S), pure integer cross-products).
    // Weekday again from epoch-day arithmetic, not calendar functions.
    // The raw table feeds ONE daily groupBy; the 7-row profile is an
    // aggregate of ~thousands of day rows — a shape that never changes
    // with corpus size, only with calendar span.
    QueryDef(
      "q179_dow_profile",
      (s, d) => {
        val daily = Tables(s, d, "events")
          .select(expr("CAST(datediff(CAST(ts AS DATE), DATE '1970-01-01') AS BIGINT)").as("day"))
          .groupBy("day").agg(count(lit(1)).as("c"))
          .select(((col("day") + lit(4L)) % lit(7L)).as("dow"), col("c"))
        daily
          .groupBy("dow")
          .agg(count(lit(1)).as("n_days"), sum("c").as("n_events"))
          .withColumn("tot_days", sum("n_days").over(Window.partitionBy()))
          .withColumn("tot_events", sum("n_events").over(Window.partitionBy()))
          .select(
            col("dow"), col("n_days"), col("n_events"),
            expr("""(2 * 1000000 * n_events * tot_days + n_days * tot_events)
                    div (2 * n_days * tot_events)""").as("index_ppm"))
          .orderBy("dow")
      },
      Some("""
        WITH daily AS (
          SELECT (date_diff('day', DATE '1970-01-01', CAST(ts AS DATE)) + 4) % 7 AS dow,
                 count(*) AS c
          FROM events
          GROUP BY date_diff('day', DATE '1970-01-01', CAST(ts AS DATE))),
        byd AS (
          SELECT dow, count(*) AS n_days, CAST(sum(c) AS BIGINT) AS n_events
          FROM daily GROUP BY 1),
        tot AS (
          SELECT CAST(sum(n_days) AS BIGINT) AS td, CAST(sum(n_events) AS BIGINT) AS te
          FROM byd)
        SELECT dow, n_days, n_events,
               CAST((2 * 1000000 * n_events * td + n_days * te)
                    // (2 * n_days * te) AS BIGINT) AS index_ppm
        FROM byd, tot
        ORDER BY dow""")),

    // ---- per-source dataset card: the one-screen rollup a curation
    // run publishes per ingest source — volume, size, language mix
    // (dominant language by (count desc, lang asc) total order), and
    // exact-duplicate rate via count(distinct md5(text)). Everything is
    // one groupBy per statistic family over the documents table plus a
    // broadcast-sized join of per-source frames; distinct-hash is the
    // exact counterpart of the q32/q156 sketch path.
    QueryDef(
      "q180_dataset_card",
      (s, d) => {
        val docs = Tables(s, d, "documents")
        val base = docs.groupBy(col("source"))
          .agg(
            count(lit(1)).as("docs"),
            sum("n_chars").as("total_chars"),
            countDistinct(md5(col("text"))).as("uniq"),
            countDistinct(col("lang")).as("n_langs"))
        val topLang = docs.groupBy("source", "lang")
          .agg(count(lit(1)).as("ld"))
          .withColumn("rn", row_number().over(
            Window.partitionBy("source").orderBy(col("ld").desc, col("lang").asc)))
          .filter(col("rn") === 1)
          .select(col("source"), col("lang").as("top_lang"), col("ld").as("top_lang_docs"))
        base.join(topLang, "source")
          .select(
            col("source"), col("docs"), col("total_chars"), col("n_langs"),
            expr("(2 * total_chars + docs) div (2 * docs)").as("mean_chars"),
            col("top_lang"),
            expr("(2 * 1000000 * top_lang_docs + docs) div (2 * docs)").as("top_lang_ppm"),
            expr("(2 * 1000000 * (docs - uniq) + docs) div (2 * docs)").as("dup_ppm"))
          .orderBy("source")
      },
      Some("""
        WITH base AS (
          SELECT source, count(*) AS docs,
                 CAST(sum(n_chars) AS BIGINT) AS total_chars,
                 CAST(count(DISTINCT md5(text)) AS BIGINT) AS uniq,
                 CAST(count(DISTINCT lang) AS BIGINT) AS n_langs
          FROM documents GROUP BY 1),
        tl AS (
          SELECT source, lang AS top_lang, ld AS top_lang_docs
          FROM (
            SELECT source, lang, count(*) AS ld,
                   row_number() OVER (PARTITION BY source
                                      ORDER BY count(*) DESC, lang) AS rn
            FROM documents GROUP BY source, lang)
          WHERE rn = 1)
        SELECT source, docs, total_chars, n_langs,
               CAST((2 * total_chars + docs) // (2 * docs) AS BIGINT) AS mean_chars,
               top_lang,
               CAST((2 * 1000000 * top_lang_docs + docs) // (2 * docs) AS BIGINT) AS top_lang_ppm,
               CAST((2 * 1000000 * (docs - uniq) + docs) // (2 * docs) AS BIGINT) AS dup_ppm
        FROM base JOIN tl USING (source)
        ORDER BY source""")),
  )
}
