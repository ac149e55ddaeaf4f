package graft.queries

import org.apache.commons.io.FileUtils
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.{Num, QueryDef, Tables}
import graft.operators.TextOps.{hash60Duck, hash60Spark}

/** Thirty-first wave — four new first-class capabilities:
  *
  *  - q250: word2vec-style SKIP-GRAM training-pair generation with
  *    deterministic frequency subsampling — the data-prep step that
  *    feeds embedding training (the corpus side of the q137 negative
  *    sampler).
  *  - q251: leave-one-out target encoding with prior smoothing — the
  *    leakage-safe categorical feature encoder (each row's own label
  *    is excluded from its encoding; the q113/q248 split discipline
  *    applied to feature engineering).
  *  - q252: KMV/theta-sketch distinct-set INTERSECTION estimate —
  *    completes the sketch family (HLL q32 counts one set, CMS q133
  *    frequencies, Bloom q140 membership) with the set-OPERATION
  *    sketch, fully integer-deterministic so the estimate itself is
  *    hash-pinned, not just its error contract.
  *  - q253: bucketed co-located fact⋈fact join DECLARED as a query —
  *    the q196/SourcesSpec storage-layout story promoted to a
  *    hash-pinned capability: both facts are written bucketed on the
  *    join key, and the join runs with zero exchanges.
  */
object Training31 {
  val defs: Seq[QueryDef] = Seq(

    // ---- skip-gram pairs: tokenize with positions, subsample frequent
    // words deterministically (an occurrence of word w with corpus
    // count c survives iff hash60('ss:'doc:pos) % 1e6 * c < 1e6 * T —
    // so words with c <= T always survive and a word 10x over the
    // threshold keeps ~T/c of its occurrences, the word2vec 1/f
    // discount in exact integer form), then emit (center, context)
    // pairs for |Δpos| <= 2 and count them. Scale shape: the window
    // join is an EQUI-join — centers explode 4 literal offsets and
    // join context tokens on (doc_id, pos) — so pair mass is <= 4x
    // the surviving token mass, linear in the corpus; the frequency
    // table is vocab-sized (broadcast); top-50 is TakeOrdered, never
    // a global sort.
    QueryDef(
      "q250_skipgram_pairs",
      (s, d) => {
        val T = 100L
        val toks = Tables(s, d, "documents")
          .select(col("doc_id"),
            posexplode(split(col("text"), " ")).as(Seq("pos0", "word")))
          .filter(col("word") =!= "")
          .select(col("doc_id"), (col("pos0") + 1).as("pos"), col("word"))
        val wc = toks.groupBy("word").agg(count(lit(1)).as("c"))
        val kept = toks.join(broadcast(wc), Seq("word"))
          .filter(
            (expr(hash60Spark("concat('ss:', doc_id, ':', pos)")) % 1000000L)
              * col("c") < lit(1000000L) * lit(T))
          .select("doc_id", "pos", "word")
        val ctx = kept
          .select(col("doc_id"), col("pos").as("ctx_pos"),
            col("word").as("context"))
        kept
          .select(col("doc_id"), col("word").as("center"), col("pos"),
            explode(array(lit(-2), lit(-1), lit(1), lit(2))).as("dd"))
          .withColumn("ctx_pos", col("pos") + col("dd"))
          .join(ctx, Seq("doc_id", "ctx_pos"))
          .groupBy("center", "context")
          .agg(count(lit(1)).as("n"))
          .orderBy(col("n").desc, col("center").asc, col("context").asc)
          .limit(50)
      },
      Some(s"""
        WITH toks0 AS (
          SELECT doc_id,
                 unnest(range(1, len(w) + 1)) AS pos,
                 unnest(w) AS word
          FROM (SELECT doc_id, string_split(text, ' ') AS w FROM documents)),
        tok AS (SELECT * FROM toks0 WHERE word <> ''),
        wc AS (SELECT word, count(*) AS c FROM tok GROUP BY 1),
        kept AS (
          SELECT tok.doc_id, tok.pos, tok.word
          FROM tok JOIN wc USING (word)
          WHERE (${hash60Duck("'ss:' || doc_id || ':' || pos")} % 1000000)
                  * c < 1000000 * 100),
        pairs AS (
          SELECT c.word AS center, x.word AS context
          FROM kept c JOIN kept x
            ON x.doc_id = c.doc_id
           AND x.pos <> c.pos
           AND x.pos BETWEEN c.pos - 2 AND c.pos + 2)
        SELECT center, context, count(*) AS n
        FROM pairs GROUP BY 1, 2
        ORDER BY n DESC, center, context
        LIMIT 50"""),
    ),

    // ---- leave-one-out target encoding with prior smoothing:
    // enc_i = ((S_cat − y_i) + m·prior) / ((n_cat − 1) + m), m = 25.
    // Excluding the row's own target from its encoding is what makes
    // the feature leakage-safe (a category of one row degrades to the
    // smoothed prior instead of memorizing its own label). Scale
    // shape: ONE dictionary-sized keyed agg (5 priorities) + ONE
    // global agg, both broadcast back onto the fact — the encode pass
    // is map-side; the declared 20-row sample is TakeOrdered. Sums go
    // through decimal (Num.dsum) so numerators are bit-identical
    // cross-engine; the final double divide is a single IEEE op on
    // identical inputs.
    QueryDef(
      "q251_target_encoding",
      (s, d) => {
        val o = Tables(s, d, "orders")
          .select(col("o_orderkey"), col("o_orderpriority"), col("o_totalprice"))
        val cat = o.groupBy("o_orderpriority")
          .agg(Num.dsum(col("o_totalprice")).as("s"), count(lit(1)).as("n"))
        val g = o.agg(Num.davg(col("o_totalprice")).as("p"))
        o.join(broadcast(cat), Seq("o_orderpriority"))
          .crossJoin(broadcast(g))
          .select(
            col("o_orderkey"), col("o_orderpriority"),
            col("o_totalprice").as("price"),
            (((col("s") - col("o_totalprice")) + (lit(25.0) * col("p"))) /
              ((col("n") - 1).cast("double") + lit(25.0))).as("enc_loo"))
          .orderBy("o_orderkey")
          .limit(20)
      },
      Some(s"""
        WITH cat AS (
          SELECT o_orderpriority,
                 ${Num.dsumSql("o_totalprice")} AS s,
                 count(*) AS n
          FROM orders GROUP BY 1),
        g AS (SELECT ${Num.davgSql("o_totalprice")} AS p FROM orders)
        SELECT o_orderkey, o_orderpriority,
               o_totalprice AS price,
               ((s - o_totalprice) + (25.0 * p)) /
                 (CAST(n - 1 AS DOUBLE) + 25.0) AS enc_loo
        FROM orders JOIN cat USING (o_orderpriority), g
        ORDER BY o_orderkey
        LIMIT 20"""),
    ),

    // ---- KMV (theta) sketch set intersection: per event type, keep
    // the k=64 smallest 40-bit hashes of the distinct user set (h60
    // truncated to its top 40 bits so every downstream product stays
    // in BIGINT); θ = min over the two sketches of (k-th smallest, or
    // 2^40 when the set has < k members — the sketch holds the whole
    // set exactly); est = |common sketch hashes < θ| · 2^40 / θ in
    // exact integer floor division. The WHOLE estimator is integer
    // arithmetic on md5 — the oracle recomputes the estimate itself,
    // not just an error flag (stronger than the q32/q133 contract
    // pattern). The in-bound flag (|est−exact| ≤ union/2, i.e. the
    // 4/√k envelope at k=64) is also computed, identically, in both
    // engines. Scale shape: distinct (type,user) is one keyed
    // shuffle; the per-type k-smallest is a rank window that
    // WindowGroupLimit prunes map-side; everything after is
    // sketch-sized (≤ 2k rows).
    QueryDef(
      "q252_kmv_intersection",
      (s, d) => {
        val K = 64
        val FULL = 1099511627776L // 2^40
        val tu = Tables(s, d, "events")
          .filter(col("event_type").isin("click", "purchase"))
          .select("event_type", "user_id").distinct()
          .withColumn("h",
            expr(s"(${hash60Spark("concat('kmv:', user_id)")}) div 1048576"))
        val sk = tu
          .withColumn("rk", row_number().over(
            Window.partitionBy("event_type").orderBy(col("h"), col("user_id"))))
          .filter(col("rk") <= K)
        val theta = sk.groupBy("event_type")
          .agg(max("h").as("mx"), count(lit(1)).as("cnt"))
          .agg(min(when(col("cnt") >= K, col("mx")).otherwise(FULL)).as("theta"))
        val common = sk.filter(col("event_type") === "click").select("h")
          .intersect(sk.filter(col("event_type") === "purchase").select("h"))
          .agg(count(lit(1)).as("nc"))
        val exact = Tables(s, d, "events")
          .filter(col("event_type").isin("click", "purchase"))
          .select("event_type", "user_id").distinct()
          .groupBy("user_id").agg(count(lit(1)).as("nt"))
          .agg(
            sum(when(col("nt") === 2, 1L).otherwise(0L)).as("n_exact_both"),
            count(lit(1)).as("n_exact_union"))
        val commonUnder = sk.filter(col("event_type") === "click").select("h")
          .intersect(sk.filter(col("event_type") === "purchase").select("h"))
          .crossJoin(broadcast(theta))
          .filter(col("h") < col("theta"))
          .agg(count(lit(1)).as("ncu"))
        broadcast(exact)
          .crossJoin(broadcast(theta))
          .crossJoin(broadcast(commonUnder))
          .select(
            col("n_exact_both"), col("n_exact_union"),
            // exact integer floor division (Spark `div`), matching the
            // DuckDB oracle's `//` — Double `/` + cast(long) can cross
            // an integer boundary when the true quotient sits within an
            // ulp of it, breaking the hash-pinned match.
            expr(s"(ncu * ${FULL}L) div theta").as("est_both"))
          .select(
            col("n_exact_both"), col("n_exact_union"), col("est_both"),
            (abs(col("est_both") - col("n_exact_both")) * 2 <=
              col("n_exact_union")).as("kmv_ok"))
      },
      Some(s"""
        WITH tu AS (
          SELECT DISTINCT event_type, user_id
          FROM events WHERE event_type IN ('click', 'purchase')),
        h AS (
          SELECT event_type, user_id,
                 ${hash60Duck("'kmv:' || user_id")} // 1048576 AS h
          FROM tu),
        sk AS (
          SELECT event_type, h FROM (
            SELECT event_type, h,
                   row_number() OVER (PARTITION BY event_type
                                      ORDER BY h, user_id) AS rk
            FROM h)
          WHERE rk <= 64),
        theta AS (
          SELECT min(CASE WHEN cnt >= 64 THEN mx ELSE 1099511627776 END) AS theta
          FROM (SELECT event_type, max(h) AS mx, count(*) AS cnt
                FROM sk GROUP BY 1)),
        common AS (
          SELECT a.h FROM sk a JOIN sk b ON a.h = b.h
          WHERE a.event_type = 'click' AND b.event_type = 'purchase'),
        ncu AS (
          SELECT count(*) AS ncu FROM common, theta WHERE h < theta),
        exact AS (
          SELECT CAST(count(*) FILTER (WHERE nt = 2) AS BIGINT) AS n_exact_both,
                 count(*) AS n_exact_union
          FROM (SELECT user_id, count(*) AS nt FROM tu GROUP BY 1))
        SELECT n_exact_both, n_exact_union,
               (ncu * 1099511627776) // theta AS est_both,
               abs((ncu * 1099511627776) // theta - n_exact_both) * 2
                 <= n_exact_union AS kmv_ok
        FROM exact, theta, ncu"""),
    ),

    // ---- bucketed co-located join, declared: both facts are written
    // as bucketed tables on the join key (16 buckets, external path
    // under tmp so no warehouse directory appears in the repo), then
    // joined with a MERGE hint — the bucket layout already partitions
    // both sides on the key, so the SortMergeJoin runs with ZERO
    // exchanges (PlanSpec gates exactly that). This is the 100 TB
    // co-location story as a hash-pinned query: at scale the bucketed
    // write is paid once and every subsequent key join rides it free.
    QueryDef(
      "q253_bucketed_join",
      (s, d) => {
        val hex = Integer.toHexString(d.hashCode)
        val root = java.nio.file.Paths.get(
          sys.props("java.io.tmpdir"), s"graft_bucketed_$hex").toString
        val liTable = s"graft_b_li_$hex"
        val oTable = s"graft_b_o_$hex"
        s.sql(s"DROP TABLE IF EXISTS $liTable")
        s.sql(s"DROP TABLE IF EXISTS $oTable")
        FileUtils.deleteQuietly(new java.io.File(root))
        Tables(s, d, "lineitem")
          .select("l_orderkey", "l_extendedprice", "l_discount")
          .write.mode("overwrite").option("path", s"$root/li")
          .bucketBy(16, "l_orderkey").sortBy("l_orderkey").saveAsTable(liTable)
        Tables(s, d, "orders")
          .select("o_orderkey", "o_orderstatus")
          .write.mode("overwrite").option("path", s"$root/o")
          .bucketBy(16, "o_orderkey").sortBy("o_orderkey").saveAsTable(oTable)
        s.table(liTable).hint("merge")
          .join(s.table(oTable), col("l_orderkey") === col("o_orderkey"))
          .groupBy("o_orderstatus")
          .agg(
            count(lit(1)).as("n_items"),
            Num.dsum(col("l_extendedprice") * (lit(1.0) - col("l_discount")))
              .as("revenue"))
          .orderBy("o_orderstatus")
      },
      Some(s"""
        SELECT o_orderstatus,
               count(*) AS n_items,
               ${Num.dsumSql("l_extendedprice * (1.0 - l_discount)")} AS revenue
        FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        GROUP BY 1 ORDER BY 1"""),
    ),
  )
}
