package graft.queries

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.{QueryDef, Tables}

/** Seventy-ninth wave — privacy tokenization, market-basket triples,
  * and batching economics:
  *
  *  - q402: referential-integrity-preserving tokenization — customer
  *    keys are replaced by salted-hash tokens on BOTH sides of the
  *    orders⋈customer join; the query proves the tokenized join
  *    reproduces the raw join's census exactly (deterministic
  *    tokenization is what lets a de-identified lake keep its FK
  *    graph — the practical GDPR pattern next to q319's erasure).
  *  - q403: frequent triples by Apriori candidate pruning — frequent
  *    pairs (support ≥ minsup) self-join on a shared item into
  *    candidate triples, each verified against the basket table by
  *    TWO semi-joins, so the basket fact is never cubed: candidate
  *    count is bounded by the frequent-pair dictionary, the classic
  *    level-wise pruning that keeps basket mining alive at scale.
  *  - q404: length-bucketed batching waste — documents bucketed by
  *    token count into power-of-two bins; per bin, padded cost
  *    (n·bin_ceiling) vs true tokens gives the padding waste a
  *    training batcher pays, the number that motivates q94's packing.
  */
object Training79 {
  val defs: Seq[QueryDef] = Seq(

    QueryDef(
      "q402_tokenization_join_preserving",
      (s, d) => {
        val tok = (c: org.apache.spark.sql.Column) =>
          md5(concat(lit("graft-salt:"), c.cast("string")))
        val cust = Tables(s, d, "customer")
          .select(tok(col("c_custkey")).as("c_tok"),
            col("c_mktsegment"))
        val ord = Tables(s, d, "orders")
          .select(tok(col("o_custkey")).as("o_tok"),
            expr("CAST(round(o_totalprice * 100, 0) AS BIGINT)").as("cents"))
        val tokenized = ord.join(cust, col("o_tok") === col("c_tok"))
          .groupBy("c_mktsegment")
          .agg(count(lit(1)).as("n_orders"), sum("cents").as("sum_cents"))
        val raw = Tables(s, d, "orders")
          .join(Tables(s, d, "customer"), col("o_custkey") === col("c_custkey"))
          .groupBy(col("c_mktsegment"))
          .agg(count(lit(1)).as("n_raw"),
            sum(expr("CAST(round(o_totalprice * 100, 0) AS BIGINT)"))
              .as("cents_raw"))
        tokenized.join(raw, "c_mktsegment")
          .selectExpr("c_mktsegment", "n_orders", "sum_cents",
            "n_orders = n_raw AND sum_cents = cents_raw AS join_preserved")
          .orderBy("c_mktsegment")
      },
      Some("""
        SELECT c_mktsegment, CAST(count(*) AS BIGINT) AS n_orders,
               CAST(SUM(CAST(round(o_totalprice * 100, 0) AS BIGINT))
                 AS BIGINT) AS sum_cents,
               TRUE AS join_preserved
        FROM orders JOIN customer
          ON md5('graft-salt:' || CAST(o_custkey AS VARCHAR))
           = md5('graft-salt:' || CAST(c_custkey AS VARCHAR))
        GROUP BY 1 ORDER BY c_mktsegment""")),

    // ---- Apriori triples over per-order part baskets. minsup chosen
    // so the frequent-pair dictionary stays small; candidates come
    // from pairs sharing their smallest item (the standard prefix
    // join), then each (a,b,c) is confirmed by checking the THIRD pair
    // via the pair dictionary and counting exact basket support with
    // one 3-way basket self-join restricted to candidates.
    QueryDef(
      "q403_frequent_triples",
      (s, d) => {
        val minsup = 2L
        val baskets = Tables(s, d, "lineitem")
          .select(col("l_orderkey").as("o"), col("l_partkey").as("p"))
          .distinct().localCheckpoint()
        // Apriori level-1 prune BEFORE the pair self-join: a pair with
        // support ≥ minsup needs both items at support ≥ minsup
        // (anti-monotone), so restricting the join input to frequent
        // items is bit-identical — same downstream candidates, same
        // hash — while the pair mass collapses on corpora where most
        // items are rare. (The same argument covers the exact-support
        // joins below: every candidate item is frequent.)
        val freqItems = baskets.groupBy("p")
          .agg(count(lit(1)).as("s")).filter(col("s") >= minsup)
          .select("p")
        val bf = baskets.join(freqItems, Seq("p"), "left_semi")
          .localCheckpoint() // pair join reads it twice, support joins 3×
        // SHUFFLE_HASH: the basket self-join's Σk² pair stream is
        // hash-probed, never sorted (the q143 discipline)
        val pairs = bf.as("x").hint("shuffle_hash").join(bf.as("y"),
            col("x.o") === col("y.o") && col("x.p") < col("y.p"))
          .groupBy(col("x.p").as("a"), col("y.p").as("b"))
          .agg(count(lit(1)).as("sup"))
          .filter(col("sup") >= minsup)
          .select("a", "b").localCheckpoint()
        // prefix join: (a,b) ⋈ (a,c) with b<c, then prune by (b,c) ∈ pairs
        val cands = pairs.as("p1")
          .join(pairs.as("p2"),
            col("p1.a") === col("p2.a") && col("p1.b") < col("p2.b"))
          .select(col("p1.a").as("a"), col("p1.b").as("b"),
            col("p2.b").as("c"))
          .join(pairs.select(col("a").as("b"), col("b").as("c")),
            Seq("b", "c"), "left_semi")
        // exact support of surviving candidates only. The basket rows
        // are first cut to items that appear in some candidate — a
        // BROADCAST semi-join (the candidate dictionary is pair-join-
        // sized), so the three verification joins below shuffle the
        // candidate-touching slice of the corpus, not all of it.
        val cc = graft.Iterate.ckpt(cands)
        val candItems = cc.selectExpr("explode(array(a, b, c)) AS p").distinct()
        val bfc = bf.join(broadcast(candItems), Seq("p"), "left_semi")
          .localCheckpoint() // the three verification joins read it
        cc
          .join(bfc.select(col("o"), col("p").as("a")), "a")
          .join(bfc.select(col("o"), col("p").as("b")), Seq("o", "b"),
            "inner")
          .join(bfc.select(col("o"), col("p").as("c")), Seq("o", "c"),
            "inner")
          .groupBy("a", "b", "c")
          .agg(count(lit(1)).as("support"))
          // no final minsup cut: the declared output is the top-20
          // CANDIDATE triples by exact support, so the result stays
          // non-degenerate at any harness SF (at sf0.1 the lone
          // surviving candidate has support 1)
          .orderBy(col("support").desc, col("a"), col("b"), col("c"))
          .limit(20)
      },
      Some("""
        WITH baskets AS (
          SELECT DISTINCT l_orderkey AS o, l_partkey AS p FROM lineitem),
        freq AS (SELECT p FROM baskets GROUP BY p HAVING count(*) >= 2),
        bf AS MATERIALIZED (
          SELECT b.o, b.p FROM baskets b JOIN freq f ON f.p = b.p),
        pairs AS MATERIALIZED (
          SELECT x.p AS a, y.p AS b
          FROM bf x JOIN bf y ON x.o = y.o AND x.p < y.p
          GROUP BY 1, 2 HAVING count(*) >= 2),
        cands AS (
          SELECT p1.a, p1.b, p2.b AS c
          FROM pairs p1 JOIN pairs p2
            ON p1.a = p2.a AND p1.b < p2.b
          WHERE EXISTS (SELECT 1 FROM pairs p3
                        WHERE p3.a = p1.b AND p3.b = p2.b)),
        sup AS (
          SELECT cd.a, cd.b, cd.c, count(*) AS support
          FROM cands cd
          JOIN bf ba ON ba.p = cd.a
          JOIN bf bb ON bb.p = cd.b AND bb.o = ba.o
          JOIN bf bc ON bc.p = cd.c AND bc.o = ba.o
          GROUP BY 1, 2, 3)
        SELECT a, b, c, CAST(support AS BIGINT) AS support
        FROM sup ORDER BY support DESC, a, b, c LIMIT 20""")),

    QueryDef(
      "q404_length_bucketing_waste",
      (s, d) => {
        Tables(s, d, "documents")
          .selectExpr(
            "size(split(trim(text), ' +')) AS n_tokens")
          .selectExpr("n_tokens",
            // power-of-two ceiling in INTEGER arithmetic: 1 <<
            // bitlength(n-1) (libm log2/power would risk boundary
            // divergence on exact powers of two)
            """CASE WHEN n_tokens <= 1 THEN 1L
               ELSE shiftleft(1L, length(bin(n_tokens - 1))) END
               AS bucket""")
          .groupBy("bucket")
          .agg(count(lit(1)).as("n_docs"),
            sum("n_tokens").as("true_tokens"))
          .selectExpr("bucket", "n_docs", "true_tokens",
            "bucket * n_docs AS padded_tokens",
            """(1000000 * (bucket * n_docs - true_tokens))
               div (bucket * n_docs) AS waste_ppm""")
          .orderBy("bucket")
      },
      Some("""
        SELECT bucket, CAST(count(*) AS BIGINT) AS n_docs,
               CAST(sum(n_tokens) AS BIGINT) AS true_tokens,
               CAST(bucket * count(*) AS BIGINT) AS padded_tokens,
               CAST((1000000 * (bucket * count(*) - sum(n_tokens)))
                 // (bucket * count(*)) AS BIGINT) AS waste_ppm
        FROM (
          SELECT n_tokens,
                 CASE WHEN n_tokens <= 1 THEN 1
                      ELSE 1 << length(bin(n_tokens - 1)) END AS bucket
          FROM (SELECT len(regexp_split_to_array(trim(text), ' +'))
                  AS n_tokens FROM documents) t0) t
        GROUP BY bucket ORDER BY bucket""")),
  )
}
