package graft.queries

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._

import graft.{QueryDef, Tables}

/** Forty-seventh wave — Spark-4 sketch functions, XML ingestion, and
  * pipe SQL syntax:
  *
  *  - q313: `approx_top_k` heavy hitters, gated on the containment
  *    contract (every exact top-5 word must appear in the sketch's
  *    top-10) — robust to sketch merge order, like the q133 CMS gate.
  *  - q314: Apache DataSketches HLL (`hll_sketch_agg` →
  *    `hll_sketch_estimate` + `hll_union_agg` cross-group union), gated
  *    on the lgK=14 error contract (±5%, ~6σ headroom) — the mergeable
  *    registry-sketch shape q32/q156 declare via approx_count_distinct,
  *    now as a FIRST-CLASS reusable sketch column that can be stored
  *    and re-merged (the cross-snapshot rollup a 100 TB metric store
  *    needs).
  *  - q315: `from_xml` ingestion of planted XML payloads — parse into
  *    a typed struct, aggregate the parsed fields; the oracle
  *    recomputes from the source columns, so a parser that drops or
  *    mistypes a field hash-fails.
  *  - q316: SQL pipe syntax (`|>` FROM → WHERE → AGGREGATE → ORDER) —
  *    Spark 4's linear query form, same Catalyst plan as the nested
  *    SQL the oracle runs.
  */
object Training47 {
  val defs: Seq[QueryDef] = Seq(

    // ---- approx_top_k heavy hitters with a containment gate. The
    // sketch tracks 10k items; its top-10 must contain every EXACT
    // top-5 word (frequent-items guarantee at this skew), which is the
    // merge-order-robust contract — the exact counts are the oracle
    // witnesses (one word-count agg, the same pass the exact answer
    // needs anyway).
    QueryDef(
      "q313_approx_top_k",
      (s, d) => {
        val words = Tables(s, d, "documents")
          .select(explode(split(col("text"), " ")).as("word"))
          .filter(col("word") =!= "")
        val approx = words
          .agg(expr("approx_top_k(word, 10, 10000)").as("tk"))
          .head().getSeq[Row](0).map(_.getString(0)).toSet
        words.groupBy("word").agg(count(lit(1)).as("n_exact"))
          .orderBy(col("n_exact").desc, col("word").asc)
          .limit(5)
          .withColumn("in_approx_topk", col("word").isInCollection(approx))
      },
      Some("""
        WITH w AS (
          SELECT unnest(string_split(text, ' ')) AS word FROM documents)
        SELECT word, count(*) AS n_exact, TRUE AS in_approx_topk
        FROM w WHERE word <> ''
        GROUP BY 1 ORDER BY n_exact DESC, word LIMIT 5""")),

    // ---- DataSketches HLL: one sketch per event type (lgK=14 ⇒
    // ~0.8% relative standard error), estimates gated at ±5%, plus the
    // UNION row — sketches merged with hll_union_agg and gated against
    // the exact all-types distinct. The sketch column is a reusable
    // binary artifact (storable, re-mergeable across snapshots); the
    // exact distincts are the oracle witnesses.
    QueryDef(
      "q314_hll_sketch_union",
      (s, d) => {
        val ev = Tables(s, d, "events").select("event_type", "user_id")
        val per = ev.groupBy("event_type")
          .agg(expr("hll_sketch_agg(user_id, 14)").as("sk"),
            countDistinct("user_id").as("n_exact"))
          .localCheckpoint() // estimate + union both read it
        val perOut = per.select(col("event_type"), col("n_exact"),
          (abs(expr("hll_sketch_estimate(sk)") - col("n_exact")) * 20 <=
            col("n_exact")).as("hll_ok"))
        val exactAll = ev.agg(countDistinct("user_id").as("n_exact"))
        val unionOut = per.agg(expr("hll_union_agg(sk)").as("u"))
          .crossJoin(broadcast(exactAll))
          .select(lit("__union__").as("event_type"), col("n_exact"),
            (abs(expr("hll_sketch_estimate(u)") - col("n_exact")) * 20 <=
              col("n_exact")).as("hll_ok"))
        perOut.unionByName(unionOut).orderBy("event_type")
      },
      Some("""
        WITH per AS (
          SELECT event_type, count(DISTINCT user_id) AS n_exact
          FROM events GROUP BY 1),
        un AS (
          SELECT '__union__' AS event_type, count(DISTINCT user_id) AS n_exact
          FROM events)
        SELECT event_type, n_exact, TRUE AS hll_ok FROM per
        UNION ALL SELECT event_type, n_exact, TRUE FROM un
        ORDER BY event_type""")),

    // ---- from_xml ingestion: an XML payload is planted per document
    // (id / lang / char length), parsed back through the typed-schema
    // XML reader, and the PARSED struct fields are aggregated per
    // lang. The oracle aggregates the source columns directly — any
    // parse defect (dropped field, mistyped number, entity mishandling)
    // changes the rollup and hash-fails. Per-row parse into one
    // dictionary-keyed agg.
    QueryDef(
      "q315_from_xml",
      (s, d) =>
        Tables(s, d, "documents")
          .select(concat(
            lit("<doc><id>"), col("doc_id"),
            lit("</id><lang>"), col("lang"),
            lit("</lang><len>"), length(col("text")),
            lit("</len></doc>")).as("xml"))
          .select(expr(
            "from_xml(xml, 'id BIGINT, lang STRING, len INT')").as("p"))
          .groupBy(col("p.lang").as("lang"))
          .agg(count(lit(1)).as("n_docs"),
            sum(col("p.len").cast("long")).as("sum_len"),
            max(col("p.id")).as("max_id"))
          .orderBy("lang"),
      Some("""
        SELECT lang, count(*) AS n_docs,
               CAST(sum(length(text)) AS BIGINT) AS sum_len,
               max(doc_id) AS max_id
        FROM documents GROUP BY 1 ORDER BY lang""")),

    // ---- SQL pipe syntax: the linear |> form (FROM → WHERE →
    // AGGREGATE … GROUP BY → SELECT → ORDER BY) — reads top-to-bottom
    // like a DataFrame chain and parses to the SAME Catalyst plan as
    // the nested oracle SQL, so this pins the pipe-parser surface, not
    // new semantics. Exact-cents money math.
    QueryDef(
      "q316_sql_pipe_syntax",
      (s, d) => {
        Tables(s, d, "lineitem").createOrReplaceTempView("li_pipe")
        s.sql("""
          FROM li_pipe
          |> WHERE l_quantity < 25
          |> AGGREGATE count(*) AS n,
               sum(CAST(round(l_extendedprice * 100, 0) AS BIGINT)) AS cents
             GROUP BY l_returnflag
          |> SELECT l_returnflag, n, cents
          |> ORDER BY l_returnflag""")
      },
      Some("""
        SELECT l_returnflag, count(*) AS n,
               CAST(sum(CAST(round(l_extendedprice * 100, 0) AS BIGINT))
                 AS BIGINT) AS cents
        FROM lineitem WHERE l_quantity < 25
        GROUP BY 1 ORDER BY l_returnflag""")),
  )
}
