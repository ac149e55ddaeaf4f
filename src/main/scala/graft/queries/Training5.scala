package graft.queries

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.{QueryDef, Tables}
import graft.Num.{dsum, dsumSql}
import graft.operators.TextOps.{hash60Duck, hash60Spark}

/** Fifth wave: the remaining standard shapes a production pipeline
  * leans on — a stream-static dimension join (the streaming-enrichment
  * pattern: the static side is broadcast fresh per micro-batch, no
  * state), percentile winsorization (outlier clipping, the gentler
  * sibling of the wafer IQR *removal*), and per-domain quota selection
  * (keep the best documents of each source until a byte budget is hit
  * — integer-exact cumulative window arithmetic).
  */
object Training5 {
  val defs: Seq[QueryDef] = Seq(

    // ---- stream-static join: the event stream enriched with the
    // customer dimension, then aggregated per market segment. The
    // static side joins broadcast (dimension tables are driver-size
    // even at 100 TB fact scale) and requires NO stream state beyond
    // the aggregation itself; complete-mode output over a 5-key
    // aggregate is a driver-size result. The memory-sink run drains
    // the whole file stream, so the result equals the batch join the
    // oracle computes.
    QueryDef(
      "q121_stream_static_join",
      (s, d) => {
        import graft.streaming.EventStreams
        val cust = broadcast(
          Tables(s, d, "customer").select(col("c_custkey"), col("c_mktsegment")))
        val joined = Tables.eventsStream(s, d)
          .join(cust, col("user_id") === col("c_custkey"))
          .groupBy("c_mktsegment")
          .agg(count(lit(1)).as("n_events"), dsum(col("value")).as("sum_value"))
        EventStreams.runToMemorySink(joined)
      },
      Some(s"""
        SELECT c_mktsegment, count(*) AS n_events, ${dsumSql("value")} AS sum_value
        FROM events e JOIN customer c ON c.c_custkey = e.user_id
        GROUP BY 1"""),
    ),

    // ---- percentile winsorization: clip l_extendedprice to its global
    // [p01, p99] band and report, per return flag, how many rows each
    // side clipped and the winsorized sum. Two passes (grouped
    // percentile → broadcast bounds → map-side clip + aggregate) — the
    // same agg→broadcast→filter shape as the wafer IQR operator, and
    // like it, the exact percentile swaps for the t-digest rewrite at
    // 100 TB (spark.graft.approxQuantiles). Bounds are rounded to 6 dp
    // at the source (the libm/interpolation discipline), clipped values
    // accumulate in exact decimal.
    QueryDef(
      "q122_winsorize",
      (s, d) => {
        val li = Tables(s, d, "lineitem")
        val bounds = li.agg(
          round(expr("percentile(l_extendedprice, 0.01)"), 6).as("lo"),
          round(expr("percentile(l_extendedprice, 0.99)"), 6).as("hi"))
        li.crossJoin(broadcast(bounds))
          .groupBy("l_returnflag")
          .agg(
            count(lit(1)).as("n_rows"),
            sum(when(col("l_extendedprice") < col("lo"), 1L).otherwise(0L)).as("n_lo"),
            sum(when(col("l_extendedprice") > col("hi"), 1L).otherwise(0L)).as("n_hi"),
            dsum(greatest(col("lo"), least(col("hi"), col("l_extendedprice"))))
              .as("sum_winsorized"))
      },
      Some(s"""
        WITH b AS (
          SELECT round(quantile_cont(l_extendedprice, 0.01), 6) AS lo,
                 round(quantile_cont(l_extendedprice, 0.99), 6) AS hi
          FROM lineitem)
        SELECT l_returnflag, count(*) AS n_rows,
               CAST(sum(CASE WHEN l_extendedprice < lo THEN 1 ELSE 0 END) AS BIGINT) AS n_lo,
               CAST(sum(CASE WHEN l_extendedprice > hi THEN 1 ELSE 0 END) AS BIGINT) AS n_hi,
               ${dsumSql("greatest(lo, least(hi, l_extendedprice))")} AS sum_winsorized
        FROM lineitem, b
        GROUP BY 1"""),
    ),

    // ---- per-domain quota selection: within each source, rank
    // documents best-first (longest, doc_id tiebreak) and keep them
    // while the running character total BEFORE the document stays under
    // 60% of the source's budget — the mixture-shaping step that caps
    // each domain's byte share while keeping its best documents.
    // Integer-exact: the keep test is (cum_before * 10 < total * 6) in
    // BIGINT — no ratio ever materializes. One shuffle (the per-source
    // window); the summary agg reuses the same partitioning.
    QueryDef(
      "q123_domain_quota",
      (s, d) => {
        val w = Window.partitionBy("source")
          .orderBy(col("n_chars").desc, col("doc_id").asc)
        Tables(s, d, "documents")
          .withColumn("cum_before",
            coalesce(
              sum("n_chars").over(w.rowsBetween(Window.unboundedPreceding, -1)),
              lit(0L)))
          .withColumn("total", sum("n_chars").over(Window.partitionBy("source")))
          .filter(col("cum_before") * 10 < col("total") * 6)
          .groupBy("source")
          .agg(
            count(lit(1)).as("n_kept"),
            sum("n_chars").as("chars_kept"),
            max("total").as("chars_total"))
      },
      Some("""
        WITH ranked AS (
          SELECT source, n_chars,
                 coalesce(sum(n_chars) OVER (
                   PARTITION BY source ORDER BY n_chars DESC, doc_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cum_before,
                 sum(n_chars) OVER (PARTITION BY source) AS total
          FROM documents)
        SELECT source, count(*) AS n_kept,
               CAST(sum(n_chars) AS BIGINT) AS chars_kept,
               CAST(max(total) AS BIGINT) AS chars_total
        FROM ranked
        WHERE cum_before * 10 < total * 6
        GROUP BY 1"""),
    ),

    // ---- class-balanced downsampling: every label downsampled to the
    // minority class's count, members chosen by md5-rank of the id — a
    // pure function of the data, so the balanced set is reproducible
    // across engines, runs, and cluster sizes (same determinism recipe
    // as the q61/q93 samplers). One keyed window + a broadcast scalar;
    // id_sum pins the exact membership, not just the counts.
    QueryDef(
      "q128_label_balance",
      (s, d) => {
        val emb = Tables(s, d, "embeddings").select(col("vec_id"), col("label"))
        val m = emb.groupBy("label").agg(count(lit(1)).as("n"))
          .agg(min("n").as("m"))
        val ranked = emb.withColumn("rk",
          row_number().over(Window.partitionBy("label")
            .orderBy(expr(hash60Spark("cast(vec_id as string)")), col("vec_id"))))
        ranked.crossJoin(broadcast(m))
          .filter(col("rk") <= col("m"))
          .groupBy("label")
          .agg(count(lit(1)).as("n_kept"), sum("vec_id").as("id_sum"))
      },
      Some(s"""
        WITH m AS (
          SELECT min(n) AS m FROM (
            SELECT label, count(*) AS n FROM embeddings GROUP BY 1)),
        ranked AS (
          SELECT label, vec_id,
                 row_number() OVER (PARTITION BY label
                   ORDER BY ${hash60Duck("vec_id::VARCHAR")}, vec_id) AS rk
          FROM embeddings)
        SELECT label, count(*) AS n_kept, CAST(sum(vec_id) AS BIGINT) AS id_sum
        FROM ranked, m WHERE rk <= m
        GROUP BY label"""),
    ),

    // ---- streaming MERGE/upsert as a declared query: the event stream
    // flows through Sinks.streamUpsert (foreachBatch snapshot rewrite,
    // keyed by user, versioned by event_id) and the result read back is
    // the latest event per user — exactly the batch window the oracle
    // computes. event_id is unique, so the upsert's precedence order is
    // total and the snapshot deterministic; each run streams into a
    // fresh scratch root, so re-runs replay identically.
    QueryDef(
      "q129_stream_upsert",
      (s, d) => {
        import graft.sources.Sinks
        // per-RUN unique root (not just per-dataset): a concurrent
        // Verify over the same sfDir must not wipe this run's live
        // checkpoint/snapshot state out from under the stream
        val root = new java.io.File(
          sys.props("java.io.tmpdir"),
          s"graft_q129_${java.util.UUID.randomUUID().toString.take(8)}")
        root.deleteOnExit()
        val q = Sinks.streamUpsert(
          Tables.eventsStream(s, d),
          s"$root/ckpt", s"$root/snap",
          keyCols = Seq("user_id"), versionCol = "event_id")
        try q.processAllAvailable() finally q.stop()
        Sinks.readLatestSnapshot(s, s"$root/snap")
          .select("user_id", "event_id", "event_type", "value")
      },
      Some("""
        SELECT user_id, event_id, event_type, value
        FROM (SELECT user_id, event_id, event_type, value,
                     row_number() OVER (PARTITION BY user_id
                                        ORDER BY event_id DESC) AS rn
              FROM events)
        WHERE rn = 1"""),
    ),

    // ---- CDC apply with deletes: a change batch carrying op codes
    // (D/U/I — derived deterministically from the keyspace) applied to
    // the customer snapshot. Deletes anti-join out, updates take batch
    // precedence, inserts extend the keyspace — the full
    // Debezium-consumer MERGE, one shuffle on the key (vs q75's
    // upsert-only merge). Output is the per-segment rollup of the new
    // snapshot plus the action ledger every CDC consumer audits.
    QueryDef(
      "q131_cdc_apply",
      (s, d) => {
        val base = Tables(s, d, "customer")
          .select(col("c_custkey"), col("c_acctbal"), col("c_mktsegment"))
        val changes = base.filter(col("c_custkey") % 7 === 0)
          .select(col("c_custkey"), lit("D").as("op"),
            lit(null).cast("double").as("n_acctbal"),
            lit(null).cast("string").as("n_mktsegment"))
          .unionAll(base.filter(col("c_custkey") % 7 === 1)
            .select(col("c_custkey"), lit("U").as("op"),
              (col("c_acctbal") + 100.0).as("n_acctbal"),
              lit("UPDATED").as("n_mktsegment")))
          .unionAll(base.agg(max("c_custkey").as("mx"))
            .select(explode(expr("sequence(mx + 1, mx + 25)")).as("c_custkey"),
              lit("I").as("op"), lit(50.0).as("n_acctbal"),
              lit("INSERTED").as("n_mktsegment")))
        base.as("b").join(changes.as("c"), Seq("c_custkey"), "full_outer")
          .filter(coalesce(col("c.op"), lit("")) =!= "D")
          .select(
            coalesce(col("c.n_acctbal"), col("b.c_acctbal")).as("acctbal"),
            coalesce(col("c.n_mktsegment"), col("b.c_mktsegment")).as("mktsegment"))
          .groupBy("mktsegment")
          .agg(count(lit(1)).as("n_rows"), dsum(col("acctbal")).as("sum_acctbal"))
      },
      Some(s"""
        WITH base AS (
          SELECT c_custkey, c_acctbal, c_mktsegment FROM customer),
        changes AS (
          SELECT c_custkey, 'D' AS op, CAST(NULL AS DOUBLE) AS n_acctbal,
                 CAST(NULL AS VARCHAR) AS n_mktsegment
          FROM base WHERE c_custkey % 7 = 0
          UNION ALL
          SELECT c_custkey, 'U', c_acctbal + 100.0, 'UPDATED'
          FROM base WHERE c_custkey % 7 = 1
          UNION ALL
          SELECT unnest(generate_series(mx + 1, mx + 25)), 'I', 50.0, 'INSERTED'
          FROM (SELECT max(c_custkey) AS mx FROM base)),
        applied AS (
          SELECT coalesce(c.n_acctbal, b.c_acctbal) AS acctbal,
                 coalesce(c.n_mktsegment, b.c_mktsegment) AS mktsegment
          FROM base b FULL OUTER JOIN changes c ON c.c_custkey = b.c_custkey
          WHERE coalesce(c.op, '') <> 'D')
        SELECT mktsegment, count(*) AS n_rows, ${dsumSql("acctbal")} AS sum_acctbal
        FROM applied GROUP BY 1"""),
    ),
  )
}
