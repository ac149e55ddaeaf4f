package graft.queries

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.{QueryDef, Tables}

/** Forty-ninth wave — storage-format breadth and streaming×sketch
  * composition:
  *
  *  - q320: ORC round-trip (write → filtered read → agg): the
  *    second columnar format beside parquet, same pushdown/pruning
  *    machinery, so a deployment can read/write either.
  *  - q321: JSON-lines round-trip with an explicit schema (the
  *    interchange format every ingestion edge speaks); money kept in
  *    integer cents so the text round-trip is exact.
  *  - q322: per-day quantile bands computed BY THE STREAMING ENGINE
  *    (approx_percentile inside a streaming complete-mode agg), gated
  *    by the same q295 rank contract against the batch table — the
  *    lambda-parity proof for sketch aggregation.
  */
object Training49 {
  val defs: Seq[QueryDef] = Seq(

    // ---- ORC round-trip: a lineitem projection written as ORC
    // (zlib, the default), read back with a pushed filter, aggregated
    // in exact cents. ORC carries the same column-pruning/predicate-
    // pushdown contract as parquet (file-level min/max + dictionary);
    // the oracle reads the ORIGINAL parquet, so any write/read fidelity
    // loss (type mapping, null handling) hash-fails. The write is a
    // one-time stage (q220/q247-style write-heavy entry).
    QueryDef(
      "q320_orc_roundtrip",
      (s, d) => {
        val dir = java.nio.file.Paths.get(
          sys.props("java.io.tmpdir"),
          s"graft_orc_${Integer.toHexString(d.hashCode)}").toString
        Tables(s, d, "lineitem")
          .select(col("l_orderkey"), col("l_returnflag"), col("l_quantity"),
            expr("CAST(round(l_extendedprice * 100, 0) AS BIGINT)").as("cents"))
          .write.mode("overwrite").orc(dir)
        s.read.orc(dir)
          .filter(col("l_returnflag") =!= "N")
          .groupBy("l_returnflag")
          .agg(count(lit(1)).as("n"),
            sum("cents").as("sum_cents"),
            max(col("l_quantity").cast("long")).as("max_qty"))
          .orderBy("l_returnflag")
      },
      Some("""
        SELECT l_returnflag, count(*) AS n,
               CAST(sum(CAST(round(l_extendedprice * 100, 0) AS BIGINT))
                 AS BIGINT) AS sum_cents,
               CAST(max(CAST(l_quantity AS BIGINT)) AS BIGINT) AS max_qty
        FROM lineitem WHERE l_returnflag <> 'N'
        GROUP BY 1 ORDER BY l_returnflag""")),

    // ---- JSON-lines round-trip: orders written as JSONL, read back
    // with an EXPLICIT schema (inference is a second full scan and a
    // correctness hazard — a production ingest pins its schema),
    // aggregated per priority. Money as integer cents ⇒ the text
    // round-trip is exact; the oracle reads the original parquet.
    QueryDef(
      "q321_jsonl_roundtrip",
      (s, d) => {
        val dir = java.nio.file.Paths.get(
          sys.props("java.io.tmpdir"),
          s"graft_jsonl_${Integer.toHexString(d.hashCode)}").toString
        Tables(s, d, "orders")
          .select(col("o_orderkey"), col("o_orderpriority"),
            expr("CAST(round(o_totalprice * 100, 0) AS BIGINT)").as("cents"))
          .write.mode("overwrite").json(dir)
        s.read.schema("o_orderkey BIGINT, o_orderpriority STRING, cents BIGINT")
          .json(dir)
          .groupBy(col("o_orderpriority").as("pri"))
          .agg(count(lit(1)).as("n"), sum("cents").as("sum_cents"),
            min("o_orderkey").as("min_key"))
          .orderBy("pri")
      },
      Some("""
        SELECT o_orderpriority AS pri, count(*) AS n,
               CAST(sum(CAST(round(o_totalprice * 100, 0) AS BIGINT))
                 AS BIGINT) AS sum_cents,
               min(o_orderkey) AS min_key
        FROM orders GROUP BY 1 ORDER BY pri""")),

    // ---- STREAMING quantile bands: the q295 sketch agg executed by
    // Structured Streaming (file source → complete-mode groupBy(day)
    // with count + approx_percentile → memory sink), then gated
    // BATCH-side by the identical rank contract (lt/le straddle
    // p·n ± (n/1000 + 4)). Proves the mergeable-sketch agg runs under
    // the incremental execution engine with the same accuracy
    // guarantee — the lambda parity that lets a monitor run live and
    // backfill from batch with one definition.
    QueryDef(
      "q322_stream_quantile_bands",
      (s, d) => {
        import graft.streaming.EventStreams
        val ev = Tables.eventsStream(s, d)
          .select(to_date(col("ts")).as("day"), col("value"))
        val streamed = EventStreams.runToMemorySink(
          ev.groupBy("day")
            .agg(count(lit(1)).as("n"),
              expr("approx_percentile(value, array(0.1d, 0.5d, 0.9d), 10000)")
                .as("ap")),
          "complete")
        val batch = Tables(s, d, "events")
          .select(to_date(col("ts")).as("day"), col("value"))
        batch.join(broadcast(streamed), Seq("day"))
          .groupBy("day")
          .agg(
            max(col("n")).as("n"),
            sum(when(col("value") < expr("ap[0]"), 1L).otherwise(0L)).as("lt10"),
            sum(when(col("value") <= expr("ap[0]"), 1L).otherwise(0L)).as("le10"),
            sum(when(col("value") < expr("ap[1]"), 1L).otherwise(0L)).as("lt50"),
            sum(when(col("value") <= expr("ap[1]"), 1L).otherwise(0L)).as("le50"),
            sum(when(col("value") < expr("ap[2]"), 1L).otherwise(0L)).as("lt90"),
            sum(when(col("value") <= expr("ap[2]"), 1L).otherwise(0L)).as("le90"))
          .withColumn("slack", col("n") / lit(1000L) + 4L)
          .select(col("day"), col("n"),
            (col("lt10") * 10 <= col("n") + col("slack") * 10 &&
              col("le10") * 10 >= col("n") - col("slack") * 10).as("band10_ok"),
            (col("lt50") * 2 <= col("n") + col("slack") * 2 &&
              col("le50") * 2 >= col("n") - col("slack") * 2).as("band50_ok"),
            (col("lt90") * 10 <= col("n") * 9 + col("slack") * 10 &&
              col("le90") * 10 >= col("n") * 9 - col("slack") * 10).as("band90_ok"))
          .orderBy("day")
      },
      Some("""
        SELECT CAST(ts AS DATE) AS day, count(*) AS n,
               TRUE AS band10_ok, TRUE AS band50_ok, TRUE AS band90_ok
        FROM events GROUP BY 1 ORDER BY day""")),
  )
}
