package graft.queries

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.{QueryDef, Tables}

/** Fifty-ninth wave — streaming exact distinct:
  *
  *  - q341: per-day EXACT distinct users computed BY THE STREAMING
  *    ENGINE via bitmap aggregates (q312's machinery under incremental
  *    execution: the state store holds one fixed-width bitmap per
  *    (day, bucket), merged by OR across microbatches), popcounted
  *    batch-side — the exact-distinct lambda parity beside q322's
  *    approximate one. Streaming distinct is normally the textbook
  *    non-mergeable-state problem; the bitmap buffer makes the state
  *    BOUNDED (4KB per bucket) and mergeable, which is exactly why a
  *    100 TB pipeline uses it.
  */
object Training59 {
  val defs: Seq[QueryDef] = Seq(

    QueryDef(
      "q341_stream_bitmap_distinct",
      (s, d) => {
        import graft.streaming.EventStreams
        val ev = Tables.eventsStream(s, d)
          .select(to_date(col("ts")).as("day"), col("user_id"))
        val streamed = EventStreams.runToMemorySink(
          ev.groupBy(col("day"),
            expr("bitmap_bucket_number(user_id)").as("bucket"))
            .agg(expr("bitmap_construct_agg(bitmap_bit_position(user_id))")
              .as("bm")),
          "complete")
        streamed.groupBy("day")
          .agg(sum(expr("bitmap_count(bm)")).as("n_distinct_users"))
          .orderBy("day")
      },
      Some("""
        SELECT CAST(ts AS DATE) AS day,
               CAST(count(DISTINCT user_id) AS BIGINT) AS n_distinct_users
        FROM events GROUP BY 1 ORDER BY day""")),
  )
}
