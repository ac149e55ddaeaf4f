package graft.queries

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.{QueryDef, Tables}

/** Sixty-third wave — distributed prefix sums, chained streaming
  * aggregation, exact apportionment, and certified top-k merging:
  *
  *  - q355: peak concurrency via the DISTRIBUTED global prefix sum
  *    (bucket partials + dictionary offsets + keyed within-bucket
  *    scan) — the running-total-over-everything shape computed WITHOUT
  *    a single-partition window.
  *  - q356: two chained stateful window aggregations in one streaming
  *    query (hourly per-user counts re-aggregated per day) — Spark's
  *    multiple-stateful-operator tier, driven to full emission by
  *    sentinel batches.
  *  - q357: largest-remainder (Hamilton) apportionment of a token
  *    budget across languages — exact integer, sums to the budget by
  *    construction.
  *  - q358: Fagin's Threshold Algorithm for top-k under two rankings:
  *    per-ranking top-m candidates + exact re-score + the τ
  *    certificate that proves (or honestly denies) completeness
  *    without scoring the full corpus.
  */
object Training63 {
  private val gapUs = 1800000000L // 30-min session gap (q30 semantics)

  val defs: Seq[QueryDef] = Seq(

    // ---- peak concurrent sessions per day. Sessions are the standard
    // keyed gap-split (per-user windows); each session emits (+1 at
    // start, −1 at end) and the concurrency level is the running sum
    // over GLOBAL time order — the classic scale-killer if written as
    // one unpartitioned window. Here it is the distributed scan: (1)
    // per-hour delta totals (keyed agg), (2) exclusive prefix over the
    // HOUR DICTIONARY (the only unpartitioned window, metadata-sized),
    // (3) within-hour running sum (hour-keyed window) + broadcast
    // offset. Tie order (tus, delta DESC, user_id) is total, so the
    // running level is engine-deterministic; +1 sorts before −1 at the
    // same instant, so zero-length sessions still count. Peaks are
    // attributed to the day of the step event (a day with zero session
    // boundaries inherits no row — peaks always occur at a +1).
    QueryDef(
      "q355_peak_concurrency",
      (s, d) => {
        val byU = Window.partitionBy("user_id")
          .orderBy(col("tus").asc, col("event_id").asc)
        val ev = Tables(s, d, "events")
          .select(col("user_id"), col("event_id"),
            unix_micros(col("ts")).as("tus"))
        val sessions = ev
          .withColumn("prev", lag("tus", 1).over(byU))
          .withColumn("ns",
            when(col("prev").isNull || col("tus") - col("prev") > gapUs, 1L)
              .otherwise(0L))
          .withColumn("sid", sum("ns").over(
            byU.rowsBetween(Window.unboundedPreceding, 0)))
          .groupBy("user_id", "sid")
          .agg(min("tus").as("st"), max("tus").as("en"))
        val deltas = sessions
          .select(col("user_id"), col("st").as("tus"), lit(1L).as("delta"))
          .unionAll(sessions
            .select(col("user_id"), col("en").as("tus"), lit(-1L).as("delta")))
          .withColumn("hr", expr("tus div 3600000000"))
          .localCheckpoint() // partials + scan both read it
        val hrOff = deltas.groupBy("hr").agg(sum("delta").as("hsum"))
          .withColumn("off", coalesce(
            sum("hsum").over(Window.orderBy("hr")
              .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
          .select("hr", "off")
        val scanW = Window.partitionBy("hr")
          .orderBy(col("tus").asc, col("delta").desc, col("user_id").asc)
          .rowsBetween(Window.unboundedPreceding, 0)
        deltas.join(broadcast(hrOff), "hr")
          .withColumn("rs", col("off") + sum("delta").over(scanW))
          .groupBy(to_date(expr("timestamp_micros(tus)")).as("day"))
          .agg(max("rs").as("peak_concurrency"),
            sum(when(col("delta") === 1L, 1L).otherwise(0L))
              .as("n_sessions_started"))
          .orderBy("day")
      },
      Some("""
        WITH ev AS (
          SELECT user_id, event_id, epoch_us(CAST(ts AS TIMESTAMP)) AS tus
          FROM events),
        fl AS (
          SELECT user_id, tus, event_id,
                 CASE WHEN prev IS NULL OR tus - prev > 1800000000
                      THEN 1 ELSE 0 END AS ns
          FROM (SELECT user_id, tus, event_id,
                       lag(tus) OVER (PARTITION BY user_id
                         ORDER BY tus, event_id) AS prev
                FROM ev) z),
        sess AS (
          SELECT user_id, sid, min(tus) AS st, max(tus) AS en FROM (
            SELECT user_id, tus,
                   sum(ns) OVER (PARTITION BY user_id ORDER BY tus, event_id
                     ROWS UNBOUNDED PRECEDING) AS sid
            FROM fl) z
          GROUP BY 1, 2),
        de AS (
          SELECT user_id, st AS tus, CAST(1 AS BIGINT) AS delta FROM sess
          UNION ALL
          SELECT user_id, en, CAST(-1 AS BIGINT) FROM sess),
        run AS (
          SELECT tus, delta,
                 sum(delta) OVER (ORDER BY tus, delta DESC, user_id
                   ROWS UNBOUNDED PRECEDING) AS rs
          FROM de)
        SELECT CAST(make_timestamp(tus) AS DATE) AS day,
               CAST(max(rs) AS BIGINT) AS peak_concurrency,
               CAST(sum(CASE WHEN delta = 1 THEN 1 ELSE 0 END) AS BIGINT)
                 AS n_sessions_started
        FROM run GROUP BY 1 ORDER BY day""")),

    // ---- chained stateful streaming: hourly per-user counts
    // re-aggregated into daily rollups INSIDE one streaming query
    // (window() on the window column — two stateful operators, the
    // tier that lets a live pipeline keep both granularities with one
    // definition). Emission completes only when the watermark passes
    // each day's end, so the staged stream appends two far-future
    // sentinel batches (stagedBatchesStream); sentinel contributions
    // land past the data horizon and are filtered by day. The append
    // result SET then equals the batch double-rollup — the oracle.
    QueryDef(
      "q356_stream_two_level_window",
      (s, d) => {
        import graft.streaming.EventStreams
        val stage = java.nio.file.Paths.get(
          sys.props("java.io.tmpdir"),
          s"graft_twolevel_${Integer.toHexString(d.hashCode)}").toString
        val ev = Tables(s, d, "events")
        val maxUs = ev.agg(max(unix_micros(col("ts")))).head().getLong(0)
        def sentinel(id: Long, plusUs: Long): DataFrame =
          s.range(1).select(
            lit(id).as("event_id"),
            expr(s"timestamp_micros(${maxUs + plusUs}L)").as("ts"),
            lit(-1L).as("user_id"), lit("view").as("event_type"),
            lit(0.0).as("value"))
            .select(ev.schema.fields.toIndexedSeq.map(f =>
              (if (Seq("event_id", "ts", "user_id", "event_type", "value")
                .contains(f.name)) col(f.name)
              else lit(null)).cast(f.dataType).as(f.name)): _*)
        val src = EventStreams.stagedBatchesStream(stage, Seq(
          ev,
          sentinel(-100L, 30L * 86400000000L),
          sentinel(-200L, 60L * 86400000000L)))
        val hourly = src.withWatermark("ts", "1 hour")
          .groupBy(window(col("ts"), "1 hour"), col("user_id"))
          .agg(count(lit(1)).as("n"))
        val daily = hourly
          .groupBy(window(col("window"), "1 day").as("day_w"))
          .agg(count(lit(1)).as("n_user_hours"), max("n").as("max_user_hour"))
        EventStreams.runToMemorySink(daily, "append")
          .filter(unix_micros(col("day_w.start")) <= maxUs)
          .select(to_date(col("day_w.start")).as("day"),
            col("n_user_hours"), col("max_user_hour"))
          .orderBy("day")
      },
      Some("""
        WITH hu AS (
          SELECT date_trunc('hour', CAST(ts AS TIMESTAMP)) AS h, user_id,
                 count(*) AS n
          FROM events GROUP BY 1, 2)
        SELECT CAST(date_trunc('day', h) AS DATE) AS day,
               count(*) AS n_user_hours, max(n) AS max_user_hour
        FROM hu GROUP BY 1 ORDER BY day""")),

    // ---- largest-remainder (Hamilton) apportionment: a 1M-token
    // budget split across languages proportional to corpus characters
    // — floor quotas, then the leftover seats go to the largest
    // integer remainders (ties → lang asc), so Σ alloc = budget
    // EXACTLY (the property proportional-rounding lacks and a mixture
    // spec needs). One keyed agg over the corpus; everything after
    // runs on the language dictionary (the only unpartitioned window
    // is over ≤ dozens of rows).
    QueryDef(
      "q357_largest_remainder_allocation",
      (s, d) => {
        val B = 1000000L
        // pin the corpus groupBy once: the tot and qsum probes would
        // otherwise each re-run the documents scan (q346's norm lesson)
        val c = Tables(s, d, "documents").groupBy("lang")
          .agg(sum("n_chars").as("chars"))
          .localCheckpoint()
        val q = c.crossJoin(broadcast(c.agg(sum("chars").as("tot"))))
          .withColumn("quota", expr(s"($B * chars) div tot"))
          .withColumn("rem", expr(s"$B * chars - quota * tot"))
          .localCheckpoint()
        q.crossJoin(broadcast(q.agg(sum("quota").as("qsum"))))
          .withColumn("rn", row_number().over(
            Window.orderBy(col("rem").desc, col("lang").asc)))
          .select(col("lang"), col("chars"),
            (col("quota") +
              when(col("rn") <= lit(B) - col("qsum"), 1L).otherwise(0L))
              .as("alloc_tokens"))
          .orderBy("lang")
      },
      Some("""
        WITH c AS (
          SELECT lang, CAST(sum(n_chars) AS BIGINT) AS chars
          FROM documents GROUP BY 1),
        q AS (
          SELECT lang, chars,
                 (1000000 * chars) // tot AS quota,
                 1000000 * chars - ((1000000 * chars) // tot) * tot AS rem
          FROM c, (SELECT CAST(sum(chars) AS BIGINT) AS tot FROM c) t),
        r AS (
          SELECT lang, chars, quota,
                 row_number() OVER (ORDER BY rem DESC, lang) AS rn,
                 (SELECT CAST(sum(quota) AS BIGINT) FROM q) AS qsum
          FROM q)
        SELECT lang, chars,
               CAST(quota + CASE WHEN rn <= 1000000 - qsum THEN 1 ELSE 0 END
                 AS BIGINT) AS alloc_tokens
        FROM r ORDER BY lang""")),

    // ---- Fagin's Threshold Algorithm: top-k docs under the COMBINED
    // score of two rankings (length + 100·distinct-words) touching
    // only each ranking's top-m, with the τ certificate: if the k-th
    // best candidate total ≥ τ = s1(m-th) + s2(m-th), no unseen doc
    // can beat the answer — completeness is PROVEN without scoring
    // the corpus. The 100 TB shape: per-ranking top-m are TakeOrdered
    // (no global sort materializes), candidates are 2m rows, and the
    // certificate is two broadcast scalars. ta_certified is part of
    // the output — an uncertified budget reports itself honestly.
    QueryDef(
      "q358_threshold_algorithm_topk",
      (s, d) => {
        val m = 50
        val k = 10
        val sc = Tables(s, d, "documents")
          .select(col("doc_id"), col("n_chars").cast("long").as("s1"),
            (expr("size(array_distinct(filter(split(text, ' '), w -> w <> '')))")
              .cast("long") * 100L).as("s2"))
          .localCheckpoint() // two rank cuts + the re-score read it
        val top1 = sc.orderBy(col("s1").desc, col("doc_id").asc).limit(m)
        val top2 = sc.orderBy(col("s2").desc, col("doc_id").asc).limit(m)
        val tau = top1.agg(min("s1").as("b1"))
          .crossJoin(top2.agg(min("s2").as("b2")))
          .select((col("b1") + col("b2")).as("tau"))
        val topk = top1.select("doc_id").unionByName(top2.select("doc_id"))
          .distinct()
          .join(sc, "doc_id")
          .select(col("doc_id"), (col("s1") + col("s2")).as("total_score"))
          .orderBy(col("total_score").desc, col("doc_id").asc)
          .limit(k)
        val cert = topk.agg(min("total_score").as("mt"))
          .crossJoin(broadcast(tau))
          .select((col("mt") >= col("tau")).as("ta_certified"))
        topk.crossJoin(broadcast(cert))
          .orderBy(col("total_score").desc, col("doc_id").asc)
      },
      Some("""
        WITH sc AS (
          SELECT doc_id, CAST(n_chars AS BIGINT) AS s1,
                 CAST(len(list_distinct(list_filter(
                   string_split(text, ' '), w -> w <> ''))) AS BIGINT) * 100
                   AS s2
          FROM documents),
        top1 AS (SELECT doc_id, s1 FROM sc ORDER BY s1 DESC, doc_id LIMIT 50),
        top2 AS (SELECT doc_id, s2 FROM sc ORDER BY s2 DESC, doc_id LIMIT 50),
        tau AS (
          SELECT (SELECT min(s1) FROM top1) + (SELECT min(s2) FROM top2)
            AS tau),
        cand AS (
          SELECT doc_id FROM top1 UNION SELECT doc_id FROM top2),
        topk AS (
          SELECT c.doc_id, s.s1 + s.s2 AS total_score
          FROM cand c JOIN sc s ON s.doc_id = c.doc_id
          ORDER BY total_score DESC, c.doc_id LIMIT 10)
        SELECT doc_id, total_score,
               (SELECT min(total_score) FROM topk) >= (SELECT tau FROM tau)
                 AS ta_certified
        FROM topk ORDER BY total_score DESC, doc_id""")),
  )
}
