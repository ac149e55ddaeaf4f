package graft.queries

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.{QueryDef, Tables}
import graft.plans.InListToJoinRewrite

/** Hundred-fourth wave — leaderboard state, IN-list joins, and image
  * equalization:
  *
  *  - q472: per-day top-3 active users as a STREAMING leaderboard —
  *    transformWithState MapState (user → count) keyed by day, updated
  *    incrementally per micro-batch, current top-k emitted after each
  *    batch (`DailyTopKProcessor`). State is bounded by daily actives,
  *    emission by k; no raw events buffer. Single-batch harness file ⇒
  *    the emission equals the batch leaderboard the oracle computes;
  *    cross-batch increments are pinned in StreamingSpec.
  *  - q473: the `InListToJoinRewrite` optimizer rule in action — a
  *    64-literal IN-list filter on lineitem is rewritten to a LEFT SEMI
  *    join against a broadcast LocalRelation of the values (PlanSpec
  *    pins the join + the absence of the giant predicate). The oracle
  *    runs the ORIGINAL IN-list SQL: the hash gate proves the rewrite
  *    is an identity.
  *  - q474: histogram equalization over the synthesized BMP corpus
  *    (the q297 closed-form images): decode → gray histogram → integer
  *    CDF remap g' = (cdf(g) − cdf_min)·255 div (n − cdf_min). The
  *    oracle regenerates pixels arithmetically and replays the same
  *    integer mapping; per-image Σg' and Σg'² pin the whole remap.
  */
object Training104 {
  // 64 distinct part keys present at every SF (ids 1..197)
  private[queries] val inKeys: Seq[Int] = (1 to 64).map(i => (i * 3) % 197 + 1)

  private def inListSql(lineitemRel: String): String =
    s"""
      SELECT l_returnflag,
             CAST(count(*) AS BIGINT) AS n_lines,
             CAST(sum(CAST(round(l_quantity, 0) AS BIGINT)) AS BIGINT) AS qty
      FROM $lineitemRel
      WHERE l_partkey IN (${inKeys.mkString(", ")})
      GROUP BY l_returnflag ORDER BY l_returnflag"""

  val defs: Seq[QueryDef] = Seq(

    QueryDef(
      "q472_stream_topk_state",
      (s, d) => {
        import graft.streaming.EventStreams
        import org.apache.spark.sql.streaming.{OutputMode, TimeMode}
        import s.implicits._
        EventStreams.withRocksDbStateStore(s) {
          val ev = Tables.eventsStream(s, d)
            .select(
              expr("datediff(to_date(ts), DATE '1970-01-01')").cast("long").as("epd"),
              col("user_id"))
            .as[(Long, Long)]
            .groupByKey(_._1)
            .transformWithState(
              new graft.streaming.DailyTopKProcessor(3),
              TimeMode.None(), OutputMode.Append())
            .toDF("epd", "rk", "user_id", "n_events")
          EventStreams.runToMemorySink(ev, "append")
            .select(
              expr("date_add(DATE '1970-01-01', CAST(epd AS INT))").as("day"),
              col("rk"), col("user_id"), col("n_events"))
            .orderBy("day", "rk")
        }
      },
      Some("""
        SELECT CAST(day AS DATE) AS day, rk, user_id, n_events
        FROM (
          SELECT CAST(ts AS DATE) AS day, user_id,
                 CAST(count(*) AS BIGINT) AS n_events,
                 CAST(row_number() OVER (PARTITION BY CAST(ts AS DATE)
                   ORDER BY count(*) DESC, user_id) AS BIGINT) AS rk
          FROM events GROUP BY 1, 2) t
        WHERE rk <= 3 ORDER BY day, rk""")),

    QueryDef(
      "q473_inlist_join_rule",
      (s, d) => {
        if (!s.experimental.extraOptimizations.contains(InListToJoinRewrite))
          s.experimental.extraOptimizations =
            s.experimental.extraOptimizations :+ InListToJoinRewrite
        Tables(s, d, "lineitem").createOrReplaceTempView("graft_il_lineitem")
        s.sql(inListSql("graft_il_lineitem"))
      },
      Some(inListSql("lineitem"))),

    QueryDef(
      "q474_bmp_equalize",
      (s, d) => {
        import s.implicits._
        import graft.operators.BmpCodec
        Tables(s, d, "documents")
          .select(col("doc_id")).as[Long]
          .map { id =>
            val did = id % 1000000L
            val w = (1L + id % 7L).toInt
            val h = (1L + id % 5L).toInt
            (id, BmpCodec.encode24(w, h, (x, y) => (
              ((did + 3L * x + 7L * y) % 256L).toInt,
              ((2L * did + 5L * x + y) % 256L).toInt,
              ((3L * did + x + 11L * y) % 256L).toInt)))
          }
          .mapPartitions { iter =>
            iter.map { case (id, payload) =>
              val (w, h, hist) = BmpCodec.decode24Histogram(payload)
              val n = w.toLong * h
              val cdf = hist.scanLeft(0L)(_ + _).drop(1)
              val gMin = hist.indexWhere(_ > 0)
              val gMax = hist.lastIndexWhere(_ > 0)
              val cdfMin = cdf(gMin)
              def eq(g: Int): Long =
                if (n == cdfMin) 0L else (cdf(g) - cdfMin) * 255L / (n - cdfMin)
              var sumAfter = 0L
              var sumSqAfter = 0L
              var g = 0
              while (g < 256) {
                if (hist(g) > 0) {
                  val e = eq(g)
                  sumAfter += hist(g) * e
                  sumSqAfter += hist(g) * e * e
                }
                g += 1
              }
              (id, n, gMin.toLong, gMax.toLong, sumAfter, sumSqAfter)
            }
          }
          .toDF("doc_id", "n_px", "gray_min", "gray_max", "sum_after", "sumsq_after")
          .orderBy("doc_id")
      },
      Some("""
        WITH px AS MATERIALIZED (
          SELECT d.doc_id,
                 (((d.doc_id % 1000000) + 3 * xs.x + 7 * ys.y) % 256
                  + (2 * (d.doc_id % 1000000) + 5 * xs.x + ys.y) % 256
                  + (3 * (d.doc_id % 1000000) + xs.x + 11 * ys.y) % 256) // 3
                   AS gray
          FROM documents d
          CROSS JOIN range(7) xs(x)
          CROSS JOIN range(5) ys(y)
          WHERE xs.x < 1 + d.doc_id % 7 AND ys.y < 1 + d.doc_id % 5),
        hist AS MATERIALIZED (
          SELECT doc_id, gray, CAST(count(*) AS BIGINT) AS c
          FROM px GROUP BY 1, 2),
        cdf AS MATERIALIZED (
          SELECT doc_id, gray, c,
                 sum(c) OVER (PARTITION BY doc_id ORDER BY gray) AS cdf,
                 sum(c) OVER (PARTITION BY doc_id) AS n,
                 min(CASE WHEN c > 0 THEN gray END) OVER (PARTITION BY doc_id)
                   AS gmin,
                 max(CASE WHEN c > 0 THEN gray END) OVER (PARTITION BY doc_id)
                   AS gmax,
                 first_value(c) OVER (PARTITION BY doc_id ORDER BY gray)
                   AS cdfmin
          FROM hist),
        mapped AS (
          SELECT doc_id, gray, c, n, gmin, gmax,
                 CASE WHEN n = cdfmin THEN CAST(0 AS BIGINT)
                      ELSE ((cdf - cdfmin) * 255) // (n - cdfmin) END AS e
          FROM cdf)
        SELECT doc_id, CAST(max(n) AS BIGINT) AS n_px,
               CAST(max(gmin) AS BIGINT) AS gray_min,
               CAST(max(gmax) AS BIGINT) AS gray_max,
               CAST(sum(c * e) AS BIGINT) AS sum_after,
               CAST(sum(c * e * e) AS BIGINT) AS sumsq_after
        FROM mapped GROUP BY doc_id ORDER BY doc_id""")),
  )
}
