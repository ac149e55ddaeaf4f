package graft.queries

import org.apache.commons.io.FileUtils
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.{QueryDef, Tables}

/** Eighty-fourth wave — dynamic session gaps, storage hygiene, and
  * pattern predicates:
  *
  *  - q416: DYNAMIC-gap session windows — the session gap is an
  *    EXPRESSION over each event (views linger 30 min, other events
  *    5 min), so session extents depend on row content, not a global
  *    constant. Spark's session_window(ts, gapExpr) computes it
  *    native; the oracle replicates the merge semantics with a
  *    running-max-of-session-end islands pass — the gaps-and-islands
  *    form that works on any SQL engine.
  *  - q417: orphan-file audit — the files a committed snapshot
  *    references vs the files actually on disk; a planted leftover
  *    from a failed write is detected by the listing⋈manifest
  *    anti-join. The `VACUUM`-precondition every table format runs
  *    before deleting anything.
  *  - q418: pattern-predicate surface — LIKE ANY / NOT LIKE ALL /
  *    ILIKE / RLIKE over part names in one census (predicate-class
  *    coverage for the SQL surface).
  */
object Training84 {
  val defs: Seq[QueryDef] = Seq(

    QueryDef(
      "q416_dynamic_gap_sessions",
      (s, d) => {
        val gap = """CASE WHEN event_type = 'view'
            THEN '30 minutes' ELSE '5 minutes' END"""
        Tables(s, d, "events")
          .groupBy(col("user_id"),
            session_window(col("ts"), expr(gap)).as("w"))
          .agg(count(lit(1)).as("n_events"))
          .groupBy("user_id")
          .agg(count(lit(1)).as("n_sessions"),
            max("n_events").as("max_session_events"))
          .groupBy("n_sessions")
          .agg(count(lit(1)).as("n_users"),
            sum("max_session_events").as("sum_max_events"))
          .orderBy("n_sessions")
      },
      Some("""
        WITH ev AS (
          SELECT user_id, epoch_us(ts) AS ts_us,
                 CASE WHEN event_type = 'view' THEN 1800000000
                      ELSE 300000000 END AS gap_us
          FROM events),
        marked AS (
          SELECT user_id, ts_us,
                 CASE WHEN ts_us >= coalesce(MAX(ts_us + gap_us) OVER (
                     PARTITION BY user_id ORDER BY ts_us
                     ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
                   -1) THEN 1 ELSE 0 END AS is_start
          FROM ev),
        sess AS (
          SELECT user_id,
                 SUM(is_start) OVER (PARTITION BY user_id ORDER BY ts_us)
                   AS sid
          FROM marked),
        per_sess AS (
          SELECT user_id, sid, count(*) AS n_events
          FROM sess GROUP BY 1, 2),
        per_user AS (
          SELECT user_id, count(*) AS n_sessions,
                 max(n_events) AS max_session_events
          FROM per_sess GROUP BY 1)
        SELECT CAST(n_sessions AS BIGINT) AS n_sessions,
               CAST(count(*) AS BIGINT) AS n_users,
               CAST(sum(max_session_events) AS BIGINT) AS sum_max_events
        FROM per_user GROUP BY 1 ORDER BY n_sessions""")),

    QueryDef(
      "q417_orphan_file_audit",
      (s, d) => {
        val root = java.nio.file.Paths.get(
          sys.props("java.io.tmpdir"),
          s"graft_orphan_${Integer.toHexString(d.hashCode)}").toString
        FileUtils.deleteQuietly(new java.io.File(root))
        // commit: exactly 4 data files + a manifest naming them
        Tables(s, d, "orders").select("o_orderkey", "o_totalprice")
          .repartition(4)
          .write.mode("overwrite").parquet(s"$root/data")
        val committed = new java.io.File(s"$root/data").listFiles()
          .map(_.getName).filter(_.endsWith(".parquet")).sorted
        import s.implicits._
        committed.toSeq.toDF("file")
          .write.mode("overwrite").parquet(s"$root/manifest")
        // a failed write leaves an uncommitted leftover behind
        java.nio.file.Files.write(
          java.nio.file.Paths.get(s"$root/data/part-ORPHAN.leftover.parquet"),
          Array[Byte](1, 2, 3))
        val onDisk = new java.io.File(s"$root/data").listFiles()
          .map(_.getName).filter(_.endsWith(".parquet")).sorted
        val manifest = s.read.parquet(s"$root/manifest")
        val audit = onDisk.toSeq.toDF("file")
          .join(manifest, Seq("file"), "left_anti")
        audit.agg(count(lit(1)).as("n_orphans"))
          .crossJoin(manifest.agg(count(lit(1)).as("n_committed")))
          .crossJoin(broadcast(audit.agg(
            expr("coalesce(max(file LIKE '%ORPHAN%'), false)")
              .as("orphan_is_the_planted_one"))))
          .select("n_committed", "n_orphans", "orphan_is_the_planted_one")
      },
      Some("""
        SELECT CAST(4 AS BIGINT) AS n_committed,
               CAST(1 AS BIGINT) AS n_orphans,
               TRUE AS orphan_is_the_planted_one""")),

    QueryDef(
      "q418_pattern_predicates",
      (s, d) => {
        Tables(s, d, "part").createOrReplaceTempView("graft_part_pp")
        s.sql("""
          SELECT
            CAST(count_if(p_name LIKE ANY ('%red%', '%blue%')) AS BIGINT)
              AS n_red_or_blue,
            CAST(count_if(p_name NOT LIKE ALL ('%red%', '%blue%'))
              AS BIGINT) AS n_neither,
            CAST(count_if(upper(p_name) LIKE '%GREEN%') AS BIGINT)
              AS n_green_ci,
            CAST(count_if(p_name RLIKE '^[a-f]') AS BIGINT)
              AS n_leading_a_to_f,
            CAST(count(*) AS BIGINT) AS n_total
          FROM graft_part_pp""")
      },
      Some("""
        SELECT
          CAST(count(*) FILTER (WHERE p_name LIKE '%red%'
                 OR p_name LIKE '%blue%') AS BIGINT) AS n_red_or_blue,
          CAST(count(*) FILTER (WHERE p_name NOT LIKE '%red%'
                 AND p_name NOT LIKE '%blue%') AS BIGINT) AS n_neither,
          CAST(count(*) FILTER (WHERE upper(p_name) LIKE '%GREEN%')
            AS BIGINT) AS n_green_ci,
          CAST(count(*) FILTER (WHERE regexp_matches(p_name, '^[a-f]'))
            AS BIGINT) AS n_leading_a_to_f,
          CAST(count(*) AS BIGINT) AS n_total
        FROM part""")),
  )
}
