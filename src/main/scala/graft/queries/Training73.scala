package graft.queries

import org.apache.commons.io.FileUtils
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.{QueryDef, Tables}

/** Seventy-third wave — branch/merge versioning, partition-spec
  * evolution, and sequence-pattern matching:
  *
  *  - q385: three-way branch merge with conflict detection — two
  *    branches edit the same base snapshot independently; the merge
  *    diffs each branch against the COMMON BASE (not against each
  *    other), auto-merges disjoint edits, detects true conflicts
  *    (both branches changed the same key) and resolves them by a
  *    declared policy (branch A wins). The Nessie/git-for-data shape
  *    on the existing snapshot layer.
  *  - q386: partition-spec evolution — generation 0 of a table is
  *    partitioned by month, generation 1 by day (the spec changed
  *    mid-history, as Iceberg allows). One query reads BOTH
  *    generations with the filter pruning each generation's OWN
  *    layout (spec pins partition filters on both scans).
  *  - q387: sequence-pattern matching (MATCH_RECOGNIZE-lite) — per
  *    user, events in time order become a code string and the pattern
  *    `v c+ p` (view, ≥1 consecutive clicks, purchase) is counted by
  *    the regex engine. The per-key ordered reduction is one window-
  *    free groupBy (state = the user's own events, bounded); both
  *    engines run the same greedy non-overlapping scan.
  */
object Training73 {
  val defs: Seq[QueryDef] = Seq(

    // ---- three-way merge. Base: orders key→price cents. Branch A:
    // keys %7==0 repriced ×2. Branch B: keys %5==0 get +1000 cents.
    // Conflicts: keys %35==0 (both edited) → policy: A wins. The merge
    // is computed from the PERSISTED branch snapshots (full-outer join
    // of the two diffs over the base), written as the merged snapshot,
    // read back, and censused by outcome class — so the declared
    // result proves the storage round-trip, not just the join algebra.
    QueryDef(
      "q385_branch_merge_three_way",
      (s, d) => {
        val root = java.nio.file.Paths.get(
          sys.props("java.io.tmpdir"),
          s"graft_branch_${Integer.toHexString(d.hashCode)}").toString
        FileUtils.deleteQuietly(new java.io.File(root))
        val base = Tables(s, d, "orders").selectExpr("o_orderkey AS k",
          "CAST(round(o_totalprice * 100, 0) AS BIGINT) AS cents")
        base.write.mode("overwrite").parquet(s"$root/base")
        val b0 = s.read.parquet(s"$root/base")
        b0.withColumn("cents",
            when(pmod(col("k"), lit(7)) === 0, col("cents") * 2)
              .otherwise(col("cents")))
          .write.mode("overwrite").parquet(s"$root/branchA")
        b0.withColumn("cents",
            when(pmod(col("k"), lit(5)) === 0, col("cents") + 1000)
              .otherwise(col("cents")))
          .write.mode("overwrite").parquet(s"$root/branchB")
        val a = s.read.parquet(s"$root/branchA")
        val b = s.read.parquet(s"$root/branchB")
        // three-way diff against the COMMON BASE: an edit is a value
        // change vs base, not vs the other branch
        val diffA = a.as("a").join(b0.as("o"), "k")
          .filter(col("a.cents") =!= col("o.cents"))
          .select(col("k"), col("a.cents").as("a_cents"))
        val diffB = b.as("b").join(b0.as("o"), "k")
          .filter(col("b.cents") =!= col("o.cents"))
          .select(col("k"), col("b.cents").as("b_cents"))
        val merged = b0
          .join(diffA, Seq("k"), "left")
          .join(diffB, Seq("k"), "left")
          .selectExpr("k",
            """CASE WHEN a_cents IS NOT NULL THEN a_cents
                    WHEN b_cents IS NOT NULL THEN b_cents
                    ELSE cents END AS cents""",
            """CASE WHEN a_cents IS NOT NULL AND b_cents IS NOT NULL
                      THEN 'conflict_a_wins'
                    WHEN a_cents IS NOT NULL THEN 'a_only'
                    WHEN b_cents IS NOT NULL THEN 'b_only'
                    ELSE 'unchanged' END AS outcome""")
        merged.write.mode("overwrite").parquet(s"$root/merged")
        s.read.parquet(s"$root/merged")
          .groupBy("outcome")
          .agg(count(lit(1)).as("n"), sum("cents").as("sum_cents"))
          .orderBy("outcome")
      },
      Some("""
        WITH base AS (
          SELECT o_orderkey AS k,
                 CAST(round(o_totalprice * 100, 0) AS BIGINT) AS cents
          FROM orders)
        SELECT outcome, CAST(count(*) AS BIGINT) AS n,
               CAST(sum(cents) AS BIGINT) AS sum_cents
        FROM (
          SELECT k,
                 CASE WHEN k % 7 = 0 AND cents * 2 != cents THEN cents * 2
                      WHEN k % 5 = 0 THEN cents + 1000
                      ELSE cents END AS cents,
                 CASE WHEN k % 7 = 0 AND cents * 2 != cents
                       AND k % 5 = 0 THEN 'conflict_a_wins'
                      WHEN k % 7 = 0 AND cents * 2 != cents THEN 'a_only'
                      WHEN k % 5 = 0 THEN 'b_only'
                      ELSE 'unchanged' END AS outcome
          FROM base) m
        GROUP BY outcome ORDER BY outcome""")),

    // ---- partition-spec evolution: gen0 (first half of history) is
    // partitioned by month, gen1 (second half) by day. The reader
    // unions both generations and a date-range predicate prunes each
    // generation's own directory layout — month dirs on gen0, day
    // dirs on gen1 (PlanSpec in Training73Spec pins both partition
    // filters). The staging root is per-sfDir, built once.
    QueryDef(
      "q386_partition_evolution",
      (s, d) => {
        val root = java.nio.file.Paths.get(
          sys.props("java.io.tmpdir"),
          s"graft_pspec_${graft.Stage.key(d, "events")}").toString
        if (!java.nio.file.Files.exists(
            java.nio.file.Paths.get(root, "_DONE"))) {
          val ev = Tables(s, d, "events").selectExpr("event_id", "user_id",
            "event_type", "value", "to_date(ts) AS day",
            "date_format(ts, 'yyyy-MM') AS month")
          ev.filter(col("day") < "2024-01-16")
            .write.mode("overwrite").partitionBy("month")
            .parquet(s"$root/gen0")
          ev.filter(col("day") >= "2024-01-16")
            .write.mode("overwrite").partitionBy("day")
            .parquet(s"$root/gen1")
          java.nio.file.Files.createFile(
            java.nio.file.Paths.get(root, "_DONE"))
        }
        val g0 = s.read.parquet(s"$root/gen0")
          .filter(col("month") === "2024-01") // month-grain prune
          .filter(col("day").between("2024-01-10", "2024-01-20"))
        val g1 = s.read.parquet(s"$root/gen1")
          .filter(col("day").between("2024-01-10", "2024-01-20"))
        g0.select("event_id", "event_type", "value")
          .unionByName(g1.select("event_id", "event_type", "value"))
          .groupBy("event_type")
          .agg(count(lit(1)).as("n"),
            graft.Num.dsum(col("value")).as("sum_value"))
          .orderBy("event_type")
      },
      Some(s"""
        SELECT event_type, count(*) AS n,
               ${graft.Num.dsumSql("value")} AS sum_value
        FROM events
        WHERE CAST(ts AS DATE) BETWEEN DATE '2024-01-10'
              AND DATE '2024-01-20'
        GROUP BY 1 ORDER BY event_type""")),

    // ---- sequence pattern `v c+ p`: per user, the chronological
    // event-code string is scanned by the regex engine (greedy,
    // non-overlapping — identical semantics in the JVM and DuckDB's
    // RE2). Census: users per match count, plus total matches — the
    // MATCH_RECOGNIZE workload expressed as ordered-list reduction.
    QueryDef(
      "q387_sequence_pattern",
      (s, d) => {
        val coded = Tables(s, d, "events").selectExpr("user_id",
          "unix_micros(ts) AS ts_us", "event_id",
          """CASE event_type WHEN 'view' THEN 'v' WHEN 'click' THEN 'c'
             WHEN 'purchase' THEN 'p' ELSE 'e' END AS code""")
        coded
          .groupBy("user_id")
          .agg(expr("""array_join(transform(
              array_sort(collect_list(struct(ts_us, event_id, code))),
              x -> x.code), '')""").as("seq"))
          .selectExpr("user_id",
            "CAST(regexp_count(seq, 'vc+p') AS BIGINT) AS matches")
          .groupBy("matches")
          .agg(count(lit(1)).as("n_users"))
          .orderBy("matches")
      },
      Some("""
        WITH seqs AS (
          SELECT user_id,
                 string_agg(CASE event_type
                     WHEN 'view' THEN 'v' WHEN 'click' THEN 'c'
                     WHEN 'purchase' THEN 'p' ELSE 'e' END, ''
                   ORDER BY epoch_us(ts), event_id) AS seq
          FROM events GROUP BY user_id)
        SELECT CAST(len(regexp_extract_all(seq, 'vc+p')) AS BIGINT)
                 AS matches,
               CAST(count(*) AS BIGINT) AS n_users
        FROM seqs GROUP BY 1 ORDER BY matches""")),
  )
}
