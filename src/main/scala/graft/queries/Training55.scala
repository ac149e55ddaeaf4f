package graft.queries

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.{QueryDef, Tables}

/** Fifty-fifth wave — ingestion edges and three-valued-logic traps:
  *
  *  - q334: CSV round-trip with hostile field content (embedded
  *    delimiters, quotes, newlines) — the quoting/escaping contract
  *    every ingestion edge must honor; fidelity is checked field-wise
  *    against the planted closed form.
  *  - q335: NOT IN vs NOT EXISTS under NULLs — the classic
  *    three-valued-logic trap (one planted NULL empties a NOT IN), and
  *    the null-aware anti-join machinery Spark plans for it; both
  *    semantics declared side by side so the difference itself is
  *    oracled.
  */
object Training55 {
  val defs: Seq[QueryDef] = Seq(

    // ---- CSV quoting round-trip: per document a hostile field is
    // planted (comma, double-quote — escaped by doubling, the RFC 4180
    // rule — and a literal newline), written as quoted CSV and read
    // back with multiLine=true (without it the embedded newline splits
    // the record — THE classic CSV ingestion bug). Fidelity: the
    // read-back field must hash-equal the planted closed form, checked
    // via per-field length + md5-derived digest aggregated per source.
    QueryDef(
      "q334_csv_quoting",
      (s, d) => {
        val dir = java.nio.file.Paths.get(
          sys.props("java.io.tmpdir"),
          s"graft_csvq_${Integer.toHexString(d.hashCode)}").toString
        val planted = Tables(s, d, "documents")
          .select(col("doc_id"), col("source"),
            concat(lit("v,"), col("doc_id").cast("string"),
              lit("\"q\"\n"), col("source")).as("hostile"))
        planted.write.mode("overwrite")
          .option("header", "true").option("quoteAll", "true")
          .csv(dir)
        s.read
          .schema("doc_id BIGINT, source STRING, hostile STRING")
          .option("header", "true").option("multiLine", "true")
          .csv(dir)
          .groupBy("source")
          .agg(
            count(lit(1)).as("n"),
            sum(length(col("hostile")).cast("long")).as("sum_len"),
            sum(expr("CAST(conv(substr(md5(hostile), 1, 8), 16, 10) AS BIGINT)"))
              .as("digest_sum"))
          .orderBy("source")
      },
      Some("""
        WITH p AS (
          SELECT source,
                 'v,' || CAST(doc_id AS VARCHAR) || '"q"' || chr(10) || source
                   AS hostile
          FROM documents)
        SELECT source, count(*) AS n,
               CAST(sum(length(hostile)) AS BIGINT) AS sum_len,
               CAST(sum(('0x' || substr(md5(hostile), 1, 8))::BIGINT)
                 AS BIGINT) AS digest_sum
        FROM p GROUP BY 1 ORDER BY source""")),

    // ---- NOT IN vs NOT EXISTS under NULLs: the probe set is supplier
    // nation keys WITH a planted NULL row. Standard SQL three-valued
    // logic makes `x NOT IN (…, NULL)` UNKNOWN for every x — zero rows
    // — while NOT EXISTS (null-safe by construction) returns the real
    // complement; Spark plans the former as a null-aware anti join
    // (BroadcastNestedLoopJoin NAAJ) and the latter as a plain left
    // anti. Both counts declared side by side: an engine that "fixes"
    // NOT IN silently would hash-fail.
    QueryDef(
      "q335_not_in_null_semantics",
      (s, d) => {
        Tables(s, d, "supplier").createOrReplaceTempView("supp_q335")
        Tables(s, d, "customer").createOrReplaceTempView("cust_q335")
        s.sql("""
          WITH probe AS (
            SELECT s_nationkey AS k FROM supp_q335
            UNION ALL SELECT CAST(NULL AS BIGINT)),
          safe_probe AS (SELECT s_nationkey AS k FROM supp_q335)
          SELECT
            (SELECT count(*) FROM cust_q335
             WHERE c_nationkey NOT IN (SELECT k FROM probe)) AS n_not_in_with_null,
            (SELECT count(*) FROM cust_q335
             WHERE c_nationkey NOT IN (SELECT k FROM safe_probe)) AS n_not_in_clean,
            (SELECT count(*) FROM cust_q335 c
             WHERE NOT EXISTS (SELECT 1 FROM probe p WHERE p.k = c.c_nationkey))
              AS n_not_exists""")
      },
      Some("""
        WITH probe AS (
          SELECT s_nationkey AS k FROM supplier
          UNION ALL SELECT CAST(NULL AS BIGINT)),
        safe_probe AS (SELECT s_nationkey AS k FROM supplier)
        SELECT
          (SELECT count(*) FROM customer
           WHERE c_nationkey NOT IN (SELECT k FROM probe)) AS n_not_in_with_null,
          (SELECT count(*) FROM customer
           WHERE c_nationkey NOT IN (SELECT k FROM safe_probe)) AS n_not_in_clean,
          (SELECT count(*) FROM customer c
           WHERE NOT EXISTS (SELECT 1 FROM probe p WHERE p.k = c.c_nationkey))
            AS n_not_exists""")),
  )
}
