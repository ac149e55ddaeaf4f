package graft.queries

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

import graft.{QueryDef, Tables}
import graft.Num.dsumSql
import graft.operators.TextOps.{hash60Duck, hash60Spark}

/** Fourth wave of training-data-preparation operators: exact
  * duplicated-span detection (the signal behind suffix-array substring
  * dedup, re-expressed as a distributed rolling-window hash count),
  * RAG-style overlapping chunking, corpus-unigram surprisal scoring
  * (CCNet-style LM quality filtering), a Z-order multi-dimensional
  * layout key (the write-side half of data skipping), a two-phase
  * salted aggregation (the skew-proof shape of a low-cardinality
  * group-by), and map-only keyword topic tagging for mixture control.
  *
  * Cross-engine discipline as everywhere in the catalog: integer-only
  * outputs where possible (60-bit md5 hashes, half-up integer ppm),
  * `ln` rounded to 6 dp at the source before any accumulation, float
  * sums through exact DECIMAL(28,6), one final round at the output.
  */
object Training4 {
  /** q118's bit-interleave, emitted once for both engines: the 20-bit
    * Z-value of (x, y) each reduced mod 1024. Plain shifts/ands — no
    * udf, no loop; stays inside whole-stage codegen on Spark and
    * vectorizes on DuckDB.
    */
  private def zInterleave(x: String, y: String): String =
    (0 until 10).map { b =>
      s"((($x >> $b) & 1) << ${2 * b}) + ((($y >> $b) & 1) << ${2 * b + 1})"
    }.mkString(" + ")

  /** q120's topic lexicons — one shared list so the Spark plan and the
    * oracle can never drift. Scores are per-row array folds (map-only,
    * zero shuffle): the right shape for tagging 100 TB of text.
    */
  private val topics: Seq[(String, Seq[String])] = Seq(
    "query" -> Seq("join", "scan", "sort", "merge", "hash"),
    "streaming" -> Seq("stream", "window", "batch", "spark"),
    "storage" -> Seq("table", "part", "key", "order"),
  )
  private def isKw(v: String, kws: Seq[String]): String =
    kws.map(k => s"$v = '$k'").mkString("(", " OR ", ")")

  val defs: Seq[QueryDef] = Seq(

    // ---- exact duplicated-span detection: every 5-word window of every
    // document is hashed (rolling shingle), and a window is "duplicated"
    // when its hash occurs in more than one distinct document — the
    // per-document duplicated-window ratio is the substring-level dedup
    // signal (suffix-array exact-substring dedup, Lee et al. 2022,
    // computes the same overlap from one giant suffix array; the
    // distributed shape is this window-hash shuffle, which partitions
    // by hash instead of materializing a global sorted structure).
    // Scale: the only shuffled payload is (60-bit hash, doc_id); the
    // duplicated-hash set is df-filtered and tiny, so the count-back
    // join broadcasts under AQE. Output is all integers (ppm via
    // half-up integer division) — bit-identical on any engine.
    QueryDef(
      "q115_dup_spans",
      (s, d) => {
        val docs = Tables(s, d, "documents")
        // the length filter both matches the oracle's range() semantics
        // (a <5-word doc has no windows and no output row) and guards
        // Spark's sequence(), which would generate a DESCENDING [0,-1]
        // for a 4-word doc and crash slice() with index 0
        val wins = docs
          .filter(expr("size(split(text, ' ')) >= 5"))
          .select(
            col("doc_id"),
            explode(expr(
              """transform(sequence(0, size(split(text, ' ')) - 5),
                 i -> concat_ws(' ', slice(split(text, ' '), i + 1, 5)))"""))
              .as("win"))
          .withColumn("__h", expr(hash60Spark("win")))
          .select("doc_id", "__h")
          .cache() // consumed twice: df pass + count-back join
        try {
          val dup = wins.groupBy("__h")
            .agg(countDistinct("doc_id").as("nd"))
            .filter(col("nd") > 1)
            .select("__h")
          wins
            .join(dup.withColumn("__dup", lit(1L)), Seq("__h"), "left")
            .groupBy("doc_id")
            .agg(
              count(lit(1)).as("n_windows"),
              sum(coalesce(col("__dup"), lit(0L))).as("n_dup"))
            .select(
              col("doc_id"), col("n_windows"), col("n_dup"),
              expr("(2 * 1000000 * n_dup + n_windows) div (2 * n_windows)")
                .as("dup_ppm"))
            .localCheckpoint() // materialize so the cache can be freed
        } finally wins.unpersist()
      },
      Some(s"""
        WITH wins AS (
          SELECT doc_id,
                 ${hash60Duck("array_to_string((string_split(text, ' '))[i+1 : i+5], ' ')")} AS h
          FROM (SELECT doc_id, text,
                       unnest(range(0, len(string_split(text, ' ')) - 4)) AS i
                FROM documents)),
        dup AS (
          SELECT h FROM (
            SELECT h, count(DISTINCT doc_id) AS nd FROM wins GROUP BY h)
          WHERE nd > 1),
        per AS (
          SELECT w.doc_id, count(*) AS n_windows,
                 CAST(sum(CASE WHEN d.h IS NULL THEN 0 ELSE 1 END) AS BIGINT) AS n_dup
          FROM wins w LEFT JOIN dup d ON d.h = w.h
          GROUP BY w.doc_id)
        SELECT doc_id, n_windows, n_dup,
               (2 * 1000000 * n_dup + n_windows) // (2 * n_windows) AS dup_ppm
        FROM per"""),
    ),

    // ---- RAG chunking: overlapping fixed-size windows (16 tokens,
    // stride 12) over each document — the retrieval-corpus shaping step
    // before embedding. Map-only (explode is per-row, no shuffle at
    // all); emits the chunk's 60-bit content hash instead of its text,
    // so the output — and any downstream exchange — carries fixed-width
    // keys, not strings. The final (possibly short) tail window is kept:
    // chunk count = 1 + max(0, ceil((len-16)/12)).
    QueryDef(
      "q116_rag_chunks",
      (s, d) =>
        Tables(s, d, "documents")
          .select(
            col("doc_id"),
            posexplode(expr(
              """transform(
                   sequence(0, greatest(0, cast(ceil((size(split(text, ' ')) - 16) / 12.0) as int))),
                   i -> concat_ws(' ', slice(split(text, ' '), i * 12 + 1, 16)))"""))
              .as(Seq("chunk_idx", "chunk")))
          .select(
            col("doc_id"),
            col("chunk_idx").cast("long").as("chunk_idx"),
            expr("size(split(chunk, ' '))").cast("long").as("n_tokens"),
            expr(hash60Spark("chunk")).as("chunk_hash")),
      Some(s"""
        SELECT doc_id, i AS chunk_idx,
               len((string_split(text, ' '))[i*12+1 : i*12+16]) AS n_tokens,
               ${hash60Duck("array_to_string((string_split(text, ' '))[i*12+1 : i*12+16], ' ')")} AS chunk_hash
        FROM (SELECT doc_id, text,
                     unnest(range(0, greatest(0, CAST(ceil((len(string_split(text, ' ')) - 16) / 12.0) AS BIGINT)) + 1)) AS i
              FROM documents)"""),
    ),

    // ---- corpus-unigram surprisal (CCNet-style LM quality filter):
    // fit the unigram LM on the corpus itself (one grouped count), score
    // each document by its mean negative log-probability, and return the
    // 25 most surprising documents. Scale: the vocabulary aggregate is
    // map-side-combinable; the word→count join is a broadcast (a zipfian
    // vocab is orders smaller than the corpus); the top-k is
    // TakeOrderedAndProject, never a global sort. Determinism: ln is
    // rounded to 6 dp at the source, per-doc sums accumulate in exact
    // DECIMAL(28,6), one final round, doc_id tiebreak.
    QueryDef(
      "q117_unigram_surprisal",
      (s, d) => {
        val words = Tables(s, d, "documents")
          .select(col("doc_id"), explode(split(col("text"), " ")).as("w"))
        val vocab = words.groupBy("w").agg(count(lit(1)).as("cnt"))
        val tot = vocab.agg(sum("cnt").as("tot"))
        words
          .join(broadcast(vocab), "w")
          .crossJoin(broadcast(tot))
          .withColumn("__s",
            round(log(col("tot").cast("double") / col("cnt").cast("double")), 6))
          .groupBy("doc_id")
          .agg(
            count(lit(1)).as("n_tokens"),
            sum(col("__s").cast(DecimalType(28, 6))).as("__ssum"))
          .select(
            col("doc_id"), col("n_tokens"),
            round(col("__ssum").cast("double") / col("n_tokens"), 6).as("avg_nll"))
          .orderBy(col("avg_nll").desc, col("doc_id").asc)
          .limit(25)
      },
      Some("""
        WITH words AS (
          SELECT doc_id, unnest(string_split(text, ' ')) AS w FROM documents),
        vocab AS (SELECT w, count(*) AS cnt FROM words GROUP BY w),
        tot AS (SELECT CAST(sum(cnt) AS BIGINT) AS tot FROM vocab),
        scored AS (
          SELECT doc_id, count(*) AS n_tokens,
                 sum(CAST(round(ln(CAST(tot AS DOUBLE) / CAST(cnt AS DOUBLE)), 6) AS DECIMAL(28,6))) AS ssum
          FROM words JOIN vocab USING (w) CROSS JOIN tot
          GROUP BY doc_id)
        SELECT doc_id, n_tokens,
               round(CAST(ssum AS DOUBLE) / n_tokens, 6) AS avg_nll
        FROM scored
        ORDER BY avg_nll DESC, doc_id LIMIT 25"""),
    ),

    // ---- Z-order layout key: the write-side half of multi-dimensional
    // data skipping. Interleaving the bits of (part, supplier) gives a
    // single sort key under which every 2^14-wide key range holds a
    // bounded rectangle of BOTH dimensions — so parquet row-group
    // min/max stats prune scans filtered on either column (a plain sort
    // by one column prunes only that column). The query emits, per
    // 2^14-bucket, the row count and the min/max of each dimension —
    // i.e. exactly the file-skipping index a writer (Sinks.writeSorted
    // clustered by z_key) would produce; the bounded per-bucket ranges
    // ARE the pruning guarantee. Pure per-row bit arithmetic + one
    // map-side-combinable aggregate; integers end-to-end.
    QueryDef(
      "q118_zorder_stats",
      (s, d) =>
        Tables(s, d, "lineitem")
          .select(
            expr("l_partkey % 1024").as("x"),
            expr("l_suppkey % 1024").as("y"))
          .withColumn("bucket", expr(s"(${zInterleave("x", "y")}) div 16384"))
          .groupBy("bucket")
          .agg(
            count(lit(1)).as("n_rows"),
            min("x").as("min_x"), max("x").as("max_x"),
            min("y").as("min_y"), max("y").as("max_y")),
      Some(s"""
        SELECT (${zInterleave("x", "y")}) // 16384 AS bucket,
               count(*) AS n_rows,
               min(x) AS min_x, max(x) AS max_x,
               min(y) AS min_y, max(y) AS max_y
        FROM (SELECT l_partkey % 1024 AS x, l_suppkey % 1024 AS y FROM lineitem)
        GROUP BY 1"""),
    ),

    // ---- two-phase salted aggregation: a group-by whose key has only a
    // handful of distinct values (l_returnflag: 3) reduces, at 100 TB,
    // to 3 reducer tasks no matter how many executors exist. Salting the
    // key with a 16-way hash fans the partial aggregation across 48
    // reducers; the second phase re-aggregates the 48 partial rows —
    // driver-trivial. The result is EXACTLY the plain group-by (partial
    // counts are integers; partial sums accumulate in DECIMAL(28,6),
    // which is associative), so the oracle is the unsalted SQL — the
    // plan differs, the answer cannot.
    QueryDef(
      "q119_salted_agg",
      (s, d) =>
        Tables(s, d, "lineitem")
          .withColumn("__salt", pmod(hash(col("l_orderkey")), lit(16)))
          .groupBy(col("l_returnflag"), col("__salt"))
          .agg(
            count(lit(1)).as("pn"),
            sum(col("l_quantity").cast(DecimalType(28, 6))).as("ps"))
          .groupBy("l_returnflag")
          .agg(
            sum("pn").cast("long").as("n_rows"),
            sum("ps").cast("double").as("sum_qty")),
      Some(s"""
        SELECT l_returnflag, count(*) AS n_rows, ${dsumSql("l_quantity")} AS sum_qty
        FROM lineitem GROUP BY 1"""),
    ),

    // ---- keyword topic tagging for domain-mixture control: per-topic
    // hit counts as per-row array folds over a shared lexicon, winner by
    // fixed CASE precedence (ties resolve to the earlier topic; zero
    // hits → 'untagged'). Map-only — one scan, zero shuffles, zero
    // joins: at 100 TB this is the cheapest possible pass, and the
    // output feeds q96's mixture rebalancer.
    QueryDef(
      "q120_topic_tag",
      (s, d) => {
        val hitCols = topics.map { case (name, kws) =>
          expr(s"cast(size(filter(split(text, ' '), x -> ${isKw("x", kws)})) as bigint)")
            .as(s"h_$name")
        }
        val names = topics.map(_._1)
        val winner = names.zipWithIndex.foldRight(lit("untagged"): Column) {
          case ((n, i), els) =>
            val beats = names.drop(i + 1).map(m => col(s"h_$n") >= col(s"h_$m"))
            when(beats.foldLeft(col(s"h_$n") > 0)(_ && _), lit(n)).otherwise(els)
        }
        val hits = names.foldRight(lit(0L): Column) { case (n, els) =>
          when(col("topic") === n, col(s"h_$n")).otherwise(els)
        }
        Tables(s, d, "documents")
          .select(col("doc_id") +: hitCols: _*)
          .withColumn("topic", winner)
          .withColumn("hits", hits)
          .select("doc_id", "topic", "hits")
      },
      Some {
        val hitSel = topics.map { case (name, kws) =>
          s"len(list_filter(string_split(text, ' '), x -> ${isKw("x", kws)})) AS h_$name"
        }.mkString(",\n                 ")
        val names = topics.map(_._1)
        val winner = names.zipWithIndex.map { case (n, i) =>
          val beats = (names.drop(i + 1).map(m => s"h_$n >= h_$m") :+ s"h_$n > 0")
            .mkString(" AND ")
          s"WHEN $beats THEN '$n'"
        }.mkString("\n                    ")
        val hits = names.map(n => s"WHEN topic = '$n' THEN h_$n").mkString(" ")
        s"""
        WITH scored AS (
          SELECT doc_id,
                 $hitSel
          FROM documents),
        tagged AS (
          SELECT doc_id,
                 CASE $winner
                    ELSE 'untagged' END AS topic,
                 h_query, h_streaming, h_storage
          FROM scored)
        SELECT doc_id, topic,
               CAST(CASE $hits ELSE 0 END AS BIGINT) AS hits
        FROM tagged"""
      },
    ),
  )
}
