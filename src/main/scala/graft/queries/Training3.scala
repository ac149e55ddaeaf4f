package graft.queries

import scala.concurrent.{Await, Future}
import scala.concurrent.ExecutionContext.Implicits.global
import scala.concurrent.duration.Duration

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.{QueryDef, Tables}
import graft.operators.{Dedup, DeterministicKMeans}
import graft.operators.TextOps.{hash60Duck, hash60Spark, lshPairsCtesDuck}

/** Third wave of training-data-preparation operators: C4-style
  * line-level boilerplate removal, deterministic weighted sampling,
  * an exact one-pass correlation matrix, product-quantization codes,
  * and integer-exact PageRank over the near-dup candidate graph.
  *
  * Same cross-engine discipline as the rest of the catalog: exact
  * integer/decimal moments wherever a sum appears, doubles only through
  * correctly-rounded IEEE ops written identically on both engines, and
  * a single round() at the source for anything that reaches the output.
  */
object Training3 {
  /** q107 shares one moment/pair list between the Spark plan and the
    * DuckDB oracle so the two formulas cannot drift.
    */
  private val corrCols = Seq(
    "l_quantity" -> "q", "l_extendedprice" -> "p",
    "l_discount" -> "d", "l_tax" -> "t")
  private val corrPairs = for {
    i <- 0 until corrCols.size; j <- (i + 1) until corrCols.size
  } yield (corrCols(i), corrCols(j))

  /** Pearson r from exact integer moments, as SQL over columns named
    * n, s_<a>, s_<aa>, s_<ab> (all DECIMAL(38,0)); the double math is
    * the same correctly-rounded IEEE expression on both engines, then
    * one round to 6 dp. Spark and DuckDB agree on every operator here
    * (cast-to-double of an exact decimal, *, -, /, sqrt are all
    * correctly rounded), so the unrounded doubles are already
    * bit-identical — the round just makes the output stable to read.
    */
  private def corrSql(a: String, b: String): String = {
    def d(x: String) = s"CAST($x AS DOUBLE)"
    val num = s"(${d(s"s_$a$b")} * ${d("n")} - ${d(s"s_$a")} * ${d(s"s_$b")})"
    val den = s"(sqrt(${d(s"s_$a$a")} * ${d("n")} - ${d(s"s_$a")} * ${d(s"s_$a")}) * " +
      s"sqrt(${d(s"s_$b$b")} * ${d("n")} - ${d(s"s_$b")} * ${d(s"s_$b")}))"
    s"round($num / $den, 6)"
  }

  /** The delimiter-encoded token-string expression shared by the BPE
    * queries: '|a||b||c|' → ['a','b','c'].
    */
  private val bpeToks = "split(substring(ts, 2, length(ts) - 2), '\\\\|\\\\|')"

  /** BPE training loop shared by q110 (emit the merges) and q126 (apply
    * them): `rounds` deterministic merge rounds over the word-frequency
    * table. Returns the merged vocabulary (word, freq, ts) plus the
    * merge ledger (step, pa, pb, cnt). Callers that consume the
    * vocabulary pass `materializeVocab = true` to localCheckpoint it
    * before the cache is released; q110 only reads the ledger and skips
    * that extra job. See q110's QueryDef comment for the representation
    * trick and scale shape.
    */
  private def bpeTrain(
      docs: DataFrame, rounds: Int,
      materializeVocab: Boolean = false): (DataFrame, Seq[(Int, String, String, Long)]) = {
    val wf = docs
      .select(explode(split(col("text"), " ")).as("word"))
      .groupBy("word").agg(count(lit(1)).as("freq"))
      .withColumn("ts", regexp_replace(col("word"), "(.)", "|$1|"))
      .cache()
    try {
      var cur = wf
      val merges = Seq.newBuilder[(Int, String, String, Long)]
      var step = 1
      var exhausted = false
      while (step <= rounds && !exhausted) {
        val top = cur
          .select(col("freq"), expr(bpeToks).as("tk"))
          .filter(size(col("tk")) >= 2)
          .select(col("freq"), expr(
            """explode(transform(sequence(1, size(tk) - 1),
               i -> struct(element_at(tk, i) as pa, element_at(tk, i + 1) as pb)))""").as("p"))
          .groupBy(col("p.pa").as("pa"), col("p.pb").as("pb"))
          .agg(sum("freq").as("cnt"))
          .orderBy(col("cnt").desc, col("pa").asc, col("pb").asc)
          .limit(1)
          .collect()
        if (top.isEmpty) {
          // every word is a single token — no adjacent pair left to
          // merge. The oracle's top$r CTE is empty for this and all
          // later rounds (its scalar subqueries go NULL), so stop
          // and emit no row, matching it on degenerate corpora.
          exhausted = true
        } else {
          val (pa, pb, cnt) =
            (top(0).getString(0), top(0).getString(1), top(0).getLong(2))
          // lit()-built replace, not string-interpolated SQL: a merged
          // token containing a quote/backslash must not reparse as
          // syntax (the oracle side is immune — scalar subqueries)
          cur = cur.withColumn("ts",
            replace(col("ts"), lit(s"|$pa||$pb|"), lit(s"|$pa$pb|")))
          merges += ((step, pa, pb, cnt))
          step += 1
        }
      }
      (if (materializeVocab) cur.localCheckpoint() else cur, merges.result())
    } finally wf.unpersist()
  }

  /** The oracle's WITH-clause prefix shared by q110/q126: `words`, then
    * t0 (char-split vocab) through t`rounds` (post-merge vocab), with
    * the per-round pair counts (pc$r) and chosen merge (top$r) along
    * the way. Callers append their own tail over t`rounds` / top$r.
    */
  private def bpeCtesDuck(rounds: Int): String = {
    val header = s"""
        WITH words AS (SELECT unnest(string_split(text, ' ')) AS word FROM documents),
        t0 AS (SELECT word, count(*) AS freq,
                      regexp_replace(word, '(.)', '|\\1|', 'g') AS ts
               FROM words GROUP BY word)"""
    val roundCtes = (0 until rounds).map { r =>
      s"""
        pc$r AS (
          SELECT p.pa AS pa, p.pb AS pb, sum(freq) AS cnt FROM (
            SELECT freq,
                   unnest(list_transform(range(1, len(tk)),
                     i -> {'pa': tk[i], 'pb': tk[i+1]})) AS p
            FROM (SELECT freq, string_split(ts[2:len(ts)-1], '||') AS tk FROM t$r))
          GROUP BY 1, 2),
        top$r AS (SELECT pa, pb, cnt FROM pc$r ORDER BY cnt DESC, pa, pb LIMIT 1),
        t${r + 1} AS (
          SELECT word, freq, replace(ts,
            '|' || (SELECT pa FROM top$r) || '||' || (SELECT pb FROM top$r) || '|',
            '|' || (SELECT pa FROM top$r) || (SELECT pb FROM top$r) || '|') AS ts
          FROM t$r)"""
    }.mkString(",", ",", "")
    header + roundCtes
  }

  val defs: Seq[QueryDef] = Seq(

    // ---- C4-style line-level boilerplate removal: explode every doc
    // into fixed 3-word chunks (the corpus has no newlines, so chunks
    // play the role of lines), drop any chunk whose corpus-wide document
    // frequency exceeds the cap (boilerplate appears verbatim across
    // many pages), and reassemble the survivors in order. Scale shape:
    // the frequency pass keys on the 60-bit chunk hash (fixed-width
    // shuffle key, never the string); the filter is an anti-join against
    // the small df>cap hot set (AQE broadcasts it — same pattern as
    // Dedup.jaccardPairs' hot-shingle cap); reassembly is one keyed
    // aggregation with an in-group sort, no window.
    QueryDef(
      "q105_line_dedup",
      (s, d) => {
        val cap = 4
        val docs = Tables(s, d, "documents")
        // cached: consumed twice (frequency pass + anti-join probe) —
        // without it the corpus-wide explode+md5 runs twice, doubling
        // the dominant scan cost (same rationale as Dedup.jaccardPairs;
        // Dataset.cache is MEMORY_AND_DISK, so it degrades to spill,
        // not recompute, when the exploded corpus outgrows memory).
        val chunked = docs.select(
          col("doc_id"),
          posexplode(expr(
            """transform(sequence(0, cast(ceil(size(split(text, ' ')) / 3.0) as int) - 1),
               i -> concat_ws(' ', slice(split(text, ' '), i * 3 + 1, 3)))"""))
            .as(Seq("idx", "chunk")))
          .withColumn("__ch", expr(hash60Spark("chunk")))
          .cache()
        val hot = chunked.groupBy("__ch")
          .agg(countDistinct("doc_id").as("df"))
          .filter(col("df") > cap)
          .select("__ch")
        val reass = chunked.join(hot, Seq("__ch"), "left_anti")
          .groupBy("doc_id")
          .agg(
            expr("array_join(transform(array_sort(collect_list(struct(idx, chunk))), c -> c.chunk), ' ')")
              .as("clean_text"),
            count(lit(1)).as("n_kept"))
        docs.select(
            col("doc_id"),
            expr("cast(ceil(size(split(text, ' ')) / 3.0) as bigint)").as("n_chunks"))
          .join(reass, Seq("doc_id"), "left")
          .select(
            col("doc_id"),
            coalesce(col("clean_text"), lit("")).as("clean_text"),
            col("n_chunks"),
            coalesce(col("n_kept"), lit(0L)).as("n_kept"))
      },
      Some(s"""
        WITH chunks AS (
          SELECT doc_id, i AS idx,
                 array_to_string((string_split(text, ' '))[i*3+1 : i*3+3], ' ') AS chunk
          FROM (SELECT doc_id, text,
                       unnest(range(0, CAST(ceil(len(string_split(text, ' ')) / 3.0) AS BIGINT))) AS i
                FROM documents)),
        hot AS (
          SELECT ch FROM (
            SELECT ${hash60Duck("chunk")} AS ch, count(DISTINCT doc_id) AS df
            FROM chunks GROUP BY 1) WHERE df > 4),
        kept AS (
          SELECT c.* FROM chunks c
          LEFT JOIN hot h ON h.ch = ${hash60Duck("c.chunk")}
          WHERE h.ch IS NULL),
        reass AS (
          SELECT doc_id, string_agg(chunk, ' ' ORDER BY idx) AS clean_text,
                 count(*) AS n_kept
          FROM kept GROUP BY doc_id)
        SELECT d.doc_id,
               coalesce(r.clean_text, '') AS clean_text,
               CAST(ceil(len(string_split(d.text, ' ')) / 3.0) AS BIGINT) AS n_chunks,
               coalesce(r.n_kept, 0) AS n_kept
        FROM documents d LEFT JOIN reass r ON r.doc_id = d.doc_id""")),

    // ---- deterministic weighted sampling (priority sampling): each doc
    // gets priority h/w where h = 60-bit md5 hash of its id and
    // w = n_chars; the k smallest priorities are the sample, so
    // P(selected) grows with the weight and the choice is a pure
    // function of the id — reproducible across runs, engines, and
    // cluster sizes, and mergeable across shards (the global top-k of
    // per-shard top-ks). Both engines compute h and w exactly, cast to
    // double (round-to-nearest, identical), and divide (correctly
    // rounded, identical) — so the order compares identical doubles and
    // the output carries integers only. Plan: TakeOrderedAndProject
    // (per-partition top-k merged at the driver), never a global sort.
    QueryDef(
      "q106_weighted_sample",
      (s, d) =>
        Tables(s, d, "documents")
          .select(col("doc_id"), col("n_chars"))
          .withColumn("__pri",
            expr(hash60Spark("cast(doc_id as string)")).cast("double") / col("n_chars"))
          .orderBy(col("__pri").asc, col("doc_id").asc)
          .limit(100)
          .select("doc_id", "n_chars"),
      Some(s"""
        SELECT doc_id, n_chars
        FROM documents
        ORDER BY CAST(${hash60Duck("doc_id::VARCHAR")} AS DOUBLE) / n_chars, doc_id
        LIMIT 100""")),

    // ---- exact one-pass correlation matrix over the lineitem measures.
    // Values are scaled to cents (exact for 2-dp money/ratio columns) and
    // every moment is an exact DECIMAL(38,0) sum — one map-side-combinable
    // aggregation over the fact table produces all 15 moments, then the
    // 6 pairwise Pearson r's are pure driver-side-free scalar expressions
    // on that single row (stack unpivots it). No per-pair scan, no
    // second pass, no float accumulation anywhere.
    QueryDef(
      "q107_corr_matrix",
      (s, d) => {
        val cents = Tables(s, d, "lineitem").select(
          corrCols.map { case (c, a) =>
            expr(s"cast(round($c * 100, 0) as bigint)").as(a)
          }: _*)
        val aggs: Seq[Column] =
          count(lit(1)).cast("decimal(38,0)").as("n") +:
            (corrCols.map { case (_, a) =>
              sum(col(a).cast("decimal(38,0)")).as(s"s_$a")
            } ++
              corrCols.map { case (_, a) =>
                sum((col(a) * col(a)).cast("decimal(38,0)")).as(s"s_$a$a")
              } ++
              corrPairs.map { case ((_, a), (_, b)) =>
                sum((col(a) * col(b)).cast("decimal(38,0)")).as(s"s_$a$b")
              })
        val m = cents.agg(aggs.head, aggs.tail: _*)
        val stackArgs = corrPairs.map { case ((ca, a), (cb, b)) =>
          s"'$ca', '$cb', ${corrSql(a, b)}"
        }.mkString(", ")
        m.select(expr(
          s"stack(${corrPairs.size}, $stackArgs) as (col_a, col_b, r)"))
      },
      Some {
        val moments =
          s"CAST(count(*) AS DECIMAL(38,0)) AS n, " +
            (corrCols.map { case (_, a) =>
              s"sum(CAST($a AS DECIMAL(38,0))) AS s_$a"
            } ++
              corrCols.map { case (_, a) =>
                s"sum(CAST($a * $a AS DECIMAL(38,0))) AS s_$a$a"
              } ++
              corrPairs.map { case ((_, a), (_, b)) =>
                s"sum(CAST($a * $b AS DECIMAL(38,0))) AS s_$a$b"
              }).mkString(", ")
        val rows = corrPairs.map { case ((ca, a), (cb, b)) =>
          s"SELECT '$ca' AS col_a, '$cb' AS col_b, ${corrSql(a, b)} AS r FROM m"
        }.mkString("\n        UNION ALL ")
        s"""
        WITH c AS (
          SELECT ${corrCols.map { case (c, a) => s"CAST(round($c * 100) AS BIGINT) AS $a" }.mkString(", ")}
          FROM lineitem),
        m AS (SELECT $moments FROM c)
        $rows"""
      }),

    // ---- product-quantization codes: split the 64-dim embedding into
    // 4 subspaces of 16 dims and run the integer-exact k-means over each
    // — a vector compresses to 4 small codes (here 4×3 bits), the
    // standard shrink step before a billion-vector ANN index (IVF-PQ).
    // The 4 codebook fits are independent, so they run as concurrent
    // Spark jobs (same pattern as the wafer per-step fits); each fit's
    // per-round cost is one map-side-combinable aggregation, and the
    // final code join is 4 equi-joins on the id. Oracle: 4 prefixed
    // copies of the k-means CTE chain stitched into one WITH clause.
    QueryDef(
      "q108_pq_codes",
      (s, d) => {
        val emb = Tables(s, d, "embeddings")
        val subs = (0 until 4).map { i =>
          Future {
            DeterministicKMeans.assignments(
              emb.select(col("vec_id"),
                expr(s"slice(embedding, ${i * 16 + 1}, 16)").as("sub")),
              "vec_id", "sub", k = 8, iters = 2)
              .withColumnRenamed("cluster", s"c$i")
          }
        }
        Await.result(Future.sequence(subs), Duration.Inf)
          .reduce(_.join(_, "vec_id"))
      },
      Some {
        val bodies = (0 until 4).map { i =>
          DeterministicKMeans.assignmentsCtesBody(
            "embeddings", "vec_id",
            s"embedding[${i * 16 + 1}:${(i + 1) * 16}]",
            k = 8, iters = 2, pfx = s"s${i}_")
        }.mkString(",\n      ")
        s"""
        WITH $bodies
        SELECT a0.id AS vec_id, a0.cluster AS c0, a1.cluster AS c1,
               a2.cluster AS c2, a3.cluster AS c3
        FROM s0_assignF a0
        JOIN s1_assignF a1 ON a1.id = a0.id
        JOIN s2_assignF a2 ON a2.id = a0.id
        JOIN s3_assignF a3 ON a3.id = a0.id"""
      }),

    // ---- integer-exact PageRank (3 fixed iterations, damping 0.85)
    // over the MinHash near-dup candidate graph: rank concentration
    // exposes template/boilerplate hubs in a crawl. Ranks live in
    // micro-units; each contribution is floor(rank/degree) and each
    // update is 150000 + floor(85·in/100) — all 64-bit integer math, so
    // the result is bit-identical on any engine or partitioning. Each
    // round is one equi-join (edges ⋈ ranks, both keyed by src) + one
    // keyed aggregation; the edge list is localCheckpoint'd once and
    // reused, and nothing ever leaves the executors — the classic
    // join-agg PageRank shape that scales to billions of edges.
    QueryDef(
      "q109_pagerank",
      (s, d) => {
        val docs = Tables(s, d, "documents")
        val pairs = Dedup.minhashCandidatePairs(
          Dedup.minhashBands(docs, "doc_id", "text"), "doc_id")
        val edges = pairs
          .select(col("doc_id_a").as("src"), col("doc_id_b").as("dst"))
          .union(pairs
            .select(col("doc_id_b").as("src"), col("doc_id_a").as("dst")))
          .localCheckpoint() // small; computed once, read three times
        val deg = edges.groupBy("src").agg(count(lit(1)).as("deg"))
        val nodes = docs.select(col("doc_id"))
        var rank = nodes.withColumn("r", lit(1000000L))
        (1 to 3).foreach { _ =>
          val contrib = edges
            .join(rank.withColumnRenamed("doc_id", "src"), "src")
            .join(deg, "src")
            .select(col("dst"), expr("r div deg").as("c"))
            .groupBy("dst").agg(sum("c").as("in_sum"))
          rank = nodes
            .join(contrib, nodes("doc_id") === contrib("dst"), "left")
            .select(col("doc_id"),
              expr("150000L + (85 * coalesce(in_sum, 0L)) div 100").as("r"))
        }
        rank
      },
      Some {
        val pairCtes = s"""
        WITH ${lshPairsCtesDuck("documents", withWalk = false)},
        deg AS (SELECT src, count(*) AS deg FROM edges GROUP BY 1),
        r0 AS (SELECT doc_id, CAST(1000000 AS BIGINT) AS r FROM documents)"""
        val rounds = (1 to 3).map { i =>
          s"""
        r$i AS (
          SELECT d.doc_id,
                 150000 + (85 * coalesce(CAST(s.in_sum AS BIGINT), 0)) // 100 AS r
          FROM documents d LEFT JOIN (
            SELECT e.dst, sum(r.r // g.deg) AS in_sum
            FROM edges e
            JOIN r${i - 1} r ON r.doc_id = e.src
            JOIN deg g ON g.src = e.src
            GROUP BY e.dst) s ON s.dst = d.doc_id)"""
        }.mkString(",", ",", "")
        s"""$pairCtes$rounds
        SELECT doc_id, CAST(r AS BIGINT) AS r FROM r3"""
      }),

    // ---- BPE tokenizer training: 3 deterministic merge rounds over the
    // word-frequency table. The representation trick that makes the
    // merge a pure engine primitive: a word's tokens are encoded as
    // '|a||b||c|' (double-bar joins, single-bar ends), so merging pair
    // (a,b) is a plain non-regex replace('|a||b|' -> '|ab|') — both
    // engines scan left-to-right non-overlapping, which IS BPE's merge
    // order, and the delimiters make token boundaries unambiguous
    // (corpus words are alphanumeric, so '|' cannot occur in a token).
    // Scale shape: the corpus is scanned ONCE into the vocabulary-sized
    // (word, freq) table; every round after that is one map-side-
    // combinable pair-count aggregation over the vocabulary plus a
    // driver-collected scalar (the chosen merge — the model parameter,
    // same pattern as the k-means centroids). Ties break
    // lexicographically, so the merge sequence is engine-exact; the
    // oracle replays it with scalar subqueries per unrolled round.
    QueryDef(
      "q110_bpe_merges",
      (s, d) => {
        import s.implicits._
        bpeTrain(Tables(s, d, "documents"), rounds = 3)._2.toDF("step", "pa", "pb", "cnt")
      },
      Some {
        val out = (0 until 3).map(r =>
          s"SELECT ${r + 1} AS step, pa, pb, CAST(cnt AS BIGINT) AS cnt FROM top$r")
          .mkString("\n        UNION ALL ")
        s"${bpeCtesDuck(3)}\n        $out"
      }),

    // ---- BPE tokenization (the apply step of q110's trainer): encode
    // every document with the 3-round merged vocabulary and report its
    // token count before (= characters) and after the merges, plus the
    // post-merge size as ppm of the character count — the compression
    // the tokenizer bought. Scale shape: training touches only the
    // vocabulary table (q110); application is one broadcast join of the
    // corpus word stream against that vocabulary (a tokenizer IS a
    // broadcast dictionary at serving time) and one keyed agg — the
    // corpus is scanned once and never re-encoded per round.
    QueryDef(
      "q126_bpe_encode",
      (s, d) => {
        val docs = Tables(s, d, "documents")
        val vocab = bpeTrain(docs, rounds = 3, materializeVocab = true)._1
          .select(col("word"),
            size(expr(bpeToks)).cast("long").as("n_tok"),
            length(col("word")).cast("long").as("n_char"))
        docs
          .select(col("doc_id"), explode(split(col("text"), " ")).as("word"))
          .join(broadcast(vocab), "word")
          .groupBy("doc_id")
          .agg(
            count(lit(1)).as("n_words"),
            sum("n_char").as("n_char_toks"),
            sum("n_tok").as("n_bpe_toks"))
          .select(
            col("doc_id"), col("n_words"), col("n_char_toks"), col("n_bpe_toks"),
            expr("(2 * 1000000 * n_bpe_toks + n_char_toks) div (2 * n_char_toks)")
              .as("bpe_ppm"))
      },
      Some(s"""${bpeCtesDuck(3)},
        vocab AS (
          SELECT word, len(string_split(ts[2:len(ts)-1], '||')) AS n_tok,
                 len(word) AS n_char
          FROM t3),
        dw AS (SELECT doc_id, unnest(string_split(text, ' ')) AS word FROM documents),
        per AS (
          SELECT doc_id, count(*) AS n_words,
                 CAST(sum(n_char) AS BIGINT) AS n_char_toks,
                 CAST(sum(n_tok) AS BIGINT) AS n_bpe_toks
          FROM dw JOIN vocab USING (word)
          GROUP BY doc_id)
        SELECT doc_id, n_words, n_char_toks, n_bpe_toks,
               (2 * 1000000 * n_bpe_toks + n_char_toks) // (2 * n_char_toks) AS bpe_ppm
        FROM per"""),
    ),

    // ---- IVF-PQ ANN end-to-end: coarse quantizer + product-quantizer
    // codes + nprobe list probing + ADC ranking (Similarity.ivfPqTopK —
    // see its scaladoc for the scale story). Both the index build and
    // the query path are integer-exact, so this APPROXIMATE index is
    // still fully SQL-oracled: the oracle rebuilds the coarse chain and
    // all 4 subspace chains in one WITH clause, derives the per-query
    // ADC lookup tables relationally, and replays the probe + rank.
    QueryDef(
      "q112_ivf_pq_ann",
      (s, d) =>
        graft.operators.Similarity.ivfPqTopK(
          Tables(s, d, "embeddings"), "vec_id", "embedding",
          queryIds = Seq(0L, 1L, 2L), k = 3),
      Some {
        val coarse = DeterministicKMeans.assignmentsCtesBody(
          "embeddings", "vec_id", "embedding", k = 4, iters = 2, pfx = "cw_")
        val subs = (0 until 4).map { sIdx =>
          DeterministicKMeans.assignmentsCtesBody(
            "embeddings", "vec_id",
            s"embedding[${sIdx * 16 + 1}:${(sIdx + 1) * 16}]",
            k = 8, iters = 2, pfx = s"s${sIdx}_")
        }.mkString(",\n      ")
        val adcts = (0 until 4).map { sIdx =>
          s"""
        adct$sIdx AS (
          SELECT q.qid, c.cluster, sum((q.x6 - c.c6) * (q.x6 - c.c6)) AS d
          FROM (SELECT qid, dim - ${sIdx * 16} AS dim, x6 FROM qv
                WHERE dim >= ${sIdx * 16} AND dim < ${(sIdx + 1) * 16}) q
          JOIN s${sIdx}_cent1 c ON c.dim = q.dim
          GROUP BY 1, 2)"""
        }.mkString(",")
        val codeJoins = (0 until 4).map { sIdx =>
          s"""JOIN s${sIdx}_assignF a$sIdx ON a$sIdx.id = ca.id
          JOIN adct$sIdx t$sIdx ON t$sIdx.qid = p.qid AND t$sIdx.cluster = a$sIdx.cluster"""
        }.mkString("\n          ")
        s"""
        WITH $coarse,
      $subs,
        qv AS (
          SELECT vec_id AS qid, unnest(range(len(embedding))) AS dim,
                 CAST(round(CAST(unnest(embedding) AS DOUBLE) * 1000000) AS BIGINT) AS x6
          FROM embeddings WHERE vec_id IN (0, 1, 2)),
        cdist AS (
          SELECT q.qid, c.cluster, sum((q.x6 - c.c6) * (q.x6 - c.c6)) AS d
          FROM qv q JOIN cw_cent1 c ON c.dim = q.dim GROUP BY 1, 2),
        probes AS (
          SELECT qid, cluster FROM (
            SELECT qid, cluster,
                   row_number() OVER (PARTITION BY qid ORDER BY d, cluster) AS rn
            FROM cdist) WHERE rn <= 2),$adcts,
        scored AS (
          SELECT p.qid AS query_id, ca.id AS cand_id,
                 t0.d + t1.d + t2.d + t3.d AS adc
          FROM probes p
          JOIN cw_assignF ca ON ca.cluster = p.cluster AND ca.id <> p.qid
          $codeJoins)
        SELECT query_id, cand_id, CAST(adc AS BIGINT) AS adc_dist FROM (
          SELECT query_id, cand_id, adc,
                 row_number() OVER (PARTITION BY query_id ORDER BY adc, cand_id) AS rn
          FROM scored) WHERE rn <= 3"""
      }),

    // ---- deterministic train/valid/test split (80/10/10): a doc's
    // split is a pure function of its id hash, so the assignment is
    // stable under corpus growth (new docs never move old ones between
    // splits — the property that keeps eval sets uncontaminated across
    // dataset versions), identical on any engine/cluster, and needs no
    // stored split table. Zero-shuffle per-row labeling + one keyed agg.
    QueryDef(
      "q113_dataset_split",
      (s, d) => {
        val h = expr(hash60Spark("cast(doc_id as string)"))
        Tables(s, d, "documents")
          .withColumn("split",
            when(h % 10 < 8, lit("train"))
              .when(h % 10 < 9, lit("valid"))
              .otherwise(lit("test")))
          .groupBy("split", "lang")
          .agg(count(lit(1)).as("n_docs"), sum("n_chars").as("chars"))
      },
      Some(s"""
        SELECT CASE WHEN h % 10 < 8 THEN 'train'
                    WHEN h % 10 < 9 THEN 'valid'
                    ELSE 'test' END AS split,
               lang, count(*) AS n_docs, CAST(sum(n_chars) AS BIGINT) AS chars
        FROM (SELECT lang, n_chars,
                     ${hash60Duck("doc_id::VARCHAR")} AS h
              FROM documents)
        GROUP BY 1, 2""")),

    // ---- the capstone composite: materialize the training corpus
    // end-to-end. One call chains the operators a production pipeline
    // runs before tokenization — exact+near dedup with survivorship
    // (q99's Dedup.dedupe), the Gopher-style repetition quality gate
    // (q92's rule), the md5-threshold language mixture (q96), and the
    // hash-stable split label (q113) — and rolls the result up per
    // (split, lang). Every stage is deterministic, so the whole chain
    // is one DuckDB oracle: the recursive-CTE dedup walk, the quality
    // CTEs, and the mixture/split CASEs stitched into a single WITH.
    // Scale: each stage is the already-audited shape (banded LSH, keyed
    // aggs, anti-join-free gates); the chain adds only id-keyed joins.
    QueryDef(
      "q114_training_manifest",
      (s, d) => {
        val docs = Tables(s, d, "documents")
        val survivors = Dedup.dedupe(docs, "doc_id", "text")
        // q92 quality rule + q96 mixture thresholds + q113 split label —
        // all three come from the SHARED helpers (Training.qualityGateIds
        // / mixtureThresholdCol), so tightening a gate or a weight there
        // updates this manifest in the same edit.
        val quality = Training.qualityGateIds(docs)
        val h = expr(hash60Spark("cast(doc_id as string)"))
        docs.select(col("doc_id"), col("lang"))
          .join(survivors, "doc_id")
          .join(quality, "doc_id")
          .withColumn("__h", h)
          .filter(col("__h") < Training.mixtureThresholdCol)
          .withColumn("split",
            when(col("__h") % 10 < 8, lit("train"))
              .when(col("__h") % 10 < 9, lit("valid"))
              .otherwise(lit("test")))
          .groupBy("split", "lang")
          .agg(
            count(lit(1)).as("n_docs"),
            sum("n_represented").as("n_represented"),
            min("doc_id").as("first_doc"))
      },
      Some {
        s"""
        WITH RECURSIVE exact AS (
          SELECT min(doc_id) AS doc_id, count(*) AS n_copies
          FROM documents GROUP BY md5(text)),
        k AS (SELECT d.doc_id, d.text, e.n_copies
              FROM documents d JOIN exact e ON d.doc_id = e.doc_id),
        ${lshPairsCtesDuck("k")},
        surv AS (
          SELECT coalesce(c.cluster_id, k.doc_id) AS doc_id,
                 CAST(sum(k.n_copies) AS BIGINT) AS n_represented
          FROM k LEFT JOIN comp c ON c.node = k.doc_id
          GROUP BY 1),
        ${Training.qualityStatsCtesDuck()},
        qual AS (
          SELECT ws.doc_id FROM ws JOIN gs USING (doc_id)
          WHERE ${Training.qualityKeepDuck}),
        manifest AS (
          SELECT d.doc_id, d.lang, s.n_represented,
                 ${hash60Duck("d.doc_id::VARCHAR")} AS h,
                 ${Training.mixtureCaseDuck("d.lang")} AS th
          FROM documents d
          JOIN surv s ON s.doc_id = d.doc_id
          JOIN qual q ON q.doc_id = d.doc_id)
        SELECT CASE WHEN h % 10 < 8 THEN 'train'
                    WHEN h % 10 < 9 THEN 'valid'
                    ELSE 'test' END AS split,
               lang, count(*) AS n_docs,
               CAST(sum(n_represented) AS BIGINT) AS n_represented,
               min(doc_id) AS first_doc
        FROM manifest WHERE h < th
        GROUP BY 1, 2"""
      }),
  )
}
