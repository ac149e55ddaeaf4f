package graft.queries

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

import graft.{QueryDef, Tables}
import graft.operators.TextOps.{hash60Duck, hash60Spark}

/** Twenty-seventh wave — corpus-selection and layout machinery a
  * large-scale training-data pipeline runs between cleaning and
  * tokenization:
  *
  *  - q235: DSIR-style importance weighting (hashed-unigram
  *    log-likelihood ratio of a target domain vs the raw corpus) — the
  *    standard cheap way to select "looks like the target" documents
  *    from a web-scale crawl without a trained classifier.
  *  - q236: seeded ±1 random projection (Johnson–Lindenstrauss) of the
  *    embedding column 64→16 dims with a pairwise-distortion audit —
  *    the memory-4× shrink applied before ANN indexing.
  *  - q237: content-defined chunking (rolling boundary on the word-hash
  *    stream) + shared-chunk audit — the dedup primitive that stays
  *    aligned under insertions, where fixed-width chunks (q105) shift.
  *  - q238: deterministic-shuffle quality audit — hash-sharded,
  *    hash-ordered training layout with a per-source run-length census
  *    proving the interleave has no same-domain runs a data loader
  *    would see as curriculum accidents.
  *
  * All four are oracled end-to-end (the hash, the fold order, and the
  * rounding discipline are engine-identical by construction — same
  * md5-derived 60-bit hash, ln/exp rounded to 6 before any decimal
  * accumulation, `Num.dsum`-style exact sums).
  */
object Training27 {
  /** splitmix64 finalizer — the plan-time seed for q236's sign matrix.
    * Computed once in Scala; BOTH the Spark expression and the DuckDB
    * oracle embed the resulting literals, so the two sides cannot
    * drift (there is no hash to re-implement in either dialect).
    */
  private def mix(z0: Long): Long = {
    var z = z0 + 0x9E3779B97F4A7C15L
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z ^ (z >>> 31)
  }

  /** sign(j,i) ∈ {+1,-1} for output dim j (1..16), input dim i (1..64). */
  private def sign(j: Int, i: Int): Int =
    if (((mix(j.toLong * 64L + i.toLong) >>> 20) & 1L) == 0L) 1 else -1

  /** Projection expression for output dim j: an explicit left-assoc
    * 64-term chain (identical association order in both dialects, so
    * the IEEE double result is bit-identical), scaled by 1/sqrt(16).
    */
  private def projTerm(j: Int, emb: String, duck: Boolean): String = {
    val terms = (1 to 64).map { i =>
      val v =
        if (duck) s"$emb[$i]::DOUBLE"
        else s"cast(element_at($emb, $i) as double)"
      if (sign(j, i) > 0) v else s"(- $v)"
    }
    s"round((${terms.mkString(" + ")}) / 4.0, 6)"
  }

  /** Squared euclidean distance between two 64-dim float vectors as an
    * explicit left-assoc chain (same association both engines).
    */
  private def dist2Orig(a: String, b: String, duck: Boolean): String = {
    val terms = (1 to 64).map { i =>
      val (x, y) =
        if (duck) (s"$a[$i]::DOUBLE", s"$b[$i]::DOUBLE")
        else (s"cast(element_at($a, $i) as double)",
              s"cast(element_at($b, $i) as double)")
      s"($x - $y) * ($x - $y)"
    }
    s"round(${terms.mkString(" + ")}, 6)"
  }

  private def dist2Proj(a: String, b: String): String = {
    val terms = (1 to 16).map(k => s"($a.p$k - $b.p$k) * ($a.p$k - $b.p$k)")
    s"round(${terms.mkString(" + ")}, 6)"
  }

  private val tgtSrcs = "('src0','src1','src2','src3')"

  val defs: Seq[QueryDef] = Seq(

    // ---- DSIR importance weighting: hashed-unigram (64-bucket) token
    // distributions for TARGET (docs from src0-3) and RAW (everything),
    // add-one smoothed; each doc scores the mean log-likelihood ratio
    // of its tokens; top 25 by score is the selected slice. Scale
    // shape: the bucket tables are 64 rows (broadcast); the only
    // data-sized passes are the token explode into a 64-key agg
    // (map-side combine collapses it) and the per-doc re-agg keyed on
    // doc_id. The selection itself is a TakeOrdered(25), not a sort.
    // At 100 TB nothing here grows but the linear token stream — this
    // is why DSIR is the default first-pass selector before any
    // model-based scorer.
    QueryDef(
      "q235_dsir_importance",
      (s, d) => {
        val words = Tables(s, d, "documents")
          .select(col("doc_id"), col("source"),
            explode(split(col("text"), " ")).as("w"))
          .withColumn("b", pmod(expr(hash60Spark("w")), lit(64)))
          .withColumn("is_t",
            col("source").isin("src0", "src1", "src2", "src3"))
        val raw = words.groupBy("b").agg(count(lit(1)).as("cr"))
        val tgt = words.filter(col("is_t"))
          .groupBy("b").agg(count(lit(1)).as("ct"))
        val tot = words.agg(
          count(lit(1)).as("tr"),
          sum(when(col("is_t"), 1L).otherwise(0L)).as("tt"))
        val lr = raw.join(tgt, Seq("b"), "left")
          .na.fill(0L, Seq("ct"))
          .crossJoin(broadcast(tot))
          .withColumn("lr",
            round(log(
              ((col("ct") + 1.0) / (col("tt") + 64.0)) /
                ((col("cr") + 1.0) / (col("tr") + 64.0))), 6))
          .select("b", "lr")
        words.join(broadcast(lr), Seq("b"))
          .groupBy("doc_id")
          .agg(
            count(lit(1)).as("n_tokens"),
            sum(col("lr").cast(DecimalType(28, 6))).as("__ssum"))
          .select(
            col("doc_id"), col("n_tokens"),
            round(col("__ssum").cast("double") / col("n_tokens"), 6)
              .as("avg_llr"))
          .orderBy(col("avg_llr").desc, col("doc_id").asc)
          .limit(25)
      },
      Some(s"""
        WITH w AS (
          SELECT doc_id, source, unnest(string_split(text, ' ')) AS word
          FROM documents),
        b AS (
          SELECT doc_id, source IN $tgtSrcs AS is_t,
                 ${hash60Duck("word")} % 64 AS b
          FROM w),
        raw AS (SELECT b, count(*) AS cr FROM b GROUP BY b),
        tgt AS (SELECT b, count(*) AS ct FROM b WHERE is_t GROUP BY b),
        tot AS (
          SELECT count(*) AS tr,
                 sum(CASE WHEN is_t THEN 1 ELSE 0 END) AS tt
          FROM b),
        lr AS (
          SELECT raw.b,
                 round(ln(((coalesce(ct, 0) + 1.0) / (tt + 64.0)) /
                          ((cr + 1.0) / (tr + 64.0))), 6) AS lr
          FROM raw LEFT JOIN tgt USING (b) CROSS JOIN tot),
        sc AS (
          SELECT doc_id, count(*) AS n_tokens,
                 sum(CAST(lr AS DECIMAL(28,6))) AS ssum
          FROM b JOIN lr USING (b) GROUP BY doc_id)
        SELECT doc_id, n_tokens,
               round(CAST(ssum AS DOUBLE) / n_tokens, 6) AS avg_llr
        FROM sc ORDER BY avg_llr DESC, doc_id LIMIT 25"""),
    ),

    // ---- seeded ±1 random projection 64→16 with distortion audit:
    // project the sampled query vectors (vec_id ≡ 0 mod 25) through a
    // plan-time-constant sign matrix, then compare pairwise squared
    // distances before and after. Scale shape: the projection is a
    // per-row codegen arithmetic chain over a CONSTANT matrix — no
    // shuffle, no lookup, linear in rows; it is what shrinks an ANN
    // index's memory 4× before q50/q63/q112 build on it. The audit
    // pairs are bounded (|a−b| ≤ 500 keeps pairing within one replica
    // under ScaleCheck's 1e9 key stride, so pair mass grows linearly
    // with the corpus, not quadratically).
    QueryDef(
      "q236_random_projection",
      (s, d) => {
        val projCols = (1 to 16).map(j =>
          expr(projTerm(j, "embedding", duck = false)).as(s"p$j"))
        val sample = Tables(s, d, "embeddings")
          .filter(pmod(col("vec_id"), lit(25)) === 0)
        val proj = sample.select(
          (col("vec_id") +: col("embedding") +: projCols): _*)
        proj.as("a").join(proj.as("b"),
            col("a.vec_id") < col("b.vec_id") &&
              col("b.vec_id") - col("a.vec_id") <= 500)
          .select(
            col("a.vec_id").as("a_id"),
            col("b.vec_id").as("b_id"),
            expr(dist2Orig("a.embedding", "b.embedding", duck = false))
              .as("d2_orig"),
            expr(dist2Proj("a", "b")).as("d2_proj"))
          .withColumn("distortion",
            round(col("d2_proj") / nullif(col("d2_orig"), lit(0.0)), 6))
          .orderBy("a_id", "b_id")
      },
      Some(s"""
        WITH proj AS (
          SELECT vec_id, embedding,
                 ${(1 to 16).map(j => s"${projTerm(j, "embedding", duck = true)} AS p$j").mkString(", ")}
          FROM embeddings WHERE vec_id % 25 = 0)
        SELECT a.vec_id AS a_id, b.vec_id AS b_id,
               ${dist2Orig("a.embedding", "b.embedding", duck = true)} AS d2_orig,
               ${dist2Proj("a", "b")} AS d2_proj,
               round(${dist2Proj("a", "b")} /
                     nullif(${dist2Orig("a.embedding", "b.embedding", duck = true)}, 0.0), 6)
                 AS distortion
        FROM proj a JOIN proj b
          ON a.vec_id < b.vec_id AND b.vec_id - a.vec_id <= 500
        ORDER BY a_id, b_id"""),
    ),

    // ---- content-defined chunking + shared-chunk audit: a chunk
    // boundary falls AFTER any word whose 60-bit hash ≡ 0 mod 16
    // (expected chunk ~16 words, boundaries a pure function of
    // CONTENT) — so inserting a word into a document shifts only the
    // chunk it lands in, where q105's fixed-width chunks all shift.
    // Chunks are keyed by the hash of their reassembled text; a chunk
    // appearing in ≥2 docs is shared mass. Scale shape: one keyed
    // window (per-doc running boundary count), one (doc, chunk) agg,
    // one chunk-hash-keyed df agg joined back, one per-doc re-agg —
    // every shuffle keyed, nothing quadratic; this is the exact-dedup
    // complement to MinHash when near-dups differ by edits.
    QueryDef(
      "q237_cdc_chunk_dedup",
      (s, d) => {
        import org.apache.spark.sql.expressions.Window
        val words = Tables(s, d, "documents")
          .select(col("doc_id"),
            posexplode(split(col("text"), " ")).as(Seq("pos", "w")))
          .withColumn("flag",
            when(expr(hash60Spark("w")) % 16 === 0, 1L).otherwise(0L))
        val byDoc = Window.partitionBy("doc_id").orderBy("pos")
          .rowsBetween(Window.unboundedPreceding, -1)
        val chunks = words
          .withColumn("chunk_idx",
            coalesce(sum("flag").over(byDoc), lit(0L)))
          .groupBy("doc_id", "chunk_idx")
          .agg(
            expr("array_join(transform(array_sort(collect_list(struct(pos, w))), c -> c.w), ' ')")
              .as("chunk_text"),
            count(lit(1)).as("n_words"))
          .withColumn("ch", expr(hash60Spark("chunk_text")))
        val df_ = chunks.groupBy("ch")
          .agg(countDistinct("doc_id").as("df"))
        chunks.join(df_, Seq("ch"))
          .groupBy("doc_id")
          .agg(
            count(lit(1)).as("n_chunks"),
            sum(when(col("df") >= 2, 1L).otherwise(0L)).as("n_shared_chunks"),
            sum(when(col("df") >= 2, col("n_words")).otherwise(0L)).as("__sw"),
            sum("n_words").as("__tw"))
          .select(
            col("doc_id"), col("n_chunks"), col("n_shared_chunks"),
            round(col("__sw").cast("double") / col("__tw"), 6)
              .as("shared_ratio"))
          .orderBy("doc_id")
      },
      Some(s"""
        WITH w AS (
          SELECT doc_id, i AS pos, (string_split(text, ' '))[i + 1] AS word
          FROM (SELECT doc_id, text,
                       unnest(range(0, len(string_split(text, ' ')))) AS i
                FROM documents)),
        f AS (
          SELECT doc_id, pos, word,
                 CASE WHEN ${hash60Duck("word")} % 16 = 0 THEN 1 ELSE 0 END AS flag
          FROM w),
        ci AS (
          SELECT doc_id, pos, word,
                 coalesce(sum(flag) OVER (
                   PARTITION BY doc_id ORDER BY pos
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                   AS chunk_idx
          FROM f),
        chunks AS (
          SELECT doc_id, chunk_idx,
                 string_agg(word, ' ' ORDER BY pos) AS chunk_text,
                 count(*) AS n_words
          FROM ci GROUP BY doc_id, chunk_idx),
        ch AS (
          SELECT doc_id, n_words, ${hash60Duck("chunk_text")} AS ch
          FROM chunks),
        df AS (SELECT ch, count(DISTINCT doc_id) AS df FROM ch GROUP BY ch)
        SELECT doc_id, count(*) AS n_chunks,
               CAST(sum(CASE WHEN df >= 2 THEN 1 ELSE 0 END) AS BIGINT)
                 AS n_shared_chunks,
               round(CAST(sum(CASE WHEN df >= 2 THEN n_words ELSE 0 END) AS DOUBLE)
                     / sum(n_words), 6) AS shared_ratio
        FROM ch JOIN df USING (ch)
        GROUP BY doc_id ORDER BY doc_id"""),
    ),

    // ---- deterministic-shuffle run audit: the training layout is
    // hash-sharded (32 shards here; production sizes shards to
    // O(corpus/worker) via config) and hash-ordered WITHIN each shard
    // — exactly what a data loader consumes. The audit counts
    // same-source runs in consumption order per shard with the islands
    // trick (rn_shard − rn_shard,source), so every window is
    // PARTITIONED (by shard / by shard+source) — no global-order pass
    // anywhere, which is what makes a shuffle audit runnable on the
    // full corpus rather than a sample.
    QueryDef(
      "q238_shuffle_run_audit",
      (s, d) => {
        import org.apache.spark.sql.expressions.Window
        val laid = Tables(s, d, "documents")
          .select(col("doc_id"), col("source"))
          .withColumn("shard",
            pmod(expr(hash60Spark("concat('sh:', doc_id)")), lit(32)))
          .withColumn("ord", expr(hash60Spark("concat('or:', doc_id)")))
        val rnAll = Window.partitionBy("shard").orderBy("ord", "doc_id")
        val rnSrc = Window.partitionBy("shard", "source").orderBy("ord", "doc_id")
        laid
          .withColumn("island",
            row_number().over(rnAll) - row_number().over(rnSrc))
          .groupBy("shard", "source", "island")
          .agg(count(lit(1)).as("len"))
          .groupBy("source")
          .agg(
            sum("len").as("n_docs"),
            count(lit(1)).as("n_runs"),
            max("len").as("max_run"),
            sum(when(col("len") >= 2, 1L).otherwise(0L)).as("runs_ge2"))
          .orderBy("source")
      },
      Some(s"""
        WITH laid AS (
          SELECT doc_id, source,
                 ${hash60Duck("'sh:' || doc_id")} % 32 AS shard,
                 ${hash60Duck("'or:' || doc_id")} AS ord
          FROM documents),
        isl AS (
          SELECT source, shard,
                 row_number() OVER (PARTITION BY shard ORDER BY ord, doc_id)
                 - row_number() OVER (PARTITION BY shard, source ORDER BY ord, doc_id)
                   AS island
          FROM laid),
        runs AS (
          SELECT shard, source, island, count(*) AS len
          FROM isl GROUP BY shard, source, island)
        SELECT source, CAST(sum(len) AS BIGINT) AS n_docs, count(*) AS n_runs,
               max(len) AS max_run,
               CAST(sum(CASE WHEN len >= 2 THEN 1 ELSE 0 END) AS BIGINT)
                 AS runs_ge2
        FROM runs GROUP BY source ORDER BY source"""),
    ),
  )
}
