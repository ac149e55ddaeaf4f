package graft.queries

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.{QueryDef, Tables}
import graft.operators.TextOps.{lshPairsCtesDuck, ngramHashesDuck, wordHashesDuck}

/** Seventeenth wave: completeness/quality machinery for ingest at scale.
  * q205 is the sequence-gap census (did we lose records?) done with
  * equi-joins only — the naive global LAG over ids is a single-partition
  * sort, this shape shuffles on the id key. q206 is the time-weighted
  * average of a step signal (the correct mean for irregularly-sampled
  * telemetry), integer-exact via micro-unit decimals. q207 turns the
  * MinHash candidate generator into the cross-source contamination
  * matrix every multi-corpus training set needs. q208 is the
  * prefix-filtering exact set-similarity join (PPJoin-style, Xiao et
  * al., WWW'08): a LOSSLESS candidate cut — if J(A,B) ≥ τ, the τ-prefix
  * of A and B under any common total order must share an element — so
  * the result equals the plain threshold join while the candidate join
  * touches ~(1−τ)·|set| tokens per doc instead of all of them.
  *
  * Scale shapes: q205 is two keyed aggs + one anti equi-join (no global
  * window); q206 is ONE keyed window pass; q207's joins are
  * candidate-bounded on one side (pairs ≪ docs after banding+cap);
  * q208's expensive co-occurrence join runs only over candidate pairs'
  * postings — the prefix join that feeds it is the only corpus-sized
  * self-join and it is 5× thinner than q47's at τ=0.8.
  */
object Training17 {
  val defs: Seq[QueryDef] = Seq(

    // ---- sequence-gap census over the click event-id stream: how many
    // ids are missing between min and max, and in how many contiguous
    // runs? A break is a present id whose successor id is absent —
    // counted with a LEFT ANTI equi-join on (id+1 = id), which shuffles
    // by id; runs = breaks − 1 (the max id's break closes the sequence,
    // not a gap). The 1-row stat frames cross-join at the end —
    // driver-side arithmetic, no data motion.
    QueryDef(
      "q205_sequence_gaps",
      (s, d) => {
        val ids = Tables(s, d, "events")
          .where(col("event_type") === "click")
          .select(col("event_id").as("id"))
        val st = ids.agg(
          count(lit(1)).as("n_present"),
          min("id").as("min_id"), max("id").as("max_id"))
        val breaks = ids.select((col("id") + 1).as("id2"))
          .join(ids, col("id2") === col("id"), "left_anti")
          .agg(count(lit(1)).as("nb"))
        st.crossJoin(breaks).select(
          col("n_present"), col("min_id"), col("max_id"),
          (col("max_id") - col("min_id") + 1 - col("n_present"))
            .as("n_missing"),
          (col("nb") - 1).as("n_gap_runs"))
      },
      Some("""
        WITH ids AS (
          SELECT event_id AS id FROM events WHERE event_type = 'click'),
        st AS (
          SELECT count(*) AS n_present, min(id) AS min_id, max(id) AS max_id
          FROM ids),
        breaks AS (
          SELECT count(*) AS nb FROM ids a
          WHERE NOT EXISTS (SELECT 1 FROM ids b WHERE b.id = a.id + 1))
        SELECT CAST(n_present AS BIGINT) AS n_present, min_id, max_id,
               CAST(max_id - min_id + 1 - n_present AS BIGINT) AS n_missing,
               CAST(nb - 1 AS BIGINT) AS n_gap_runs
        FROM st, breaks""")),

    // ---- time-weighted average of the event value signal per user:
    // each event's value holds until the next event (step
    // interpolation), so the mean weights by segment duration, not by
    // sample count — the correct aggregate for irregularly-sampled
    // telemetry where burst periods would otherwise dominate. Values in
    // micro-units, products in DECIMAL(38,0): order-independent and
    // bit-equal cross-engine. Users with one event have no segment and
    // drop out; a user whose events all share one timestamp gets NULL
    // (zero total duration) instead of an ANSI division error.
    QueryDef(
      "q206_time_weighted_avg",
      (s, d) => {
        val ord = Window.partitionBy("user_id").orderBy("ts_us", "event_id")
        Tables(s, d, "events")
          .select(col("user_id"), unix_micros(col("ts")).as("ts_us"),
            col("event_id"),
            expr("CAST(round(value * 1000000) AS BIGINT)").as("v_micro"))
          .withColumn("nxt", lead("ts_us", 1).over(ord))
          .where(col("nxt").isNotNull)
          .withColumn("dur", col("nxt") - col("ts_us"))
          .groupBy("user_id")
          .agg(
            count(lit(1)).as("n_segments"),
            sum("dur").as("total_us"),
            expr("""round(CAST(sum(CAST(v_micro AS DECIMAL(38,0)) * dur)
                          AS DOUBLE)
                    / (1e6 * nullif(sum(dur), 0)), 6)""").as("twa"))
      },
      Some("""
        WITH ev AS (
          SELECT user_id, epoch_us(CAST(ts AS TIMESTAMP)) AS ts_us, event_id,
                 CAST(round(value * 1000000) AS BIGINT) AS v_micro
          FROM events),
        seg AS (
          SELECT user_id, v_micro,
                 lead(ts_us) OVER (PARTITION BY user_id
                                   ORDER BY ts_us, event_id) - ts_us AS dur
          FROM ev)
        SELECT user_id, count(*) AS n_segments,
               CAST(sum(dur) AS BIGINT) AS total_us,
               round(CAST(sum(CAST(v_micro AS DECIMAL(38,0)) * dur) AS DOUBLE)
                     / (1e6 * nullif(sum(dur), 0)), 6) AS twa
        FROM seg WHERE dur IS NOT NULL GROUP BY user_id""")),

    // ---- cross-source near-dup contamination matrix: MinHash-LSH
    // candidate pairs (the production q46 operator, bucket cap
    // included) attributed to their source pair. The source lookups
    // join the candidate-bounded pair list against the doc→source map —
    // at scale the pair side is ≪ the corpus, so AQE broadcasts it;
    // pair (a,b) counted once under the lexically-ordered source pair.
    // This is the table that answers "is crawlA leaking into crawlB's
    // eval split?" before training.
    QueryDef(
      "q207_cross_source_neardup",
      (s, d) => {
        import graft.operators.Dedup
        val docs = Tables(s, d, "documents")
        val pairs = Dedup.minhashCandidatePairs(
          Dedup.minhashBands(docs, "doc_id", "text"), "doc_id")
          .withColumnRenamed("doc_id_a", "doc_a")
          .withColumnRenamed("doc_id_b", "doc_b")
        val srcs = docs.select(col("doc_id"), col("source"))
        pairs
          .join(srcs.select(col("doc_id").as("doc_a"), col("source").as("sa")),
            "doc_a")
          .join(srcs.select(col("doc_id").as("doc_b"), col("source").as("sb")),
            "doc_b")
          .groupBy(
            least(col("sa"), col("sb")).as("source_a"),
            greatest(col("sa"), col("sb")).as("source_b"))
          .agg(count(lit(1)).as("n_pairs"))
      },
      // Oracle built on the ONE shared LSH CTE renderer (as q71/q99/
      // q109/q114 are), so a change to the Spark-side banding defaults
      // cannot silently desync a hand-copied SQL twin.
      Some(s"""
        WITH ${lshPairsCtesDuck("documents", withWalk = false)}
        SELECT least(da.source, db.source) AS source_a,
               greatest(da.source, db.source) AS source_b,
               count(*) AS n_pairs
        FROM pairs c
        JOIN documents da ON c.a = da.doc_id
        JOIN documents db ON c.b = db.doc_id
        GROUP BY 1, 2""")),

    // ---- prefix-filtering exact set-similarity join at τ = 0.8 over
    // word-3-gram shingle sets. Lossless candidate cut: J(A,B) ≥ τ ⟹
    // |A∩B| ≥ ⌈τ·|A|⌉, so the smallest common token (under the global
    // hash order) sits within A's first |A| − ⌈τ·|A|⌉ + 1 tokens —
    // likewise for B — hence the PREFIX self-join finds every
    // qualifying pair while exploding ~1/5 of each posting list at
    // τ=0.8. Verification joins the full postings only against the
    // candidate pairs (candidate-bounded, not corpus²), and the τ test
    // is the exact integer predicate 9c ≥ 4(na+nb) — no float compare
    // at the boundary. Oracle: the plain exact threshold join, equal by
    // losslessness.
    QueryDef(
      "q208_prefix_filter_join",
      (s, d) => {
        import graft.operators.{Dedup, TextOps}
        // cache the hashed shingle arrays: every downstream branch (two
        // prefix sides, two verify sides, two size lookups) would
        // otherwise re-run the md5+combine expressions from parquet —
        // the per-row cost that dominates this job (same discipline as
        // Dedup.jaccardPairs). Postings come through Dedup.cappedPostings
        // so a hot shingle (df > 64 — above the harness max of 25 at
        // sf0.1, results byte-identical, oracle stays the uncapped form)
        // cannot quadratically fan out the prefix OR verify joins;
        // similarity is then over the df≤cap shingle space, prefix
        // lengths included (sizes are post-cap, so the τ-prefix bound
        // stays lossless w.r.t. that space).
        val docs = Tables(s, d, "documents")
          .withColumn("__wh", expr(TextOps.wordHashesSpark("text")))
          .select(col("doc_id"),
            expr(TextOps.ngramHashesSpark(3, "__wh")).as("__ngrams"))
          .cache()
        val cp = Dedup.cappedPostings(docs, "doc_id", "__ngrams", dfCap = 64)
        val (ex, sizes, release) = (cp.postings, cp.sizes, cp.release)
        // prefix length for τ = 4/5: n − ⌈4n/5⌉ + 1, all-integer. Fast
        // path (no hot shingle — postings ARE the per-row arrays): the
        // τ-prefix is the smallest slice of the per-row SORTED array,
        // one codegen'd expression — never a posting-stream window (a
        // 100 TB corpus' postings would otherwise shuffle AND sort just
        // to pick each doc's smallest few hashes). Capped path: the
        // per-row array no longer matches the postings, so fall back to
        // the keyed window over the capped stream.
        val prefix =
          if (!cp.anyHot)
            docs.select(col("doc_id"), explode(expr(
              """slice(array_sort(__ngrams), 1,
                 size(__ngrams) - ((4 * size(__ngrams) + 4) div 5) + 1)"""))
              .as("h"))
          else
            ex.withColumn("pos", row_number().over(
              Window.partitionBy("doc_id").orderBy("h")))
              .join(sizes, "doc_id")
              .where(col("pos") <= expr("n - ((4 * n + 4) div 5) + 1"))
              .select(col("doc_id"), col("h"))
        val cand = prefix.as("a")
          .join(prefix.as("b"),
            col("a.h") === col("b.h") && col("a.doc_id") < col("b.doc_id"))
          .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
          .distinct()
          .localCheckpoint() // candIds + verify both read it
        // verification touches ONLY candidate postings: a semi-join on
        // the candidate id set bounds both verify sides BEFORE any
        // shuffle. The pair counts then come from an h-KEYED self-join
        // of the candidate postings (mass Σ_h df(h)² with df ≤ cap —
        // the q47 shape, linear in corpus under the cap) followed by a
        // candidate-pair semi-join — NOT from expanding each candidate
        // pair by doc_a's full posting list: that per-pair explode
        // (candidates × |set| rows — 2.2M × ~200 = 440M intermediate
        // rows at the 10× leg) was 17.8 s of the query's 20 s profiled
        // wall (tools/Profile q208 mode). The semi-join keeps the
        // PPJoin identity explicit (it is semantically redundant — a
        // non-candidate pair cannot pass τ by the prefix lemma — but it
        // bounds the sizes joins to candidate pairs).
        val candIds = cand.select(col("doc_a").as("doc_id"))
          .unionAll(cand.select(col("doc_b").as("doc_id")))
          .distinct()
        val exCand = ex.join(candIds, Seq("doc_id"), "left_semi")
          .localCheckpoint() // both sides of the h-join read it
        val inter = exCand.select(col("doc_id").as("doc_a"), col("h").as("ha"))
          .join(exCand.select(col("doc_id").as("doc_b"), col("h").as("hb")),
            col("ha") === col("hb") && col("doc_a") < col("doc_b"))
          .groupBy("doc_a", "doc_b").agg(count(lit(1)).as("c"))
          .join(cand, Seq("doc_a", "doc_b"), "left_semi")
        val result = inter
          .join(sizes.select(col("doc_id").as("doc_a"), col("n").as("na")),
            "doc_a")
          .join(sizes.select(col("doc_id").as("doc_b"), col("n").as("nb")),
            "doc_b")
          .where(col("c") * 9 >= (col("na") + col("nb")) * 4)
          .select(col("doc_a"), col("doc_b"),
            round(col("c").cast("double") / (col("na") + col("nb") - col("c")),
              6).as("jaccard"))
          .localCheckpoint() // materialize so the cache can be freed
        release()
        docs.unpersist()
        result
      },
      Some(s"""
        WITH wh AS (
          SELECT doc_id, ${wordHashesDuck()} AS wh FROM documents),
        docs AS (
          SELECT doc_id, ${ngramHashesDuck(3, "wh")} AS ngrams FROM wh),
        ex AS (SELECT doc_id, unnest(ngrams) AS h FROM docs),
        sizes AS (SELECT doc_id, len(ngrams) AS n FROM docs),
        shared AS (
          SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS c
          FROM ex a JOIN ex b ON a.h = b.h AND a.doc_id < b.doc_id
          GROUP BY 1, 2)
        SELECT doc_a, doc_b,
               round(CAST(c AS DOUBLE) / (sa.n + sb.n - c), 6) AS jaccard
        FROM shared
        JOIN sizes sa ON doc_a = sa.doc_id
        JOIN sizes sb ON doc_b = sb.doc_id
        WHERE c * 9 >= (sa.n + sb.n) * 4""")),
  )
}
