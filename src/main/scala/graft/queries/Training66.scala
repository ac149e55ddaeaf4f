package graft.queries

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.{QueryDef, Tables}
import graft.operators.{DeterministicKMeans, WavCodec}

/** Sixty-sixth wave — model selection, audio segmentation, and
  * watermark-scoped dedup semantics:
  *
  *  - q366: k-means model selection (k ∈ {2, 4, 8}) by the
  *    diminishing-returns rule over exact integer inertia — the
  *    hyperparameter sweep as a declarative, oracle-checkable query.
  *  - q367: voice-activity segmentation over decoded WAV waveforms
  *    (frame energies → threshold → run-length segments) — frame-level
  *    audio features on top of the real RIFF/PCM codec.
  *  - q368: dropDuplicatesWithinWatermark — the third dedup tier
  *    (exact q31 / watermarked-forever q80 / watermark-SCOPED here),
  *    whose state is bounded by the watermark delay and whose
  *    semantics (dups re-admitted after eviction) are pinned by
  *    deterministic sentinel batches.
  */
object Training66 {
  val defs: Seq[QueryDef] = Seq(

    // ---- k-means model selection: three DeterministicKMeans fits
    // (k = 2, 4, 8, 2 rounds each) scored by exact integer inertia
    // (Σ per-vector min-distance², per-vector descaled to micro-units
    // so the sum stays BIGINT-exact at any corpus size). Selection is
    // the diminishing-returns rule: the SMALLEST k whose inertia is
    // within 10% of the k=8 floor — all-integer (no ratios), so the
    // picked model is engine-deterministic. Scale shape: each fit is
    // the audited one-agg-per-round Lloyd's; each scoring pass is one
    // literal-centroid codegen fold; the sweep is 3× that, embarrass-
    // ingly parallel across k at deployment.
    QueryDef(
      "q366_kmeans_model_selection",
      (s, d) => {
        val emb = Tables(s, d, "embeddings")
        val x6 =
          "transform(embedding, x -> cast(round(cast(x as double) * 1000000, 0) as bigint))"
        def inertia(k: Int): Long = {
          val (cents, _) =
            DeterministicKMeans.fit(emb, "vec_id", "embedding", k, iters = 2)
          val dists = cents.toIndexedSeq.map { c =>
            aggregate(
              zip_with(expr(x6), typedlit(c.toSeq),
                (x, cc) => (x - cc) * (x - cc)),
              lit(0L), (acc, dd) => acc + dd)
          }
          emb.select((array_min(array(dists: _*)) / lit(1000000L))
            .cast("long").as("du"))
            .agg(sum("du")).head().getLong(0)
        }
        val grid = Seq(2, 4, 8).map(k => (k, inertia(k)))
        val floor = grid.last._2
        val selectedK = grid.collectFirst {
          case (k, i) if i * 10L <= floor * 11L => k
        }.get
        import s.implicits._
        grid.map { case (k, i) => (k, i, k == selectedK) }
          .toDF("k", "inertia_units", "selected")
      },
      Some {
        def chain(k: Int) = DeterministicKMeans.assignmentsCtesBody(
          "embeddings", "vec_id", "embedding", k = k, iters = 2, pfx = s"m${k}_")
        def inertia(k: Int) =
          s"""i$k AS (
             |  SELECT CAST(sum(d2 // 1000000) AS BIGINT) AS i FROM (
             |    SELECT x.vec_id, min(d2) AS d2 FROM (
             |      SELECT x.vec_id, c.cluster,
             |             sum((x.x6 - c.c6) * (x.x6 - c.c6)) AS d2
             |      FROM x JOIN m${k}_cent1 c ON c.dim = x.dim
             |      GROUP BY 1, 2) x
             |    GROUP BY 1) z)""".stripMargin
        s"""
        WITH ${chain(2)},
        ${chain(4)},
        ${chain(8)},
        x AS (
          SELECT vec_id, unnest(range(len(embedding))) AS dim,
                 CAST(round(CAST(unnest(embedding) AS DOUBLE) * 1000000)
                   AS BIGINT) AS x6
          FROM embeddings),
        ${inertia(2)}, ${inertia(4)}, ${inertia(8)},
        g AS (
          SELECT 2 AS k, (SELECT i FROM i2) AS i UNION ALL
          SELECT 4, (SELECT i FROM i4) UNION ALL
          SELECT 8, (SELECT i FROM i8)),
        sel AS (
          SELECT min(k) AS sk FROM g
          WHERE i * 10 <= (SELECT i FROM i8) * 11)
        SELECT k, CAST(i AS BIGINT) AS inertia_units,
               k = (SELECT sk FROM sel) AS selected
        FROM g"""
      }),

    // ---- VAD segmentation: per doc a synthetic waveform (closed-form
    // integer samples, 32–64 per doc) is ENCODED to a real RIFF/WAV
    // payload and decoded back (WavCodec round-trip — the codec is in
    // the declared path, not just the generator), then framed in 4s
    // (tail partial frame dropped), thresholded on frame energy, and
    // run-length segmented. One per-row mapPartitions pass, no
    // shuffle; the oracle recomputes frames/runs relationally from the
    // closed form. The frame/threshold/run census is the audio
    // pipeline's silence-trimming decision table.
    QueryDef(
      "q367_wav_vad_segments",
      (s, d) => {
        import s.implicits._
        val thr = 1500000L
        Tables(s, d, "documents")
          .select(col("doc_id")).as[Long]
          .mapPartitions { iter =>
            iter.map { id =>
              val did = id % 1000000L
              val n = (32 + did % 33).toInt
              val samples = Array.tabulate(n)(i =>
                ((did * 7 + 3L * i * i + (i * did % 17) * 100) % 2001 - 1000).toShort)
              val wav = WavCodec.encode16(8000, samples,
                Some(s"doc$did".getBytes("US-ASCII")))
              val dec = WavCodec.decodeSamples16(wav)
              val nf = dec.length / 4
              val act = Array.tabulate(nf) { f =>
                var e = 0L
                (0 until 4).foreach { j =>
                  val v = dec(4 * f + j).toLong; e += v * v
                }
                e >= thr
              }
              var nAct = 0L; var nSeg = 0L; var maxRun = 0L; var run = 0L
              act.foreach { a =>
                if (a) {
                  nAct += 1; run += 1
                  if (run == 1) nSeg += 1
                  if (run > maxRun) maxRun = run
                } else run = 0
              }
              (id, nf.toLong, nAct, nSeg, maxRun)
            }
          }
          .toDF("doc_id", "n_frames", "n_active", "n_segments", "max_run")
      },
      Some("""
        WITH p AS (
          SELECT doc_id, doc_id % 1000000 AS did,
                 32 + (doc_id % 1000000) % 33 AS n
          FROM documents),
        s AS (
          SELECT doc_id, n // 4 AS nf,
                 list_transform(range(0, n), i ->
                   (did * 7 + 3 * i * i + ((i * did) % 17) * 100) % 2001 - 1000)
                   AS sl
          FROM p),
        fr AS (
          SELECT doc_id, nf, f.i AS fi,
                 sl[CAST(4 * f.i + 1 AS INTEGER)] * sl[CAST(4 * f.i + 1 AS INTEGER)] +
                 sl[CAST(4 * f.i + 2 AS INTEGER)] * sl[CAST(4 * f.i + 2 AS INTEGER)] +
                 sl[CAST(4 * f.i + 3 AS INTEGER)] * sl[CAST(4 * f.i + 3 AS INTEGER)] +
                 sl[CAST(4 * f.i + 4 AS INTEGER)] * sl[CAST(4 * f.i + 4 AS INTEGER)]
                   AS e
          FROM s, unnest(range(0, nf)) AS f(i)),
        a AS (SELECT doc_id, nf, fi, e >= 1500000 AS act FROM fr),
        runs AS (
          SELECT doc_id, fi - row_number() OVER (PARTITION BY doc_id ORDER BY fi)
                   AS g
          FROM a WHERE act),
        rstats AS (
          SELECT doc_id, count(*) AS rl FROM runs GROUP BY doc_id, g),
        agg AS (
          SELECT a.doc_id, max(nf) AS n_frames,
                 CAST(sum(CASE WHEN act THEN 1 ELSE 0 END) AS BIGINT)
                   AS n_active
          FROM a GROUP BY 1),
        seg AS (
          SELECT doc_id, CAST(count(*) AS BIGINT) AS n_segments,
                 CAST(max(rl) AS BIGINT) AS max_run
          FROM rstats GROUP BY 1)
        SELECT agg.doc_id, CAST(n_frames AS BIGINT) AS n_frames, n_active,
               coalesce(n_segments, 0) AS n_segments,
               coalesce(max_run, 0) AS max_run
        FROM agg LEFT JOIN seg USING (doc_id)""")),

    // ---- watermark-SCOPED dedup (dropDuplicatesWithinWatermark): a
    // duplicate arriving while its key is inside the watermark window
    // is dropped; once the watermark evicts the key, the SAME key at a
    // LATER event time is RE-ADMITTED — the bounded-state semantics
    // (q80's plain dropDuplicates keeps keys forever, which cannot run
    // unbounded). Staged batches pin the progression: batch 1 carries
    // every event TWICE (in-window dups → one survivor each), a
    // far-future sentinel advances the watermark past all data (state
    // evicted), batch 3 carries every event id AGAIN with ts shifted
    // +40 days (ahead of the watermark — a replay at the ORIGINAL ts
    // would be discarded as late data, which is the op's third
    // semantic, covered by the +40d construction being required at
    // all). Census per type must be exactly 2× the base table — all
    // three semantics in one deterministic number.
    QueryDef(
      "q368_stream_dedup_within_watermark",
      (s, d) => {
        import graft.streaming.EventStreams
        val stage = java.nio.file.Paths.get(
          sys.props("java.io.tmpdir"),
          s"graft_dedupww_${Integer.toHexString(d.hashCode)}").toString
        val ev = Tables(s, d, "events")
        val maxUs = ev.agg(max(unix_micros(col("ts")))).head().getLong(0)
        // THREE sentinel batches at +3h/+6h/+9h: the watermark a batch
        // observes lags the event-time maximum by 1–2 batches
        // (measured: a single far sentinel left exactly the last-2h
        // keys live against the replay, and a far-jump sentinel pair
        // late-dropped most of the replay), so the chain advances
        // event time in SMALL hops — far enough past max+1h that every
        // data key's state evicts before the replay batch, near enough
        // that the replay's +40d timestamps stay ahead of any lagged
        // watermark (never late) — robust under either lag model.
        def sentinel(id: Long, plusHours: Long) = s.range(1).select(
          lit(id).as("event_id"),
          expr(s"timestamp_micros(${maxUs + plusHours * 3600000000L}L)").as("ts"),
          lit(-1L).as("user_id"), lit("view").as("event_type"),
          lit(0.0).as("value"))
          .select(ev.schema.fields.toIndexedSeq.map(f =>
            (if (Seq("event_id", "ts", "user_id", "event_type", "value")
              .contains(f.name)) col(f.name)
            else lit(null)).cast(f.dataType).as(f.name)): _*)
        val src = EventStreams.stagedBatchesStream(stage, Seq(
          ev.unionAll(ev),
          sentinel(-100L, 3L), sentinel(-200L, 6L), sentinel(-300L, 9L),
          ev.withColumn("ts", col("ts") + expr("interval 40 days"))))
        EventStreams.runToMemorySink(
          src.withWatermark("ts", "1 hour")
            .dropDuplicatesWithinWatermark("event_id"),
          "append")
          .filter(col("user_id") >= 0)
          .groupBy("event_type")
          .agg(count(lit(1)).as("n_rows"),
            countDistinct("event_id").as("n_ids"))
          .orderBy("event_type")
      },
      Some("""
        SELECT event_type, 2 * count(*) AS n_rows, count(*) AS n_ids
        FROM events GROUP BY 1 ORDER BY event_type""")),
  )
}
