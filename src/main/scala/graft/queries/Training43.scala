package graft.queries

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.{QueryDef, Tables}

/** Forty-third wave — real-codec multimodal features, integer
  * forecasting, bag-semantics SQL surface:
  *
  *  - q297: Otsu threshold per planted BMP (decode → 256-bin gray
  *    histogram → exact-integer between-class-variance argmax) — the
  *    classic image-binarization op, all arithmetic exact.
  *  - q298: WAV/RIFF audio features (real chunk-walking PCM parser:
  *    energy, zero-crossing rate, peak) — the audio twin of q51's BMP
  *    decode; the planted container carries a LIST metadata chunk so a
  *    decoder that assumes data-at-36 fails.
  *  - q299: Holt linear-trend smoothing of the daily event series,
  *    α=β=1/2 in half-up micro-integer arithmetic — level/trend/one-
  *    step forecast per day; driver-iterated over the DAY DICTIONARY
  *    (the q283 bounded-collect discipline), oracle replays the exact
  *    recurrence as a recursive CTE.
  *  - q300: INTERSECT ALL / EXCEPT ALL bag semantics (multiset
  *    multiplicities, not set membership) — Spark plans these as a
  *    multiplicity aggregate + replicate, one value-keyed shuffle
  *    each, no pair blowup.
  */
object Training43 {
  val defs: Seq[QueryDef] = Seq(

    // ---- Otsu binarization threshold over the planted BMPs (q51's
    // closed-form images): decode24Histogram walks the real format
    // into a 256-bin gray histogram, then the threshold maximizing
    // between-class variance is found by one prefix-sum scan over the
    // BINS — per-image work is O(pixels + 256), exact integers
    // throughout (score = (s0·n1 − s1·n0)²·1e6 div (n0·n1); ties break
    // to the smallest t; degenerate single-level images get t=0).
    // Pure map-side pass — the 100 TB shape for per-asset feature
    // extraction; the oracle recomputes pixels, histogram, and argmax
    // from the same closed form.
    QueryDef(
      "q297_bmp_otsu",
      (s, d) => {
        import s.implicits._
        import graft.operators.BmpCodec
        val imgs = Tables(s, d, "documents")
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
        imgs.mapPartitions { iter =>
          iter.map { case (id, payload) =>
            val (w, h, hist) = BmpCodec.decode24Histogram(payload)
            val n = w.toLong * h
            val sAll = hist.zipWithIndex.map { case (c, g) => c * g }.sum
            var bestT = 0
            var bestScore = -1L
            var n0 = 0L
            var s0 = 0L
            var tt = 0
            while (tt <= 254) {
              n0 += hist(tt); s0 += hist(tt) * tt
              val n1 = n - n0
              val score =
                if (n0 == 0L || n1 == 0L) -1L
                else {
                  val dd = s0 * n1 - (sAll - s0) * n0
                  dd * dd * 1000000L / (n0 * n1)
                }
              if (score > bestScore) { bestScore = score; bestT = tt }
              tt += 1
            }
            val nBg = hist.take(bestT + 1).sum
            (id, bestT, nBg, n - nBg)
          }
        }.toDF("doc_id", "otsu_t", "n_bg", "n_fg")
      },
      Some("""
        WITH g AS (
          SELECT doc_id,
                 flatten(list_transform(range(0, 1 + doc_id % 5), y ->
                   list_transform(range(0, 1 + doc_id % 7), x ->
                     ((doc_id % 1000000 + 3 * x + 7 * y) % 256
                      + (2 * (doc_id % 1000000) + 5 * x + y) % 256
                      + (3 * (doc_id % 1000000) + x + 11 * y) % 256) // 3)))
                   AS gl
          FROM documents),
        st AS (
          SELECT doc_id, gl, len(gl) AS n,
                 coalesce(list_sum(gl), 0) AS s
          FROM g),
        sc AS (
          SELECT doc_id, t, n, s,
                 len(list_filter(gl, v -> v <= t)) AS n0,
                 coalesce(list_sum(list_filter(gl, v -> v <= t)), 0) AS s0
          FROM st, range(0, 255) r(t)),
        sel AS (
          SELECT doc_id, t, n0, n - n0 AS n1,
                 CASE WHEN n0 = 0 OR n0 = n THEN -1
                      ELSE ((s0 * (n - n0) - (s - s0) * n0)
                            * (s0 * (n - n0) - (s - s0) * n0) * 1000000)
                           // (n0 * (n - n0)) END AS score
          FROM sc),
        best AS (
          SELECT doc_id, t, n0, n1 FROM (
            SELECT doc_id, t, n0, n1,
                   row_number() OVER (PARTITION BY doc_id
                                      ORDER BY score DESC, t ASC) AS rn
            FROM sel) z
          WHERE rn = 1)
        SELECT doc_id, CAST(t AS INTEGER) AS otsu_t,
               CAST(n0 AS BIGINT) AS n_bg, CAST(n1 AS BIGINT) AS n_fg
        FROM best""")),

    // ---- WAV/RIFF audio features: each document plants a 16-bit PCM
    // mono clip (every sample a closed-form function of doc_id) inside
    // a REAL RIFF container that includes a LIST metadata chunk of
    // doc-dependent (odd and even) length — so the decoder must walk
    // chunks and honor the RIFF pad byte, not assume data at offset
    // 36. Features are the standard audio triage set: energy (Σ s²),
    // zero-crossing count (strict sign flips), peak amplitude. One
    // map-side pass; the oracle recomputes from the closed form.
    QueryDef(
      "q298_wav_features",
      (s, d) => {
        import s.implicits._
        import graft.operators.WavCodec
        val auds = Tables(s, d, "documents")
          .select(col("doc_id")).as[Long]
          .map { id =>
            val did = id % 1000000L
            val n = (8 + did % 9).toInt
            val samples = Array.tabulate(n)(i =>
              ((did * 7 + 3L * i * i + (i * did % 17) * 100) % 2001 - 1000).toShort)
            (id, WavCodec.encode16(8000, samples,
              Some(s"doc$did".getBytes("US-ASCII"))))
          }
        auds.mapPartitions { iter =>
          iter.map { case (id, payload) =>
            val dec = WavCodec.decode16(payload)
            (id, dec.nSamples, dec.sampleRate, dec.sumSq, dec.zeroCross, dec.maxAbs)
          }
        }.toDF("doc_id", "n_samples", "sample_rate", "sum_sq",
          "zero_cross", "max_abs")
      },
      Some("""
        WITH p AS (
          SELECT doc_id, doc_id % 1000000 AS did,
                 8 + (doc_id % 1000000) % 9 AS n
          FROM documents),
        s AS (
          SELECT doc_id, n,
                 list_transform(range(0, n), i ->
                   (did * 7 + 3 * i * i + ((i * did) % 17) * 100) % 2001 - 1000)
                   AS sl
          FROM p)
        SELECT doc_id,
               CAST(n AS INTEGER) AS n_samples,
               CAST(8000 AS INTEGER) AS sample_rate,
               CAST(list_sum(list_transform(sl, v -> v * v)) AS BIGINT) AS sum_sq,
               CAST(coalesce(list_sum(list_transform(range(2, n + 1), i ->
                      CASE WHEN (sl[i] > 0 AND sl[i-1] < 0)
                             OR (sl[i] < 0 AND sl[i-1] > 0)
                           THEN 1 ELSE 0 END)), 0) AS INTEGER) AS zero_cross,
               CAST(list_max(list_transform(sl, v -> abs(v))) AS INTEGER) AS max_abs
        FROM s""")),

    // ---- Holt linear-trend smoothing (double exponential) of the
    // daily event-count series: α = β = 1/2 so every update is a
    // half-up integer division in micro units — engine-exact, like the
    // q90 2^k decay and q283 absorption chains. The data-sized pass is
    // ONE keyed count agg; the recurrence runs driver-side over the
    // collected day dictionary (bounded-collect discipline — the day
    // count is calendar-bounded at any corpus size). l₁ = y₁, b₁ = 0;
    // fₜ = lₜ₋₁ + bₜ₋₁; lₜ = ⌈(yₜ + fₜ)/2⌋; bₜ = ⌈(bₜ₋₁ + lₜ − lₜ₋₁)/2⌋.
    // Oracle: recursive CTE replaying the identical integer recurrence.
    QueryDef(
      "q299_holt_linear",
      (s, d) => {
        import s.implicits._
        val daily = Tables(s, d, "events")
          .groupBy(to_date(col("ts")).as("day"))
          .agg(count(lit(1)).as("n"))
          .orderBy("day")
          .collect()
          .map(r => (r.getDate(0), r.getLong(1)))
        def halfUp2(x: Long): Long =
          if (x >= 0) (x + 1) / 2 else -((-x + 1) / 2)
        val rows = Vector.newBuilder[(java.sql.Date, Long, Long, Long, Long)]
        var l = 0L
        var b = 0L
        daily.zipWithIndex.foreach { case ((day, y), i) =>
          val ym = y * 1000000L
          if (i == 0) {
            l = ym; b = 0L
            rows += ((day, y, l, b, ym))
          } else {
            val f = l + b
            val nl = halfUp2(ym + f)
            val nb = halfUp2(b + nl - l)
            rows += ((day, y, nl, nb, f))
            l = nl; b = nb
          }
        }
        rows.result()
          .toDF("day", "n", "level_micro", "trend_micro", "forecast_micro")
          .orderBy("day")
      },
      Some {
        def hu2(e: String): String =
          s"CASE WHEN ($e) >= 0 THEN (($e) + 1) // 2 ELSE -(((-($e)) + 1) // 2) END"
        val nl = hu2("o.n * 1000000 + hw.l + hw.b")
        s"""
        WITH RECURSIVE daily AS (
          SELECT CAST(ts AS DATE) AS day, count(*) AS n
          FROM events GROUP BY 1),
        ord AS (
          SELECT day, n, row_number() OVER (ORDER BY day) AS rn FROM daily),
        hw(rn, day, n, l, b, f) AS (
          SELECT rn, day, n, n * 1000000, CAST(0 AS BIGINT), n * 1000000
          FROM ord WHERE rn = 1
          UNION ALL
          SELECT o.rn, o.day, o.n,
                 $nl,
                 ${hu2(s"hw.b + ($nl) - hw.l")},
                 hw.l + hw.b
          FROM hw JOIN ord o ON o.rn = hw.rn + 1)
        SELECT day, n, CAST(l AS BIGINT) AS level_micro,
               CAST(b AS BIGINT) AS trend_micro,
               CAST(f AS BIGINT) AS forecast_micro
        FROM hw ORDER BY day"""
      }),

    // ---- bag semantics: INTERSECT ALL / EXCEPT ALL keep MULTIPLICITY
    // (min(mᴬ, mᴮ) and max(0, mᴬ − mᴮ) copies per value), which set
    // INTERSECT/EXCEPT (q14/q15) destroy. Spark plans both as a
    // two-sided multiplicity aggregate + generate — one value-keyed
    // shuffle each, output bounded by the smaller bag, no pair join
    // anywhere. Multiplicities are then rolled up per value so the
    // result is dictionary-sized.
    QueryDef(
      "q300_bag_set_ops",
      (s, d) => {
        val o = Tables(s, d, "orders")
        val a = o.filter(col("o_orderdate").cast("date") <
            lit("1997-01-01").cast("date"))
          .select(col("o_orderpriority").as("pri"))
        val b = o.filter(col("o_custkey") % 3 === 0)
          .select(col("o_orderpriority").as("pri"))
        val ia = a.intersectAll(b).groupBy("pri")
          .agg(count(lit(1)).as("n_intersect_all"))
        val ea = a.exceptAll(b).groupBy("pri")
          .agg(count(lit(1)).as("n_except_all"))
        ia.join(ea, Seq("pri"), "full_outer")
          .select(col("pri"),
            coalesce(col("n_intersect_all"), lit(0L)).as("n_intersect_all"),
            coalesce(col("n_except_all"), lit(0L)).as("n_except_all"))
          .orderBy("pri")
      },
      Some("""
        WITH a AS (
          SELECT o_orderpriority AS pri FROM orders
          WHERE CAST(o_orderdate AS DATE) < DATE '1997-01-01'),
        b AS (
          SELECT o_orderpriority AS pri FROM orders WHERE o_custkey % 3 = 0),
        ia AS (
          SELECT pri, count(*) AS n_intersect_all
          FROM (SELECT * FROM a INTERSECT ALL SELECT * FROM b) z GROUP BY 1),
        ea AS (
          SELECT pri, count(*) AS n_except_all
          FROM (SELECT * FROM a EXCEPT ALL SELECT * FROM b) z GROUP BY 1)
        SELECT coalesce(ia.pri, ea.pri) AS pri,
               CAST(coalesce(n_intersect_all, 0) AS BIGINT) AS n_intersect_all,
               CAST(coalesce(n_except_all, 0) AS BIGINT) AS n_except_all
        FROM ia FULL OUTER JOIN ea ON ia.pri = ea.pri
        ORDER BY pri""")),
  )
}
