package graft.queries

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.{QueryDef, Tables}
import graft.Num.{halfUpDuck, halfUpSpark}

/** Thirty-fifth wave — calibration fitting, attribution, eval
  * reporting, seed expansion:
  *
  *  - q266: isotonic calibration (PAV) over the q241 reliability bins,
  *    via the minimax closed form — the monotone recalibration step
  *    that follows the q241 audit.
  *  - q267: Shapley (data-driven) attribution over observed exposure
  *    sets — the principled successor to q151's rule-based
  *    first/last-touch credit.
  *  - q268: per-slice eval rates with Wilson 95% intervals — the
  *    uncertainty-aware slice report an eval pipeline publishes.
  *  - q269: personalized PageRank from a trusted seed set over the
  *    near-dup graph — seed-expansion curation (rank docs by
  *    proximity to known-good docs), all integer like q109.
  */
object Training35 {
  val defs: Seq[QueryDef] = Seq(

    // ---- isotonic calibration via the PAV minimax identity: over the
    // q241 score-decile bins (n_b, pos_b), the isotonic fit at bin i
    // is  f_i = max_{j<=i} min_{k>=i} A(j,k)  with A(j,k) the pooled
    // positive rate over bins j..k — the closed form of
    // pool-adjacent-violators, computed as a 10×55 dictionary grid
    // from prefix sums, entirely in half-up micro integers. Scale
    // shape: ONE map-side-combinable 10-key agg over the data; the
    // whole fit runs on the bin dictionary.
    QueryDef(
      "q266_isotonic_calibration",
      (s, d) => {
        val bins = Tables(s, d, "orders")
          .select(
            least(floor(expr(
              "round(1.0 / (1.0 + exp(- ((o_totalprice - 250000.0) / 100000.0))), 6)")
              * 10).cast("int"), lit(9)).as("bin"),
            when(col("o_orderstatus") === "F", 1L).otherwise(0L).as("y"))
          .groupBy("bin")
          .agg(count(lit(1)).as("n"), sum("y").as("pos"))
        val pref = bins
          .withColumn("cumN", sum("n").over(
            Window.orderBy("bin").rowsBetween(Window.unboundedPreceding, 0)))
          .withColumn("cumP", sum("pos").over(
            Window.orderBy("bin").rowsBetween(Window.unboundedPreceding, 0)))
          .localCheckpoint(true) // 10-row dictionary, read three times
        val jSide = pref.select(col("bin").as("j"),
          (col("cumN") - col("n")).as("nb"), (col("cumP") - col("pos")).as("pb"))
        val kSide = pref.select(col("bin").as("k"),
          col("cumN").as("nk"), col("cumP").as("pk"))
        val grid = jSide.crossJoin(kSide).filter(col("j") <= col("k"))
          .select(col("j"), col("k"),
            expr(halfUpSpark("1000000 * (pk - pb)", "(nk - nb)")).as("a_micro"))
        val iso = pref.select(col("bin"))
          .crossJoin(grid)
          .filter(col("j") <= col("bin") && col("k") >= col("bin"))
          .groupBy("bin", "j").agg(min("a_micro").as("minA"))
          .groupBy("bin").agg(max("minA").as("iso_micro"))
        pref.select(col("bin"), col("n"),
            expr(halfUpSpark("1000000 * pos", "n")).as("rate_micro"))
          .join(iso, Seq("bin"))
          .orderBy("bin")
      },
      Some(s"""
        WITH scored AS (
          SELECT least(CAST(floor(round(1.0 / (1.0 + exp(- ((o_totalprice - 250000.0) / 100000.0))), 6) * 10) AS INT), 9) AS bin,
                 CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END AS y
          FROM orders),
        bins AS (
          SELECT bin, count(*) AS n, CAST(sum(y) AS BIGINT) AS pos
          FROM scored GROUP BY 1),
        pref AS (
          SELECT bin, n, pos,
                 CAST(sum(n) OVER (ORDER BY bin) AS BIGINT) AS cumN,
                 CAST(sum(pos) OVER (ORDER BY bin) AS BIGINT) AS cumP
          FROM bins),
        grid AS (
          SELECT j.bin AS j, k.bin AS k,
                 ${halfUpDuck("1000000 * (k.cumP - (j.cumP - j.pos))",
                              "(k.cumN - (j.cumN - j.n))")} AS a_micro
          FROM pref j CROSS JOIN pref k WHERE j.bin <= k.bin),
        iso AS (
          SELECT bin, max(minA) AS iso_micro FROM (
            SELECT p.bin, g.j, min(g.a_micro) AS minA
            FROM pref p JOIN grid g ON g.j <= p.bin AND g.k >= p.bin
            GROUP BY 1, 2)
          GROUP BY 1)
        SELECT p.bin, p.n,
               ${halfUpDuck("1000000 * p.pos", "p.n")} AS rate_micro,
               iso.iso_micro
        FROM pref p JOIN iso USING (bin)
        ORDER BY p.bin"""),
    ),

    // ---- Shapley attribution over observed exposure sets: each
    // user-day's exposure is the subset of the four non-purchase
    // channels it touched (a 4-bit mask), conversion is whether it
    // purchased; v(S) is the exact conversion rate of user-days with
    // exposure EXACTLY S (0 for unobserved subsets — documented
    // convention), and each channel's Shapley value is the
    // factorially-weighted sum of its marginal contributions over the
    // 16-subset lattice, in exact micro integers over the common
    // denominator 4! = 24. Scale shape: ONE keyed (user, day) agg over
    // the data; the lattice is a 16-row broadcast dictionary.
    QueryDef(
      "q267_shapley_attribution",
      (s, d) => {
        import s.implicits._
        val exp0 = Tables(s, d, "events")
          .groupBy(col("user_id"), to_date(col("ts")).as("day"))
          .agg(
            (max(when(col("event_type") === "click", 1).otherwise(0)) +
              max(when(col("event_type") === "error", 2).otherwise(0)) +
              max(when(col("event_type") === "signup", 4).otherwise(0)) +
              max(when(col("event_type") === "view", 8).otherwise(0))).as("mask"),
            max(when(col("event_type") === "purchase", 1L).otherwise(0L)).as("conv"))
        val vObs = exp0.groupBy("mask")
          .agg(count(lit(1)).as("n"), sum("conv").as("c"))
        val subsets = (0 until 16).toDF("mask")
        val v = subsets.join(vObs, Seq("mask"), "left")
          .select(col("mask"),
            coalesce(expr(halfUpSpark("1000000 * c", "n")), lit(0L)).as("v_micro"))
          .localCheckpoint(true) // 16-row lattice, joined twice
        // channels with bit values; Shapley weight numerators over 24
        // by |S| (S excluding the channel): 0!3!=6, 1!2!=2, 2!1!=2, 3!0!=6
        val channels = Seq(("click", 1), ("error", 2), ("signup", 4), ("view", 8))
          .toDF("channel", "bit")
        val wNum = "CASE bit_count(s) WHEN 0 THEN 6 WHEN 1 THEN 2 WHEN 2 THEN 2 ELSE 6 END"
        channels.crossJoin(v.select(col("mask").as("s"), col("v_micro").as("vs")))
          .filter(expr("(s & bit) = 0"))
          .join(v.select(col("mask").as("su"), col("v_micro").as("vsu")),
            expr("su = s + bit"))
          .groupBy("channel")
          .agg(sum(expr(s"($wNum) * (vsu - vs)")).as("wsum"))
          .select(col("channel"),
            expr(halfUpSpark("wsum", "24")).as("phi_micro"))
          .orderBy("channel")
      },
      Some(s"""
        WITH exp0 AS (
          SELECT user_id, CAST(ts AS DATE) AS day,
                 max(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) +
                 max(CASE WHEN event_type = 'error' THEN 2 ELSE 0 END) +
                 max(CASE WHEN event_type = 'signup' THEN 4 ELSE 0 END) +
                 max(CASE WHEN event_type = 'view' THEN 8 ELSE 0 END) AS mask,
                 max(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS conv
          FROM events GROUP BY 1, 2),
        vobs AS (
          SELECT mask, count(*) AS n, CAST(sum(conv) AS BIGINT) AS c
          FROM exp0 GROUP BY 1),
        v AS (
          SELECT i AS mask,
                 coalesce(${halfUpDuck("1000000 * c", "n")}, 0) AS v_micro
          FROM range(0, 16) t(i) LEFT JOIN vobs ON vobs.mask = t.i),
        ch AS (
          SELECT * FROM (VALUES ('click', 1), ('error', 2),
                                ('signup', 4), ('view', 8)) AS c(channel, bit)),
        marg AS (
          SELECT ch.channel,
                 CASE bit_count(vs.mask) WHEN 0 THEN 6 WHEN 1 THEN 2
                      WHEN 2 THEN 2 ELSE 6 END * (vu.v_micro - vs.v_micro) AS w
          FROM ch
          JOIN v vs ON (vs.mask & ch.bit) = 0
          JOIN v vu ON vu.mask = vs.mask + ch.bit),
        agg AS (
          SELECT channel, CAST(sum(w) AS BIGINT) AS wsum FROM marg GROUP BY 1)
        SELECT channel, ${halfUpDuck("wsum", "24")} AS phi_micro
        FROM agg ORDER BY channel"""),
    ),

    // ---- per-slice eval rates with Wilson 95% intervals: each
    // source's long-document rate (n_chars >= 200) with the
    // score-interval bounds — the uncertainty-aware slice report that
    // stops small slices from reading as significant. One keyed agg;
    // the interval assembly is a fixed IEEE chain on exact counts
    // (identical expression text in both dialects), rounded at 6 dp.
    QueryDef(
      "q268_wilson_intervals",
      (s, d) => {
        val Z2 = "3.8416" // 1.96^2
        def wilson(sign: String) =
          s"""round(((p + $Z2 / (2.0 * nd)) $sign 1.96 * sqrt((p * (1.0 - p)) / nd + $Z2 / (4.0 * nd * nd))) /
              (1.0 + $Z2 / nd), 6)"""
        Tables(s, d, "documents")
          .groupBy("source")
          .agg(count(lit(1)).as("n"),
            sum(when(col("n_chars") >= 200, 1L).otherwise(0L)).as("pos"))
          .withColumn("nd", col("n").cast("double"))
          .withColumn("p", expr("CAST(pos AS DOUBLE) / nd"))
          .select(
            col("source"), col("n"), col("pos"),
            round(col("p"), 6).as("rate"),
            expr(wilson("-")).as("lo95"),
            expr(wilson("+")).as("hi95"))
          .orderBy("source")
      },
      Some {
        val Z2 = "3.8416"
        def wilson(sign: String) =
          s"""round(((p + $Z2 / (2.0 * nd)) $sign 1.96 * sqrt((p * (1.0 - p)) / nd + $Z2 / (4.0 * nd * nd))) /
              (1.0 + $Z2 / nd), 6)"""
        s"""
        WITH a AS (
          SELECT source, count(*) AS n,
                 CAST(count(*) FILTER (WHERE n_chars >= 200) AS BIGINT) AS pos
          FROM documents GROUP BY 1),
        b AS (
          SELECT source, n, pos,
                 CAST(n AS DOUBLE) AS nd,
                 CAST(pos AS DOUBLE) / CAST(n AS DOUBLE) AS p
          FROM a)
        SELECT source, n, pos,
               round(p, 6) AS rate,
               ${wilson("-")} AS lo95,
               ${wilson("+")} AS hi95
        FROM b ORDER BY source"""
      },
    ),

    // ---- personalized PageRank from a trusted seed set: restart mass
    // goes ONLY to seed docs (here: lang = 'en', the data-defined
    // trusted set), so rank measures proximity to the seeds through
    // the near-dup graph — seed-expansion curation (grow a trusted
    // corpus from known-good docs). Same all-integer join-agg rounds
    // as q109: contribution floor(r/deg), update 15%·teleport +
    // 85%·in, 3 rounds over the localCheckpoint'd edge list — scales
    // to billions of edges, bit-identical on any partitioning.
    QueryDef(
      "q269_personalized_pagerank",
      (s, d) => {
        import graft.operators.Dedup
        val docs = Tables(s, d, "documents")
        val pairs = Dedup.minhashCandidatePairs(
          Dedup.minhashBands(docs, "doc_id", "text"), "doc_id")
        val edges = pairs
          .select(col("doc_id_a").as("src"), col("doc_id_b").as("dst"))
          .union(pairs.select(col("doc_id_b").as("src"), col("doc_id_a").as("dst")))
          .localCheckpoint()
        val deg = edges.groupBy("src").agg(count(lit(1)).as("deg"))
        val nodes = docs.select(col("doc_id"),
          when(col("lang") === "en", 1L).otherwise(0L).as("seed"))
        var rank = nodes.withColumn("r", col("seed") * 1000000L)
        (1 to 3).foreach { _ =>
          val contrib = edges
            .join(rank.select(col("doc_id").as("src"), col("r")), Seq("src"))
            .join(deg, Seq("src"))
            .select(col("dst"), expr("r div deg").as("c"))
            .groupBy("dst").agg(sum("c").as("in_sum"))
          rank = nodes
            .join(contrib, nodes("doc_id") === contrib("dst"), "left")
            .select(col("doc_id"), col("seed"),
              expr("seed * 150000L + (85 * coalesce(in_sum, 0L)) div 100").as("r"))
        }
        rank.select("doc_id", "r")
      },
      Some {
        import graft.operators.TextOps.lshPairsCtesDuck
        val pairCtes = s"""
        WITH ${lshPairsCtesDuck("documents", withWalk = false)},
        deg AS (SELECT src, count(*) AS deg FROM edges GROUP BY 1),
        sd AS (SELECT doc_id,
                      CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS seed
               FROM documents),
        r0 AS (SELECT doc_id, CAST(seed * 1000000 AS BIGINT) AS r FROM sd)"""
        val rounds = (1 to 3).map { i =>
          s"""
        r$i AS (
          SELECT d.doc_id,
                 d.seed * 150000 + (85 * coalesce(CAST(s.in_sum AS BIGINT), 0)) // 100 AS r
          FROM sd d LEFT JOIN (
            SELECT e.dst, sum(r.r // g.deg) AS in_sum
            FROM edges e
            JOIN r${i - 1} r ON r.doc_id = e.src
            JOIN deg g ON g.src = e.src
            GROUP BY e.dst) s ON s.dst = d.doc_id)"""
        }.mkString(",", ",", "")
        s"""$pairCtes$rounds
        SELECT doc_id, CAST(r AS BIGINT) AS r FROM r3"""
      },
    ),
  )
}
