package graft.queries

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

import graft.{Num, QueryDef, Tables}
import graft.Num.round6
import graft.operators.TextOps.{hash60Duck, hash60Spark}

/** Twenty-eighth wave — privacy-release and model-evaluation machinery:
  *
  *  - q239: l-diversity / t-closeness audit per quasi-identifier group
  *    (the release-readiness table k-anonymity alone can't provide — a
  *    k-large group with one sensitive value still leaks).
  *  - q240: ε-differentially-private noisy counts via seeded Laplace
  *    (inverse-CDF from a 60-bit hash uniform — deterministic, so the
  *    release is reproducible AND hash-oracled).
  *  - q241: calibration reliability bins (per-bin mean score vs
  *    positive rate + gap — the table an ECE is read from).
  *  - q242: top principal component of the embedding covariance by
  *    power iteration — covariance from ONE distributive aggregate,
  *    iterations on the 8×8 driver-side matrix.
  *
  * Determinism: every libm call (ln/exp/sqrt) is rounded to 6 dp at
  * the source; every data-sized sum goes through exact decimals; the
  * q242 iteration arithmetic is an identical left-associated chain in
  * Scala and in the generated oracle CTEs, so IEEE doubles agree
  * bit-for-bit.
  */
object Training28 {
  val defs: Seq[QueryDef] = Seq(

    // ---- l-diversity + t-closeness: QI = (priority, year, month),
    // sensitive = order status. Per group: size k, distinct-l, entropy
    // effective-l (exp of the Shannon entropy — 3 statuses split
    // 98/1/1 has l=3 but entropy-l ≈ 1.1), and total-variation
    // distance to the GLOBAL status mix (t-closeness: a group matching
    // the population distribution reveals nothing even at l=1 beyond
    // membership). Scale shape: one (QI, status) agg, one QI re-agg,
    // global mix broadcast — the whole audit is two keyed aggregates
    // regardless of table size.
    QueryDef(
      "q239_l_diversity",
      (s, d) => {
        val cls = Tables(s, d, "orders")
          .select(col("o_orderpriority"),
            year(col("o_orderdate")).as("yr"),
            month(col("o_orderdate")).as("mon"),
            col("o_orderstatus"))
          .groupBy("o_orderpriority", "yr", "mon", "o_orderstatus")
          .agg(count(lit(1)).as("cnt"))
        val glob = Tables(s, d, "orders")
          .groupBy("o_orderstatus").agg(count(lit(1)).as("gcnt"))
          .withColumn("gtot", sum("gcnt").over())
        // tvd in EXACT integers (the q170 ppm discipline): the per-
        // status term |cnt/k − gcnt/gtot| becomes |cnt·gtot − gcnt·k|
        // over the common denominator — no double subtraction, no
        // 6-dp rounding boundary for the engines to disagree on.
        // (Products are BIGINT-safe to ~3e9 rows; beyond that the
        // DECIMAL(38,0) swap is mechanical.)
        cls.join(broadcast(glob), Seq("o_orderstatus"))
          .withColumn("k", sum("cnt").over(
            org.apache.spark.sql.expressions.Window
              .partitionBy("o_orderpriority", "yr", "mon")))
          .withColumn("p", col("cnt").cast("double") / col("k"))
          .groupBy("o_orderpriority", "yr", "mon")
          .agg(
            max("k").as("k"),
            max("gtot").as("__g"),
            count(lit(1)).as("l_distinct"),
            sum(round(col("p") * log(col("p")), 6)
              .cast(DecimalType(28, 6))).as("__h"),
            sum(abs(col("cnt") * col("gtot") - col("gcnt") * col("k")))
              .as("__num"))
          .select(
            col("o_orderpriority"), col("yr"), col("mon"),
            col("k"), col("l_distinct"),
            round(exp(-col("__h").cast("double")), 6).as("entropy_l"),
            expr("(2 * 1000000 * __num + 2 * k * __g) div (4 * k * __g)")
              .as("tvd_ppm"),
            (col("k") >= 10).as("k_ok"),
            (col("l_distinct") >= 2).as("l_ok"))
          .orderBy("o_orderpriority", "yr", "mon")
      },
      Some("""
        WITH cls AS (
          SELECT o_orderpriority, year(o_orderdate) AS yr,
                 month(o_orderdate) AS mon, o_orderstatus, count(*) AS cnt
          FROM orders GROUP BY 1, 2, 3, 4),
        gmix AS (
          SELECT o_orderstatus, CAST(count(*) AS BIGINT) AS gcnt,
                 CAST((SELECT count(*) FROM orders) AS BIGINT) AS gtot
          FROM orders GROUP BY 1),
        j AS (
          SELECT cls.*, gmix.gcnt, gmix.gtot,
                 CAST(sum(cnt) OVER (PARTITION BY o_orderpriority, yr, mon)
                      AS BIGINT) AS k
          FROM cls JOIN gmix USING (o_orderstatus)),
        p AS (SELECT *, CAST(cnt AS DOUBLE) / k AS p FROM j)
        SELECT o_orderpriority, yr, mon, max(k) AS k,
               count(*) AS l_distinct,
               round(exp(- CAST(sum(CAST(round(p * ln(p), 6)
                                        AS DECIMAL(28,6))) AS DOUBLE)), 6)
                 AS entropy_l,
               (2 * 1000000 * CAST(sum(abs(cnt * gtot - gcnt * k)) AS BIGINT)
                + 2 * max(k) * max(gtot)) // (4 * max(k) * max(gtot))
                 AS tvd_ppm,
               max(k) >= 10 AS k_ok, count(*) >= 2 AS l_ok
        FROM p GROUP BY o_orderpriority, yr, mon
        ORDER BY o_orderpriority, yr, mon"""),
    ),

    // ---- seeded DP-Laplace noisy counts (ε = 0.5, sensitivity 1 →
    // scale b = 2): u ~ Uniform(0,1) derived from the 60-bit hash of
    // the group key, Laplace noise by inverse CDF. Deterministic seed
    // → the release is reproducible run-to-run (and auditable), which
    // is how production DP releases pin their noise draws to a stored
    // seed. Scale shape: ONE keyed count + per-group constant-time
    // noise arithmetic; group count is dictionary-sized.
    QueryDef(
      "q240_dp_laplace",
      (s, d) => {
        val u = "( (" + hash60Spark("concat('dp:', o_orderpriority, ':', yr)") +
          " % 1000000) / 1000000.0 + 0.0000005 )"
        Tables(s, d, "orders")
          .select(col("o_orderpriority"), year(col("o_orderdate")).as("yr"))
          .groupBy("o_orderpriority", "yr")
          .agg(count(lit(1)).as("n"))
          .withColumn("__u", expr(u))
          .withColumn("__lap",
            round(expr(
              """-2.0 * (CASE WHEN __u >= 0.5 THEN 1.0 ELSE -1.0 END)
                 * round(ln(1.0 - 2.0 * abs(__u - 0.5)), 6)"""), 6))
          .select(
            col("o_orderpriority"), col("yr"),
            round(col("n") + col("__lap"), 3).as("n_noisy"),
            lit(0.5).as("epsilon"))
          .orderBy("o_orderpriority", "yr")
      },
      Some(s"""
        WITH g AS (
          SELECT o_orderpriority, year(o_orderdate) AS yr, count(*) AS n
          FROM orders GROUP BY 1, 2),
        u AS (
          SELECT *,
                 (${hash60Duck("'dp:' || o_orderpriority || ':' || yr")} % 1000000)
                   / 1000000.0 + 0.0000005 AS u
          FROM g)
        SELECT o_orderpriority, yr,
               round(n + round(-2.0 * (CASE WHEN u >= 0.5 THEN 1.0 ELSE -1.0 END)
                               * round(ln(1.0 - 2.0 * abs(u - 0.5)), 6), 6), 3)
                 AS n_noisy,
               0.5 AS epsilon
        FROM u ORDER BY o_orderpriority, yr"""),
    ),

    // ---- calibration reliability bins: a fixed logistic price score
    // against the observed F-status rate, in 10 score-deciles. The
    // per-bin |mean score − positive rate| column is what an expected
    // calibration error sums — kept per-bin so the drift DIRECTION is
    // visible. Scale shape: per-row codegen score + one 10-key agg;
    // the whole audit is a single map-side-combinable pass.
    QueryDef(
      "q241_calibration_bins",
      (s, d) => {
        val scored = Tables(s, d, "orders")
          .select(
            round(expr(
              "1.0 / (1.0 + exp(- ((o_totalprice - 250000.0) / 100000.0)))"), 6)
              .as("score"),
            when(col("o_orderstatus") === "F", 1L).otherwise(0L).as("y"))
          .withColumn("bin",
            least(floor(col("score") * 10).cast("int"), lit(9)))
        scored.groupBy("bin")
          .agg(
            count(lit(1)).as("n"),
            Num.dsum(col("score")).as("__ss"),
            sum("y").as("__pos"))
          .select(
            col("bin"), col("n"),
            round(col("__ss") / col("n"), 6).as("mean_score"),
            round(col("__pos").cast("double") / col("n"), 6).as("pos_rate"))
          .withColumn("abs_gap",
            round(abs(col("mean_score") - col("pos_rate")), 6))
          .orderBy("bin")
      },
      Some(s"""
        WITH scored AS (
          SELECT round(1.0 / (1.0 + exp(- ((o_totalprice - 250000.0) / 100000.0))), 6)
                   AS score,
                 CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END AS y
          FROM orders),
        b AS (
          SELECT least(CAST(floor(score * 10) AS INT), 9) AS bin, score, y
          FROM scored),
        a AS (
          SELECT bin, count(*) AS n,
                 round(${Num.dsumSql("score")} / count(*), 6) AS mean_score,
                 round(CAST(sum(y) AS DOUBLE) / count(*), 6) AS pos_rate
          FROM b GROUP BY bin)
        SELECT bin, n, mean_score, pos_rate,
               round(abs(mean_score - pos_rate), 6) AS abs_gap
        FROM a ORDER BY bin"""),
    ),

    // ---- top principal component by power iteration: covariance of
    // embedding dims 1-8 from ONE distributive aggregate (8 sums + 36
    // upper-triangle product sums through exact decimals), then 15
    // power-iteration steps on the 8×8 matrix. The single collected
    // row is bounded by construction (the DeterministicKMeans centroid
    // precedent) — at 100 TB the data pass is one map-side-combinable
    // aggregate; the iteration cost is dim², independent of rows.
    // The oracle replays the identical left-associated arithmetic as
    // generated CTEs, so every IEEE double agrees bit-for-bit.
    QueryDef(
      "q242_power_iteration_pca",
      (s, d) => {
        val D = 8
        def x(i: Int) = s"cast(element_at(embedding, $i) as double)"
        val sums = (1 to D).map(i => Num.dsum(expr(x(i))).as(s"s$i"))
        val prods = for { i <- 1 to D; j <- i to D } yield
          Num.dsum(expr(s"${x(i)} * ${x(j)}")).as(s"sp${i}_$j")
        val aggRow = Tables(s, d, "embeddings")
          .agg(count(lit(1)).as("n"), (sums ++ prods): _*)
          .collect()(0) // bounded: ONE row of 45 aggregates
        val n = aggRow.getAs[Long]("n").toDouble
        val sv = (1 to D).map(i => aggRow.getAs[Double](s"s$i")).toArray
        val cov = Array.tabulate(D, D) { (i0, j0) =>
          val (i, j) = (math.min(i0, j0) + 1, math.max(i0, j0) + 1)
          round6((aggRow.getAs[Double](s"sp${i}_$j") -
            sv(i - 1) * sv(j - 1) / n) / n)
        }
        var v = Array.fill(D)(1.0 / math.sqrt(D.toDouble))
        for (_ <- 1 to 40) {
          val w = Array.tabulate(D) { i =>
            var acc = 0.0
            (0 until D).foreach(j => acc = acc + cov(i)(j) * v(j))
            acc
          }
          var nn = 0.0
          (0 until D).foreach(i => nn = nn + w(i) * w(i))
          val norm = math.sqrt(nn)
          v = w.map(_ / norm)
        }
        val w = Array.tabulate(D) { i =>
          var acc = 0.0
          (0 until D).foreach(j => acc = acc + cov(i)(j) * v(j))
          acc
        }
        var lam = 0.0
        (0 until D).foreach(i => lam = lam + v(i) * w(i))
        var tr = 0.0
        (0 until D).foreach(i => tr = tr + cov(i)(i))
        import s.implicits._
        (1 to D).map(i => (i, round6(v(i - 1)), round6(lam),
            round6(lam / tr)))
          .toDF("dim", "loading", "eigenvalue", "explained_share")
      },
      Some {
        val D = 8
        def x(i: Int) = s"embedding[$i]::DOUBLE"
        val aggCols =
          s"count(*) AS n, " +
            (1 to D).map(i => s"${Num.dsumSql(x(i))} AS s$i").mkString(", ") + ", " +
            (for { i <- 1 to D; j <- i to D }
              yield s"${Num.dsumSql(s"${x(i)} * ${x(j)}")} AS sp${i}_$j")
              .mkString(", ")
        def covRef(i0: Int, j0: Int): String = {
          val (i, j) = (math.min(i0, j0), math.max(i0, j0))
          s"c${i}_$j"
        }
        val covCols = (for { i <- 1 to D; j <- i to D } yield
          s"round((sp${i}_$j - s$i * s$j / n) / n, 6) AS c${i}_$j")
          .mkString(", ")
        val v0 = 1.0 / math.sqrt(D.toDouble)
        val v0Cols = (1 to D).map(i => s"CAST($v0 AS DOUBLE) AS v$i").mkString(", ")
        val iters = (1 to 40).map { k =>
          val wCols = (1 to D).map(i =>
            (1 to D).map(j => s"${covRef(i, j)} * v$j").mkString(" + "))
            .zipWithIndex.map { case (e, i) => s"($e) AS w${i + 1}" }
            .mkString(", ")
          val normE = (1 to D).map(i => s"w$i * w$i").mkString(" + ")
          s"""w$k AS (SELECT ${wCols} FROM it${k - 1} CROSS JOIN cov),
             |it$k AS (SELECT ${(1 to D).map(i => s"w$i / sqrt($normE) AS v$i").mkString(", ")} FROM w$k)"""
            .stripMargin
        }.mkString(",\n")
        val wF = (1 to D).map(i =>
          (1 to D).map(j => s"${covRef(i, j)} * v$j").mkString(" + "))
          .zipWithIndex.map { case (e, i) => s"($e) AS w${i + 1}" }
          .mkString(", ")
        val lamE = (1 to D).map(i => s"v$i * w$i").mkString(" + ")
        val trE = (1 to D).map(i => s"c${i}_$i").mkString(" + ")
        val rows = (1 to D).map(i =>
          s"SELECT CAST($i AS INT) AS dim, round(v$i, 6) AS loading, " +
            s"round(lam, 6) AS eigenvalue, round(lam / tr, 6) AS explained_share FROM fin")
          .mkString(" UNION ALL ")
        s"""
        WITH agg AS (SELECT $aggCols FROM embeddings),
        cov AS (SELECT n, $covCols FROM agg),
        it0 AS (SELECT $v0Cols),
        $iters,
        wf AS (SELECT ${(1 to D).map(i => s"v$i").mkString(", ")}, $wF
               FROM it40 CROSS JOIN cov),
        fin AS (SELECT *, ($lamE) AS lam, ($trE) AS tr
                FROM wf CROSS JOIN cov)
        $rows ORDER BY dim"""
      },
    ),
  )
}
