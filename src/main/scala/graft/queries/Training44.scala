package graft.queries

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.{Num, QueryDef, Tables}

/** Forty-fourth wave — robust statistics, market-basket structure,
  * imputation, and the observability API:
  *
  *  - q301: MAD robust outlier census (median absolute deviation,
  *    doubled-integer median trick so every quantity stays an exact
  *    integer — no float σ estimate anywhere).
  *  - q302: top-vocabulary co-occurrence mining (apriori-lite): pair
  *    support + Jaccard over the top-20 words, pair mass bounded by
  *    the vocabulary cap, never the corpus.
  *  - q303: LOCF (last-observation-carried-forward) imputation with
  *    IGNORE NULLS window semantics per user — the standard gap-fill
  *    for sensor/event values.
  *  - q304: `Dataset.observe` (CollectMetrics) — pipeline-embedded
  *    metrics collected DURING a pass, no second scan; the query
  *    returns the observed metrics themselves so the oracle checks
  *    the metrics were computed correctly.
  */
object Training44 {
  val defs: Seq[QueryDef] = Seq(

    // ---- MAD robust outlier census per return flag. Doubled-integer
    // medians: med2 = 2·median(cents) is ALWAYS an exact integer (sum
    // of the two middle order statistics), so deviations dev2 =
    // |2·cents − med2| and mad2 = 2·median(dev2/… ) stay integers and
    // the 3σ̂ rule (σ̂ = 1.4826·MAD) becomes the pure-integer predicate
    // 10000·dev2 > 44478·mad2 — no float boundary anywhere, so the
    // census is engine-exact. Two grouped exact-percentile passes over
    // a 3-key group (the oracle-truth form; the q294-style sketch swap
    // applies verbatim when groups are data-sized).
    QueryDef(
      "q301_mad_outliers",
      (s, d) => {
        val li = Tables(s, d, "lineitem")
          .select(col("l_returnflag").as("f"),
            expr("CAST(round(l_extendedprice * 100, 0) AS BIGINT)").as("cents"))
        val med = li.groupBy("f")
          .agg(expr("CAST(round(percentile(cents, 0.5d) * 2) AS BIGINT)").as("med2"))
        val dev = li.join(broadcast(med), "f")
          .withColumn("dev2", abs(col("cents") * 2 - col("med2")))
        val mad = dev.groupBy("f")
          .agg(expr("CAST(round(percentile(dev2, 0.5d) * 2) AS BIGINT)").as("mad4"))
        dev.join(broadcast(mad), "f")
          .groupBy("f")
          .agg(
            count(lit(1)).as("n"),
            max("med2").as("med2"),
            max("mad4").as("mad4"),
            sum(when(col("dev2") * 2 * 10000 > col("mad4") * 44478, 1L)
              .otherwise(0L)).as("n_outliers"))
          .orderBy("f")
      },
      Some("""
        WITH li AS (
          SELECT l_returnflag AS f,
                 CAST(round(l_extendedprice * 100, 0) AS BIGINT) AS cents
          FROM lineitem),
        med AS (
          SELECT f, CAST(round(quantile_cont(cents, 0.5) * 2) AS BIGINT) AS med2
          FROM li GROUP BY 1),
        dev AS (
          SELECT li.f, abs(cents * 2 - med2) AS dev2, med2
          FROM li JOIN med ON li.f = med.f),
        mad AS (
          SELECT f, CAST(round(quantile_cont(dev2, 0.5) * 2) AS BIGINT) AS mad4
          FROM dev GROUP BY 1)
        SELECT dev.f, count(*) AS n, max(dev.med2) AS med2, max(mad4) AS mad4,
               CAST(sum(CASE WHEN dev2 * 2 * 10000 > mad4 * 44478
                             THEN 1 ELSE 0 END) AS BIGINT) AS n_outliers
        FROM dev JOIN mad ON dev.f = mad.f
        GROUP BY 1 ORDER BY dev.f""")),

    // ---- co-occurrence mining over the capped vocabulary: pair
    // support (docs containing BOTH words) and pair Jaccard for the
    // top-20 corpus words. The vocabulary cap is the scale contract:
    // postings are filtered to 20 broadcast words BEFORE the self-join,
    // so pair candidates are ≤ C(20,2) KEYS and the per-doc fan-out is
    // ≤ 20 — corpus growth adds posting rows, never pair keys. (This
    // is q150's PMI machinery pointed at itemset support instead of
    // information content.)
    QueryDef(
      "q302_cooccurrence_itemsets",
      (s, d) => {
        val words = Tables(s, d, "documents")
          .select(col("doc_id"), explode(split(col("text"), " ")).as("word"))
          .filter(col("word") =!= "")
        val top = words.groupBy("word").agg(count(lit(1)).as("c"))
          .orderBy(col("c").desc, col("word").asc).limit(20)
          .select("word")
        val dw = words.join(broadcast(top), "word")
          .select("doc_id", "word").distinct()
          .localCheckpoint() // both pair sides + df read it
        val df = dw.groupBy("word").agg(countDistinct("doc_id").as("dfc"))
        val pairs = dw.as("a").join(dw.as("b"),
          col("a.doc_id") === col("b.doc_id") && col("a.word") < col("b.word"))
          .groupBy(col("a.word").as("w1"), col("b.word").as("w2"))
          .agg(count(lit(1)).as("support"))
        pairs
          .join(broadcast(df.select(col("word").as("w1"), col("dfc").as("df1"))), "w1")
          .join(broadcast(df.select(col("word").as("w2"), col("dfc").as("df2"))), "w2")
          .select(col("w1"), col("w2"), col("support"),
            round(col("support").cast("double") /
              (col("df1") + col("df2") - col("support")), 6).as("pair_jaccard"))
          .orderBy(col("support").desc, col("w1").asc, col("w2").asc)
          .limit(15)
      },
      Some("""
        WITH w AS (
          SELECT doc_id, unnest(string_split(text, ' ')) AS word
          FROM documents),
        wc AS (
          SELECT word, count(*) AS c FROM w WHERE word <> '' GROUP BY 1),
        top AS (
          SELECT word FROM wc ORDER BY c DESC, word LIMIT 20),
        dw AS (
          SELECT DISTINCT doc_id, word FROM w JOIN top USING (word)),
        df AS (
          SELECT word, count(DISTINCT doc_id) AS dfc FROM dw GROUP BY 1),
        pairs AS (
          SELECT a.word AS w1, b.word AS w2, count(*) AS support
          FROM dw a JOIN dw b
            ON a.doc_id = b.doc_id AND a.word < b.word
          GROUP BY 1, 2)
        SELECT w1, w2, support,
               round(CAST(support AS DOUBLE) / (d1.dfc + d2.dfc - support), 6)
                 AS pair_jaccard
        FROM pairs
        JOIN df d1 ON d1.word = w1
        JOIN df d2 ON d2.word = w2
        ORDER BY support DESC, w1, w2
        LIMIT 15""")),

    // ---- LOCF imputation: event values are nulled where event_type =
    // 'error' (planted determinstically — the harness has no nulls) and
    // carried forward per user in arrival order via IGNORE NULLS window
    // semantics (`last(col, ignoreNulls = true)` — the LOCF idiom; a
    // leading null stays null). ONE keyed window pass; the per-user
    // rollup keeps the result user-dictionary-sized.
    QueryDef(
      "q303_locf_impute",
      (s, d) => {
        val ev = Tables(s, d, "events")
          .select(col("user_id"), col("ts"), col("event_id"),
            when(col("event_type") =!= "error",
              expr("CAST(round(value * 1000000) AS BIGINT)")).as("v6"))
        val w = Window.partitionBy("user_id").orderBy(col("ts"), col("event_id"))
          .rowsBetween(Window.unboundedPreceding, 0)
        ev.withColumn("filled", last(col("v6"), ignoreNulls = true).over(w))
          .groupBy("user_id")
          .agg(
            count(lit(1)).as("n_events"),
            sum(when(col("v6").isNull, 1L).otherwise(0L)).as("n_nulls"),
            sum(when(col("v6").isNull && col("filled").isNotNull, 1L)
              .otherwise(0L)).as("n_filled"),
            sum(when(col("v6").isNull, col("filled")).otherwise(0L))
              .as("imputed_sum_micro"))
          .filter(col("n_nulls") > 0)
          .orderBy("user_id")
      },
      Some("""
        WITH ev AS (
          SELECT user_id, ts, event_id,
                 CASE WHEN event_type <> 'error'
                      THEN CAST(round(value * 1000000) AS BIGINT) END AS v6
          FROM events),
        f AS (
          SELECT user_id, v6,
                 last_value(v6 IGNORE NULLS) OVER (
                   PARTITION BY user_id ORDER BY ts, event_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS filled
          FROM ev)
        SELECT user_id, count(*) AS n_events,
               CAST(sum(CASE WHEN v6 IS NULL THEN 1 ELSE 0 END) AS BIGINT)
                 AS n_nulls,
               CAST(sum(CASE WHEN v6 IS NULL AND filled IS NOT NULL
                             THEN 1 ELSE 0 END) AS BIGINT) AS n_filled,
               CAST(coalesce(sum(CASE WHEN v6 IS NULL THEN filled ELSE 0 END), 0)
                 AS BIGINT) AS imputed_sum_micro
        FROM f GROUP BY 1 HAVING n_nulls > 0 ORDER BY user_id""")),

    // ---- Dataset.observe / CollectMetrics: named aggregate metrics
    // riding a pass that is already happening — the data-quality
    // counters a 100 TB pipeline wants WITHOUT a second scan (observe
    // attaches the metrics to the existing physical plan; a separate
    // audit query would re-read the table). The query triggers one
    // noop-write pass over lineitem, collects the observed metrics on
    // the driver, and returns them as the result — so the oracle
    // directly checks the CollectMetrics arithmetic.
    QueryDef(
      "q304_observe_metrics",
      (s, d) => {
        import s.implicits._
        val obs = org.apache.spark.sql.Observation()
        Tables(s, d, "lineitem")
          .observe(obs,
            count(lit(1)).as("n_rows"),
            sum(expr("CAST(round(l_extendedprice * 100, 0) AS BIGINT)"))
              .as("sum_cents"),
            sum(when(col("l_returnflag") === "R", 1L).otherwise(0L))
              .as("n_returns"),
            max(col("l_quantity").cast("long")).as("max_qty"))
          .write.format("noop").mode("overwrite").save()
        val m = obs.get
        Seq((m("n_rows").asInstanceOf[Long],
          m("sum_cents").asInstanceOf[Long],
          m("n_returns").asInstanceOf[Long],
          m("max_qty").asInstanceOf[Long]))
          .toDF("n_rows", "sum_cents", "n_returns", "max_qty")
      },
      Some("""
        SELECT count(*) AS n_rows,
               CAST(sum(CAST(round(l_extendedprice * 100, 0) AS BIGINT)) AS BIGINT)
                 AS sum_cents,
               CAST(sum(CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END) AS BIGINT)
                 AS n_returns,
               CAST(max(CAST(l_quantity AS BIGINT)) AS BIGINT) AS max_qty
        FROM lineitem""")),
  )
}
