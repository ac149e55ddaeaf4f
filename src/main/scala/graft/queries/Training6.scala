package graft.queries

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.{QueryDef, Tables}
import graft.operators.TextOps.{hash60Duck, hash60Spark}

/** Sixth wave: sketch accuracy contracts and the remaining corpus-prep
  * signals.
  *
  *  - q133/q134 extend the q32 idea — a sketch's ESTIMATE is engine-
  *    specific and can't be hash-compared, but its published error bound
  *    is a deterministic predicate on fixed data. The query emits the
  *    exact value plus an `*_ok` flag asserting the bound; the oracle
  *    emits the exact value plus literal TRUE. A sketch drifting outside
  *    its contract fails the driver's hash check.
  *  - q135–q137 are corpus-preparation ops the earlier waves don't
  *    cover: PII redaction (the C4/CCNet scrub step), character-entropy
  *    gibberish scoring, and deterministic negative sampling for
  *    contrastive training.
  */
object Training6 {
  /** micro-nat ln, rounded once at the source (the q74/q117 libm
    * discipline): both engines' ln agree to well under 1e-6 relative,
    * so round(ln(x)*1e6) lands on the same BIGINT and every later step
    * is exact integer arithmetic.
    */
  private val lnMicroSpark = "CAST(round(ln(%s) * 1000000) AS BIGINT)"
  private val lnMicroDuck = "CAST(round(ln(%s) * 1000000) AS BIGINT)"

  // Dialect-portable PII patterns: no backslash classes ([.] instead of
  // \.) so the same literal works in Java regex (Spark) and RE2 (DuckDB).
  private val emailPat = "[a-z0-9._%+-]+@[a-z0-9.-]+[.][a-z]{2,}"
  private val ipPat = "[0-9]{1,3}[.][0-9]{1,3}[.][0-9]{1,3}[.][0-9]{1,3}"
  private val phonePat = "555-[0-9]{4}"

  val defs: Seq[QueryDef] = Seq(

    // ---- count-min-sketch heavy hitters, gated on the CMS contract.
    // The sketch is the 100 TB shape for frequency estimation: one
    // mergeable pass, eps=1e-4 width, bounded memory regardless of
    // vocabulary size. CMS never underestimates and overestimates by at
    // most eps·N w.h.p. (fixed seed ⇒ deterministic here); `cms_ok`
    // asserts exactly that for the top-20 exact heavy hitters. The
    // sketch and the top-20 are both driver-size by construction — the
    // only full-data passes are the word-count agg and the sketch agg.
    QueryDef(
      "q133_cms_heavy_hitters",
      (s, d) => {
        val words = Tables(s, d, "documents")
          .select(explode(split(col("text"), " ")).as("word"))
          .filter(col("word") =!= "")
        val top = words.groupBy("word").agg(count(lit(1)).as("n_exact"))
          .orderBy(col("n_exact").desc, col("word").asc)
          .limit(20)
        val skRow = words.agg(
          expr("count_min_sketch(word, 0.0001d, 0.99d, 42)").as("sk"),
          count(lit(1)).as("total")).head()
        val sk = org.apache.spark.util.sketch.CountMinSketch.readFrom(
          new java.io.ByteArrayInputStream(skRow.getAs[Array[Byte]]("sk")))
        val total = skRow.getAs[Long]("total")
        val bound = total / 10000L + 1L // eps·N, rounded up
        val rows = top.collect().toIndexedSeq.map { r =>
          val w = r.getAs[String]("word")
          val n = r.getAs[Long]("n_exact")
          val est = sk.estimateCount(w)
          (w, n, est >= n && est - n <= bound)
        }
        import s.implicits._
        rows.toDF("word", "n_exact", "cms_ok")
      },
      Some("""
        WITH w AS (
          SELECT unnest(string_split(text, ' ')) AS word FROM documents),
        c AS (
          SELECT word, count(*) AS n_exact FROM w WHERE word <> ''
          GROUP BY 1)
        SELECT word, n_exact, TRUE AS cms_ok
        FROM c ORDER BY n_exact DESC, word LIMIT 20""")),

    // ---- t-digest median, gated on its RANK error. This is the
    // contract behind the engine's whole 100 TB percentile story (the
    // GraftExtensions approx-quantile rewrite, the q22/q122/q127 scale
    // paths): approx_percentile(p, acc) must return a value whose true
    // rank is within n/acc of p·n. Pass 1 computes the sketch value,
    // the exact median witness (rounded at source) and n per group;
    // pass 2 broadcasts those and counts rows strictly below / at-or-
    // below the sketch value — the value's true rank interval — then
    // asserts it straddles n/2 within slack n/1000 + 2 (acc=10000, so
    // 10× headroom). All-integer predicate ⇒ deterministic.
    QueryDef(
      "q134_tdigest_rank_gate",
      (s, d) => {
        val li = Tables(s, d, "lineitem").select(col("l_returnflag"), col("l_extendedprice"))
        val ag = li.groupBy("l_returnflag").agg(
          expr("approx_percentile(l_extendedprice, 0.5d, 10000)").as("__ap"),
          round(expr("percentile(l_extendedprice, 0.5d)"), 6).as("median_exact"),
          count(lit(1)).as("n"))
        li.join(broadcast(ag), "l_returnflag")
          .groupBy("l_returnflag")
          .agg(
            max(col("n")).as("n"),
            max(col("median_exact")).as("median_exact"),
            sum(when(col("l_extendedprice") < col("__ap"), 1L).otherwise(0L)).as("__n_lt"),
            sum(when(col("l_extendedprice") <= col("__ap"), 1L).otherwise(0L)).as("__n_le"))
          .select(
            col("l_returnflag"), col("n"), col("median_exact"),
            ((col("__n_lt") * 2 <= col("n") + (col("n") / 500L + 4L)) &&
              (col("__n_le") * 2 >= col("n") - (col("n") / 500L + 4L)))
              .as("tdigest_ok"))
      },
      Some("""
        SELECT l_returnflag, count(*) AS n,
               round(quantile_cont(l_extendedprice, 0.5), 6) AS median_exact,
               TRUE AS tdigest_ok
        FROM lineitem GROUP BY 1""")),

    // ---- PII redaction (the C4/CCNet scrub step): strip emails, IPv4
    // addresses and phone-shaped strings, reporting per-source counts
    // and bytes removed. The harness corpus is synthetic word soup with
    // no PII, so the query plants deterministic PII derived from doc_id
    // (same expression in both engines) — the redaction logic is what's
    // under test, and planted rows make every counter non-trivial.
    // Redaction order is fixed (emails → IPs → phones) and each
    // replacement token contains no digits, so passes can't create new
    // matches for later passes. Pure per-row regex work: one scan, zero
    // shuffles before the per-source agg; at 100 TB this is the
    // map-side-only shape you want.
    QueryDef(
      "q135_pii_redaction",
      (s, d) => {
        val aug =
          s"""concat(text,
             CASE WHEN doc_id % 7 = 0
                  THEN concat(' contact user', cast(doc_id AS string), '@example.com now')
                  ELSE '' END,
             CASE WHEN doc_id % 11 = 0
                  THEN concat(' from 10.0.', cast(doc_id % 256 AS string), '.',
                              cast(doc_id % 100 AS string), ' host')
                  ELSE '' END,
             CASE WHEN doc_id % 13 = 0
                  THEN concat(' call 555-01', lpad(cast(doc_id % 100 AS string), 2, '0'), ' ok')
                  ELSE '' END)"""
        Tables(s, d, "documents")
          .select(col("source"), expr(aug).as("aug"))
          .select(
            col("source"),
            col("aug"),
            expr(s"regexp_count(aug, '$emailPat')").as("e"),
            expr(s"regexp_count(aug, '$ipPat')").as("i"),
            expr(s"regexp_count(aug, '$phonePat')").as("p"),
            expr(
              s"""regexp_replace(regexp_replace(regexp_replace(aug,
                    '$emailPat', '<EMAIL>'),
                    '$ipPat', '<IP>'),
                    '$phonePat', '<PHONE>')""").as("red"))
          .groupBy("source")
          .agg(
            count(lit(1)).as("n_docs"),
            sum(when(col("e") + col("i") + col("p") > 0, 1L).otherwise(0L)).as("n_pii_docs"),
            sum(col("e").cast("long")).as("n_emails"),
            sum(col("i").cast("long")).as("n_ips"),
            sum(col("p").cast("long")).as("n_phones"),
            sum(length(col("aug")).cast("long") - length(col("red")).cast("long"))
              .as("chars_removed"))
      },
      Some(s"""
        WITH aug AS (
          SELECT source,
                 text ||
                 CASE WHEN doc_id % 7 = 0
                      THEN ' contact user' || doc_id::VARCHAR || '@example.com now'
                      ELSE '' END ||
                 CASE WHEN doc_id % 11 = 0
                      THEN ' from 10.0.' || (doc_id % 256)::VARCHAR || '.' ||
                           (doc_id % 100)::VARCHAR || ' host'
                      ELSE '' END ||
                 CASE WHEN doc_id % 13 = 0
                      THEN ' call 555-01' || lpad((doc_id % 100)::VARCHAR, 2, '0') || ' ok'
                      ELSE '' END AS aug
          FROM documents),
        m AS (
          SELECT source, aug,
                 len(regexp_extract_all(aug, '$emailPat')) AS e,
                 len(regexp_extract_all(aug, '$ipPat')) AS i,
                 len(regexp_extract_all(aug, '$phonePat')) AS p,
                 regexp_replace(regexp_replace(regexp_replace(aug,
                   '$emailPat', '<EMAIL>', 'g'),
                   '$ipPat', '<IP>', 'g'),
                   '$phonePat', '<PHONE>', 'g') AS red
          FROM aug)
        SELECT source, count(*) AS n_docs,
               CAST(sum(CASE WHEN e + i + p > 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_pii_docs,
               CAST(sum(e) AS BIGINT) AS n_emails,
               CAST(sum(i) AS BIGINT) AS n_ips,
               CAST(sum(p) AS BIGINT) AS n_phones,
               CAST(sum(length(aug) - length(red)) AS BIGINT) AS chars_removed
        FROM m GROUP BY 1""")),

    // ---- character-entropy gibberish scoring (the CCNet-family
    // quality signal q40/q92 don't capture): Shannon entropy of the
    // character distribution of a BOUNDED 256-char prefix, in
    // micro-nats. The prefix cap is the scale contract — explode
    // fan-out is ≤256 rows/doc and the (doc_id, ch) agg map-side
    // combines to ≤|alphabet| per doc, so the shuffle is tiny no
    // matter how long documents get. H = ln N − (Σ c·ln c)/N computed
    // as exact BIGINT micro-nats (ln rounded once at source, half-up
    // division) — bit-identical across engines. Output: the 25
    // lowest-entropy documents, i.e. the gibberish/boilerplate
    // candidates a quality filter would drop.
    QueryDef(
      "q136_char_entropy",
      (s, d) => {
        val lnC = lnMicroSpark.format("c")
        val lnN = lnMicroSpark.format("n_sampled")
        Tables(s, d, "documents")
          .select(col("doc_id"), explode(split(substring(col("text"), 1, 256), "")).as("ch"))
          .filter(col("ch") =!= "")
          .groupBy("doc_id", "ch").agg(count(lit(1)).as("c"))
          .groupBy("doc_id")
          .agg(
            sum("c").as("n_sampled"),
            sum(expr(s"c * $lnC")).as("s"))
          .select(
            col("doc_id"), col("n_sampled"),
            expr(s"(2 * (n_sampled * $lnN - s) + n_sampled) div (2 * n_sampled)")
              .as("h_micro"))
          .orderBy(col("h_micro").asc, col("doc_id").asc)
          .limit(25)
      },
      Some(s"""
        WITH ch AS (
          SELECT doc_id, unnest(string_split(substr(text, 1, 256), '')) AS ch
          FROM documents),
        c AS (
          SELECT doc_id, ch, count(*) AS c FROM ch WHERE ch <> ''
          GROUP BY 1, 2),
        p AS (
          SELECT doc_id, CAST(sum(c) AS BIGINT) AS n_sampled,
                 CAST(sum(c * ${lnMicroDuck.format("c")}) AS BIGINT) AS s
          FROM c GROUP BY 1)
        SELECT doc_id, n_sampled,
               CAST((2 * (n_sampled * ${lnMicroDuck.format("n_sampled")} - s) + n_sampled)
                    // (2 * n_sampled) AS BIGINT) AS h_micro
        FROM p ORDER BY h_micro, doc_id LIMIT 25""")),

    // ---- deterministic negative sampling for contrastive training:
    // for each anchor vector, pick 5 negatives (different label) by
    // md5-rank of the (anchor, candidate) pair — a pure function of the
    // ids, so the sampled set is identical across engines, runs and
    // cluster sizes (the q61/q93/q128 sampler recipe). Scale shape:
    // anchors broadcast; the hash PREFILTER (keep h < 2^60/8) cuts the
    // candidate stream 8× BEFORE the per-anchor shuffle, which is how
    // you bound the pair stream when the corpus side is 100 TB — tune
    // the keep rate so expected survivors ≫ k. One keyed window on the
    // survivors ranks them.
    QueryDef(
      "q137_negative_sampling",
      (s, d) => {
        val emb = Tables(s, d, "embeddings").select(col("vec_id"), col("label"))
        val anchors = broadcast(
          emb.filter(col("vec_id") < 20)
            .select(col("vec_id").as("a_id"), col("label").as("a_label")))
        val h = hash60Spark("concat(cast(a_id AS string), ':', cast(vec_id AS string))")
        val pairs = emb.join(anchors, col("label") =!= col("a_label"))
          .withColumn("h", expr(h))
          .filter(col("h") < lit(1L << 57))
        val w = Window.partitionBy("a_id").orderBy(col("h").asc, col("vec_id").asc)
        pairs.withColumn("rn", row_number().over(w).cast("long"))
          .filter(col("rn") <= 5)
          .select(col("a_id"), col("vec_id").as("neg_id"), col("rn"))
      },
      Some(s"""
        WITH a AS (
          SELECT vec_id AS a_id, label AS a_label FROM embeddings
          WHERE vec_id < 20),
        p AS (
          SELECT a_id, e.vec_id AS neg_id,
                 ${hash60Duck("a_id::VARCHAR || ':' || e.vec_id::VARCHAR")} AS h
          FROM a JOIN embeddings e ON e.label <> a.a_label),
        f AS (SELECT * FROM p WHERE h < ${1L << 57}),
        r AS (
          SELECT a_id, neg_id,
                 row_number() OVER (PARTITION BY a_id ORDER BY h, neg_id) AS rn
          FROM f)
        SELECT a_id, neg_id, rn FROM r WHERE rn <= 5""")),

    // ---- the DataSource V2 connector as a declared, oracled
    // capability: stage the documents table as a gbd binary shard
    // (payload = UTF-8 text bytes), scan it through the full DSv2
    // chain with a doc_id range predicate — the source prunes whole
    // blocks from its gbx index BEFORE reading (and keeps the filters
    // as residuals, so pruning can't change results) — and aggregate
    // per lang. The oracle runs the same aggregate over the parquet
    // original: the two storage paths must agree byte-for-byte
    // (payload_bytes uses strlen = byte length on the DuckDB side; the
    // corpus is ASCII so char length == byte length and Spark's
    // length(binary) matches).
    QueryDef(
      "q138_gbd_source_scan",
      (s, d) => {
        val path = graft.sources.GbdFormat.stageDocuments(s, d, blockRecords = 64)
        s.read.format("graft.sources.GbdSource").load(path)
          .filter(col("doc_id") >= 64 && col("doc_id") < 320)
          .groupBy("lang")
          .agg(
            count(lit(1)).as("n_docs"),
            sum(length(col("payload")).cast("long")).as("payload_bytes"))
      },
      Some("""
        SELECT lang, count(*) AS n_docs,
               CAST(sum(strlen(text)) AS BIGINT) AS payload_bytes
        FROM documents
        WHERE doc_id >= 64 AND doc_id < 320
        GROUP BY 1""")),

    // ---- Bloom-filter FPP gate, completing the sketch-contract family
    // (HLL q32, CMS q133, t-digest q134): the filter behind the q72
    // runtime pre-join must honor BOTH its guarantees — zero false
    // negatives (hard), and an observed false-positive rate near the
    // configured fpp (probabilistic; ≤3× nominal leaves ample margin
    // and is deterministic for fixed data, since the filter's hashing
    // carries no random seed). Members = distinct order keys (built
    // distributed via stat.bloomFilter's partition-merge agg); probes =
    // 100k keys far outside the key domain. The exact member count is
    // the oracle-checkable witness.
    QueryDef(
      "q140_bloom_fpp_gate",
      (s, d) => {
        val orders = Tables(s, d, "orders").select(col("o_orderkey"))
        val bloom = orders.stat.bloomFilter("o_orderkey", 2000000L, 0.01)
        val bc = s.sparkContext.broadcast(bloom)
        val mightContain =
          udf((k: java.lang.Long) => k != null && bc.value.mightContainLong(k))
        val members = orders.distinct()
        val nMembers = members.count()
        val falseNeg = members.filter(!mightContain(col("o_orderkey"))).count()
        val nProbes = 100000L
        val probeBase = 1000000000000L // far above any o_orderkey
        val falsePos = s.range(probeBase, probeBase + nProbes)
          .filter(mightContain(col("id"))).count()
        import s.implicits._
        Seq((nMembers, nProbes, falseNeg, falsePos <= (nProbes * 3) / 100))
          .toDF("n_members", "n_probes", "false_negatives", "fpp_ok")
      },
      Some("""
        SELECT count(DISTINCT o_orderkey) AS n_members,
               CAST(100000 AS BIGINT) AS n_probes,
               CAST(0 AS BIGINT) AS false_negatives,
               TRUE AS fpp_ok
        FROM orders""")),

    // ---- bigram-LM cross-entropy (the CCNet LM-filter shape, one
    // order up from q117's unigram surprisal): train an add-one-
    // smoothed bigram model on the corpus, score every document by
    // average token surprisal −ln P(w₂|w₁), emit the 25 worst-fit
    // documents. Unlike q117's driver-size vocabulary, the bigram
    // table does NOT broadcast at corpus scale — the scale shape is
    // two co-keyed shuffle equi-joins (token stream ⋈ bigram counts on
    // the bigram, ⋈ context counts on the left word) + a broadcast
    // scalar |V|. All arithmetic is exact BIGINT micro-nats (ln
    // rounded once at source, half-up division), so the ranking is
    // bit-identical across engines.
    QueryDef(
      "q142_bigram_xent",
      (s, d) => {
        val withWs = Tables(s, d, "documents")
          .select(col("doc_id"), split(col("text"), " ").as("ws"))
          .filter(size(col("ws")) >= 2)
        // the token stream feeds model training (cbg, cctx) AND scoring;
        // cache it so the corpus is scanned/exploded once, not three times
        val bg = withWs.select(col("doc_id"), explode(expr(
          """transform(sequence(1, size(ws) - 1),
             i -> struct(element_at(ws, i) AS w1,
                         concat(element_at(ws, i), ' ', element_at(ws, i + 1)) AS bg))"""))
          .as("t"))
          .select(col("doc_id"), col("t.w1"), col("t.bg"))
          .cache()
        try {
          val cbg = bg.groupBy("bg").agg(count(lit(1)).as("c_bg"))
          val cctx = bg.groupBy("w1").agg(count(lit(1)).as("c_ctx"))
          val vocab = Tables(s, d, "documents")
            .select(explode(split(col("text"), " ")).as("w"))
            .filter(col("w") =!= "")
            .agg(countDistinct(col("w")).as("v"))
          bg.join(cbg, "bg").join(cctx, "w1").crossJoin(broadcast(vocab))
            .select(col("doc_id"),
              (expr(lnMicroSpark.format("c_ctx + v")) -
                expr(lnMicroSpark.format("c_bg + 1"))).as("sup"))
            .groupBy("doc_id")
            .agg(count(lit(1)).as("n_bigrams"), sum("sup").as("s2"))
            .select(col("doc_id"), col("n_bigrams"),
              expr("(2 * s2 + n_bigrams) div (2 * n_bigrams)").as("xent_micro"))
            .orderBy(col("xent_micro").desc, col("doc_id").asc)
            .limit(25)
            .localCheckpoint()
        } finally bg.unpersist()
      },
      Some(s"""
        WITH d2 AS (
          SELECT doc_id, string_split(text, ' ') AS ws FROM documents
          WHERE len(string_split(text, ' ')) >= 2),
        bgs AS (
          SELECT doc_id, ws[i] AS w1, ws[i] || ' ' || ws[i + 1] AS bg
          FROM d2, unnest(range(1, len(ws))) AS t(i)),
        cbg AS (SELECT bg, count(*) AS c_bg FROM bgs GROUP BY 1),
        cctx AS (SELECT w1, count(*) AS c_ctx FROM bgs GROUP BY 1),
        v AS (
          SELECT count(DISTINCT word) AS v FROM (
            SELECT unnest(string_split(text, ' ')) AS word FROM documents)
          WHERE word <> ''),
        sc AS (
          SELECT doc_id,
                 ${lnMicroDuck.format("c_ctx + v")} -
                 ${lnMicroDuck.format("c_bg + 1")} AS sup
          FROM bgs JOIN cbg USING (bg) JOIN cctx USING (w1), v),
        p AS (
          SELECT doc_id, count(*) AS n_bigrams, CAST(sum(sup) AS BIGINT) AS s2
          FROM sc GROUP BY 1)
        SELECT doc_id, n_bigrams,
               CAST((2 * s2 + n_bigrams) // (2 * n_bigrams) AS BIGINT) AS xent_micro
        FROM p ORDER BY xent_micro DESC, doc_id LIMIT 25""")),

    // ---- triangle counting over the co-purchase graph (parts that
    // share an order), completing the graph family (q71/q109 CC +
    // PageRank). The plan is the standard oriented-edge scheme: edges
    // are kept only as u < v, so each triangle is ONE (e1:a→b, e2:b→c,
    // e3:a→c) row and the count needs no /6 correction — two shuffle
    // equi-joins over the edge list, never a cross join, with the
    // closing join SHUFFLE_HASH-hinted so the wedge stream is probed,
    // never sorted (Graphs.exactTriangleCount). SCALE-DISPATCHED
    // (round 9): Graphs.triangleStats measures the wedge mass Σ deg²
    // — the exact count's resource — and above
    // `spark.graft.graph.wedgeMassLimit` routes the count to the
    // deterministic DOULION estimate (exact count on the 1-in-p
    // hash-selected edge sample × p³; q342 declares and hash-oracles
    // that branch). The harness-scale mass (~3·10⁸ at sf0.1) stays
    // under the 5·10⁸ default, so THIS declared entry runs — and is
    // oracled — exact; the 10× sweep's 3·10⁹ mass routes sampled.
    QueryDef(
      "q143_triangle_count",
      (s, d) =>
        graft.operators.Graphs.triangleStats(
          graft.operators.Graphs.coPurchaseEdges(Tables(s, d, "lineitem"))),
      Some("""
        WITH op AS (SELECT DISTINCT l_orderkey AS o, l_partkey AS p FROM lineitem),
        e AS (
          SELECT DISTINCT a.p AS u, b.p AS v
          FROM op a JOIN op b ON a.o = b.o AND a.p < b.p)
        SELECT (SELECT count(*) FROM (SELECT u AS n FROM e UNION SELECT v FROM e))
                 AS n_nodes,
               (SELECT count(*) FROM e) AS n_edges,
               (SELECT count(*)
                FROM e e1 JOIN e e2 ON e1.v = e2.u
                          JOIN e e3 ON e1.u = e3.u AND e2.v = e3.v)
                 AS n_triangles""")),

    // ---- time-series linear interpolation: densify each user's daily
    // value series onto the global day spine and fill interior gaps by
    // linear interpolation between the neighboring known days (leading/
    // trailing gaps stay empty — the pandas `interpolate` contract).
    // The neighbors come from two keyed IGNORE-NULLS window passes
    // (running last known / upcoming first known), so the plan is one
    // join + one keyed window — no self-join per gap, no per-user loop.
    // Values are exact micro-units; the interpolated value is the
    // integer weighted mean pv·(nd−day) + nv·(day−pd) over (nd−pd) with
    // sign-split half-up division, so both engines agree bit-for-bit.
    QueryDef(
      "q144_interpolate",
      (s, d) => {
        // Spark's `div` truncates toward zero but DuckDB's `//` floors;
        // they agree only for non-negative micros, so emulate floor
        // explicitly — pre-1970 timestamps must bucket identically
        val floorDay =
          """(unix_micros(ts) div 86400000000) +
             CASE WHEN unix_micros(ts) % 86400000000 < 0 THEN -1 ELSE 0 END"""
        val ev = Tables(s, d, "events")
          .select(col("user_id"), expr(floorDay).as("day"), col("value"))
        val known = ev.groupBy("user_id", "day")
          .agg(expr("CAST(sum(CAST(value AS DECIMAL(28,6))) * 1000000 AS BIGINT)").as("v"))
        val bounds = ev.agg(min("day").as("lo"), max("day").as("hi"))
        val spine = known.select("user_id").distinct()
          .crossJoin(broadcast(bounds))
          .select(col("user_id"), explode(expr("sequence(lo, hi)")).as("day"))
        val wP = Window.partitionBy("user_id").orderBy("day")
          .rowsBetween(Window.unboundedPreceding, 0)
        val wN = Window.partitionBy("user_id").orderBy("day")
          .rowsBetween(0, Window.unboundedFollowing)
        spine.join(known, Seq("user_id", "day"), "left")
          .withColumn("pv", last(col("v"), ignoreNulls = true).over(wP))
          .withColumn("pd", last(when(col("v").isNotNull, col("day")), ignoreNulls = true).over(wP))
          .withColumn("nv", first(col("v"), ignoreNulls = true).over(wN))
          .withColumn("nd", first(when(col("v").isNotNull, col("day")), ignoreNulls = true).over(wN))
          .withColumn("interp",
            when(col("v").isNull && col("pv").isNotNull && col("nv").isNotNull,
              expr("""CASE WHEN pv * (nd - day) + nv * (day - pd) >= 0
                      THEN (2 * (pv * (nd - day) + nv * (day - pd)) + (nd - pd))
                           div (2 * (nd - pd))
                      ELSE -((2 * (-(pv * (nd - day) + nv * (day - pd))) + (nd - pd))
                           div (2 * (nd - pd))) END""")))
          .groupBy("user_id")
          .agg(
            count(lit(1)).as("n_days"),
            count(col("v")).as("n_known"),
            count(col("interp")).as("n_interp"),
            sum(coalesce(col("interp"), lit(0L))).as("sum_interp_micro"))
      },
      Some("""
        WITH ev AS (
          SELECT user_id,
                 epoch_us(CAST(ts AS TIMESTAMP)) // 86400000000 AS day, value
          FROM events),
        known AS (
          SELECT user_id, day,
                 CAST(sum(CAST(value AS DECIMAL(28,6))) * 1000000 AS BIGINT) AS v
          FROM ev GROUP BY 1, 2),
        b AS (SELECT min(day) AS lo, max(day) AS hi FROM ev),
        spine AS (
          SELECT user_id, unnest(range(lo, hi + 1)) AS day
          FROM (SELECT DISTINCT user_id FROM known), b),
        f AS (
          SELECT s.user_id, s.day, k.v
          FROM spine s LEFT JOIN known k USING (user_id, day)),
        w AS (
          SELECT user_id, day, v,
            last_value(v IGNORE NULLS) OVER (PARTITION BY user_id ORDER BY day
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS pv,
            last_value(CASE WHEN v IS NOT NULL THEN day END IGNORE NULLS)
              OVER (PARTITION BY user_id ORDER BY day
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS pd,
            first_value(v IGNORE NULLS) OVER (PARTITION BY user_id ORDER BY day
              ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS nv,
            first_value(CASE WHEN v IS NOT NULL THEN day END IGNORE NULLS)
              OVER (PARTITION BY user_id ORDER BY day
              ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS nd
          FROM f),
        i AS (
          SELECT user_id, v,
            CASE WHEN v IS NULL AND pv IS NOT NULL AND nv IS NOT NULL THEN
              CASE WHEN pv * (nd - day) + nv * (day - pd) >= 0
                   THEN (2 * (pv * (nd - day) + nv * (day - pd)) + (nd - pd))
                        // (2 * (nd - pd))
                   ELSE -((2 * (-(pv * (nd - day) + nv * (day - pd))) + (nd - pd))
                        // (2 * (nd - pd))) END
            END AS interp
          FROM w)
        SELECT user_id, count(*) AS n_days, count(v) AS n_known,
               count(interp) AS n_interp,
               CAST(sum(coalesce(interp, 0)) AS BIGINT) AS sum_interp_micro
        FROM i GROUP BY 1""")),

    // ---- probabilistic record linkage (Fellegi–Sunter): score blocked
    // candidate pairs by summing per-field agreement/disagreement
    // weights (precomputed ln(m/u) as integer micro-nat LITERALS — the
    // EM-estimated m/u probabilities are model inputs, so no runtime
    // libm at all; the whole score is exact BIGINT arithmetic). Fields:
    // fuzzy name (levenshtein ≤ 4), brand, type, size ±2. Blocking is
    // the q89 scheme (2-char name prefix + lossless length band), which
    // bounds the pair stream; the emitted surface is the reviewer
    // queue — the 1000 strongest candidates above the threshold, via
    // TakeOrdered (per-partition top-k, never a global sort), so the
    // result stays driver-size at any corpus scale.
    QueryDef(
      "q145_record_linkage",
      (s, d) => {
        val p = Tables(s, d, "part")
          .select(col("p_partkey"), col("p_name"), col("p_brand"), col("p_type"), col("p_size"))
        p.as("a").join(p.as("b"),
          substring(col("a.p_name"), 1, 2) === substring(col("b.p_name"), 1, 2) &&
            abs(length(col("a.p_name")) - length(col("b.p_name"))) <= 4 &&
            col("a.p_partkey") < col("b.p_partkey"))
          .select(
            col("a.p_partkey").as("key_a"), col("b.p_partkey").as("key_b"),
            (when(levenshtein(col("a.p_name"), col("b.p_name")) <= 4, 2800000L)
              .otherwise(-2200000L) +
              when(col("a.p_brand") === col("b.p_brand"), 1600000L).otherwise(-900000L) +
              when(col("a.p_type") === col("b.p_type"), 1900000L).otherwise(-1100000L) +
              when(abs(col("a.p_size") - col("b.p_size")) <= 2, 1200000L)
                .otherwise(-700000L)).as("score_micro"))
          .filter(col("score_micro") >= 3000000L)
          .orderBy(col("score_micro").desc, col("key_a").asc, col("key_b").asc)
          .limit(1000)
      },
      Some("""
        SELECT a.p_partkey AS key_a, b.p_partkey AS key_b,
               CAST(CASE WHEN levenshtein(a.p_name, b.p_name) <= 4
                         THEN 2800000 ELSE -2200000 END
                  + CASE WHEN a.p_brand = b.p_brand THEN 1600000 ELSE -900000 END
                  + CASE WHEN a.p_type = b.p_type THEN 1900000 ELSE -1100000 END
                  + CASE WHEN abs(a.p_size - b.p_size) <= 2 THEN 1200000 ELSE -700000 END
                 AS BIGINT) AS score_micro
        FROM part a JOIN part b
          ON substr(a.p_name, 1, 2) = substr(b.p_name, 1, 2)
         AND abs(length(a.p_name) - length(b.p_name)) <= 4
         AND a.p_partkey < b.p_partkey
        WHERE CASE WHEN levenshtein(a.p_name, b.p_name) <= 4
                   THEN 2800000 ELSE -2200000 END
            + CASE WHEN a.p_brand = b.p_brand THEN 1600000 ELSE -900000 END
            + CASE WHEN a.p_type = b.p_type THEN 1900000 ELSE -1100000 END
            + CASE WHEN abs(a.p_size - b.p_size) <= 2 THEN 1200000 ELSE -700000 END
              >= 3000000
        ORDER BY score_micro DESC, key_a, key_b
        LIMIT 1000""")),

    // ---- two-sample KS drift statistic (distribution monitoring).
    // NOTE: this is the EXACT-grid oracle-truth form; the declared
    // production twin is q294_ks_drift_tdigest (Training42) — same
    // statistic on an approx_percentile grid, zero sorts, gated by the
    // q134 rank-error contract. Reach for q294 at scale.
    // D = sup |F_R − F_A| between the R and A return-flag price
    // distributions, evaluated on a 199-point global percentile grid.
    // The grid is the scale contract: the exact sup needs a global sort
    // of the data, the grid needs one percentile agg + a per-row O(B)
    // bucket fold + a B-row cumulative — the only window runs over the
    // 200-row BOUNDARY table, never the data (the q91 discipline). The
    // statistic is exact integer arithmetic on the grid: max |cum_R·n_A
    // − cum_A·n_R| scaled to ppm by half-up division. The cross
    // products run in DECIMAL(38,0) (HUGEINT on the oracle side) —
    // cum·n reaches n² and would wrap a BIGINT near n ≈ 3×10⁹ rows;
    // 38 digits carry the contract to any realistic corpus. Boundaries
    // are rounded at source; totals come from the 200-row bucket table
    // (every row lands in exactly one bucket), so the data is scanned
    // exactly twice: the percentile agg and the bucket fold.
    QueryDef(
      "q146_ks_drift",
      (s, d) => {
        val qs = (1 to 199).map(i => i / 200.0).mkString(", ")
        val v = Tables(s, d, "lineitem")
          .filter(col("l_returnflag").isin("R", "A"))
          .select(col("l_returnflag").as("f"), col("l_extendedprice").as("x"))
        // boundaries collected (199 doubles — bounded) and embedded as
        // a codegen'd literal BINARY-SEARCH CASE tree (round 9:
        // EquiDepthBins.searchCountExpr — 8 compares/row; the round-8
        // linear chain was ~100 average, and the interpreted lambda
        // fold before it was the query's dominant cost); bucket =
        // #boundaries strictly below x, identically the first-match
        // x <= b_i chain.
        val bs = v.agg(
          expr(s"transform(percentile(x, array($qs)), q -> round(q, 6))").as("bs"))
          .head().getSeq[Double](0)
        val bucketExpr = graft.operators.EquiDepthBins.searchCountExpr(
          "x", bs.map(b => s"${b}D"), strict = true)
        val c = v
          .select(col("f"), expr(bucketExpr).as("bucket"))
          .groupBy("bucket")
          .agg(
            sum(when(col("f") === "R", 1L).otherwise(0L)).as("cr"),
            sum(when(col("f") === "A", 1L).otherwise(0L)).as("ca"))
          .cache()
        try {
          val w = Window.orderBy("bucket")
            .rowsBetween(Window.unboundedPreceding, 0)
          val totals = c.agg(sum("cr").as("nr"), sum("ca").as("na"))
          val dec = "CAST(%s AS DECIMAL(38,0))"
          c.withColumn("cum_r", sum("cr").over(w))
            .withColumn("cum_a", sum("ca").over(w))
            .crossJoin(broadcast(totals))
            .agg(
              max(col("nr")).as("n_r"), max(col("na")).as("n_a"),
              max(abs(
                expr(dec.format("cum_r")) * expr(dec.format("na")) -
                  expr(dec.format("cum_a")) * expr(dec.format("nr")))).as("__m"))
            .select(col("n_r"), col("n_a"),
              expr(s"""CAST((2 * 1000000 * __m + ${dec.format("n_r")} * n_a)
                       div (2 * ${dec.format("n_r")} * n_a) AS BIGINT)""").as("d_ppm"))
            .localCheckpoint()
        } finally c.unpersist()
      },
      Some({
        val qs = (1 to 199).map(i => i / 200.0).mkString(", ")
        s"""
        WITH v AS (
          SELECT l_returnflag AS f, l_extendedprice AS x FROM lineitem
          WHERE l_returnflag IN ('R', 'A')),
        b AS (
          SELECT list_transform(quantile_cont(x, [$qs]), q -> round(q, 6)) AS bs
          FROM v),
        bk AS (
          SELECT f, len(list_filter(bs, e -> x > e)) AS bucket FROM v, b),
        c AS (
          SELECT bucket,
                 sum(CASE WHEN f = 'R' THEN 1 ELSE 0 END) AS cr,
                 sum(CASE WHEN f = 'A' THEN 1 ELSE 0 END) AS ca
          FROM bk GROUP BY 1),
        cum AS (
          SELECT bucket,
                 CAST(sum(cr) OVER (ORDER BY bucket) AS HUGEINT) AS cum_r,
                 CAST(sum(ca) OVER (ORDER BY bucket) AS HUGEINT) AS cum_a
          FROM c),
        t AS (
          SELECT CAST(sum(cr) AS HUGEINT) AS nr, CAST(sum(ca) AS HUGEINT) AS na
          FROM c),
        m AS (
          SELECT max(abs(cum_r * na - cum_a * nr)) AS mm
          FROM cum, t)
        SELECT CAST(nr AS BIGINT) AS n_r, CAST(na AS BIGINT) AS n_a,
               CAST((2 * 1000000 * mm + nr * na) // (2 * nr * na) AS BIGINT) AS d_ppm
        FROM m, t"""
      })),
  )
}
