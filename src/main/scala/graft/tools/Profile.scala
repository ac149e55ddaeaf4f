package graft.tools

import org.apache.spark.sql.functions._
import graft.Num.dsum

/** Dev profiler: isolates where bench time goes for a hot query.
  * Not part of the driver contract; run via
  *   runMain graft.tools.Profile [sfDir]
  */
object Profile {
  def time[A](label: String)(f: => A): A = {
    val t0 = System.nanoTime(); val r = f
    println(f"[profile] $label%-40s ${(System.nanoTime() - t0) / 1e9}%.3f s")
    r
  }

  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val spark = graft.Session.local(graft.Session.cpus)

    val li = spark.read.parquet(s"$sfDir/lineitem.parquet")
    // warm everything once
    li.agg(count(lit(1))).collect()

    time("scan count(*)")(li.agg(count(lit(1))).collect())
    time("scan 1 double col sum(double)")(
      li.agg(sum("l_quantity")).collect())
    time("scan 1 double col dsum(decimal)")(
      li.agg(dsum(col("l_quantity"))).collect())
    def q01(df: org.apache.spark.sql.DataFrame) = df
      .filter(col("l_shipdate") <= lit("1999-06-30").cast("timestamp"))
      .groupBy("l_returnflag", "l_linestatus")
      .agg(
        dsum(col("l_quantity")).as("sum_qty"),
        dsum(col("l_extendedprice")).as("sum_base_price"),
        dsum(col("l_extendedprice") * (lit(1.0) - col("l_discount"))).as("sum_disc_price"),
        dsum(col("l_extendedprice") * (lit(1.0) - col("l_discount")) * (lit(1.0) + col("l_tax"))).as("sum_charge"),
        (dsum(col("l_quantity")) / count(lit(1))).as("avg_qty"),
        (dsum(col("l_extendedprice")) / count(lit(1))).as("avg_price"),
        (dsum(col("l_discount")) / count(lit(1))).as("avg_disc"),
        count(lit(1)).as("count_order"))
    time("q01 single-file scan")(q01(li).collect())
    time("q01 again")(q01(li).collect())
    val li32 = li.repartition(32).cache()
    li32.count()
    time("q01 on cached 32-part input")(q01(li32).collect())
    time("q01 on cached 32-part input again")(q01(li32).collect())
    li32.unpersist()
    val doubleSums = li
      .filter(col("l_shipdate") <= lit("1999-06-30").cast("timestamp"))
      .groupBy("l_returnflag", "l_linestatus")
      .agg(sum("l_quantity"), sum("l_extendedprice"), count(lit(1)))
    time("q01-ish plain double sums")(doubleSums.collect())

    // co-purchase edge-build variants (pass "edges" as args(1)):
    // 3-shuffle distinct/self-join/distinct vs 2-shuffle groupBy +
    // in-array pair comprehension (interpreted HOF lambda) vs
    // 2-shuffle groupBy + posexplode/Generate pairs
    if (args.lift(1).contains("edges")) {
      def run(label: String)(build: => org.apache.spark.sql.DataFrame): Unit = {
        build.unpersist() // warm
        (1 to 3).foreach { i =>
          time(f"$label run$i")(build.unpersist())
        }
      }
      def joinForm = {
        val op = li.select(col("l_orderkey").as("o"), col("l_partkey").as("p")).distinct()
        op.as("a").join(op.as("b"),
            col("a.o") === col("b.o") && col("a.p") < col("b.p"))
          .select(col("a.p").as("u"), col("b.p").as("v"))
          .distinct().localCheckpoint()
      }
      def hofForm = {
        li.select(col("l_orderkey").as("o"), col("l_partkey").as("p"))
          .groupBy("o").agg(expr("array_sort(collect_set(p))").as("ps"))
          .select(explode(expr(
            """flatten(transform(ps, (x, i) ->
                 transform(slice(ps, i + 2, size(ps) - i - 1),
                   y -> struct(x AS u, y AS v))))""")).as("e"))
          .select(col("e.u"), col("e.v")).distinct().localCheckpoint()
      }
      def generateForm = {
        li.select(col("l_orderkey").as("o"), col("l_partkey").as("p"))
          .groupBy("o").agg(expr("array_sort(collect_set(p))").as("ps"))
          .select(posexplode(col("ps")).as(Seq("i", "u")), col("ps"))
          .select(col("u"), explode(expr("slice(ps, i + 2, size(ps) - i - 1)")).as("v"))
          .distinct().localCheckpoint()
      }
      run("edges join-form")(joinForm)
      run("edges hof-form")(hofForm)
      run("edges generate-form")(generateForm)
      println(s"[profile] counts: join=${joinForm.count()} hof=${hofForm.count()} gen=${generateForm.count()}")
      // downstream effect: same triangle join over each form's output
      def genStatsReset = graft.Iterate.ckpt(
        li.select(col("l_orderkey").as("o"), col("l_partkey").as("p"))
          .groupBy("o").agg(expr("array_sort(collect_set(p))").as("ps"))
          .select(posexplode(col("ps")).as(Seq("i", "u")), col("ps"))
          .select(col("u"), explode(expr("slice(ps, i + 2, size(ps) - i - 1)")).as("v"))
          .distinct())
      for ((label, build) <- Seq(
          ("join", () => joinForm), ("hof", () => hofForm),
          ("gen", () => generateForm), ("genreset", () => genStatsReset))) {
        val e = build()
        println(s"[profile] $label partitions=${e.rdd.getNumPartitions}")
        time(s"tri over $label run1")(graft.operators.Graphs.exactTriangleCount(e))
        time(s"tri over $label run2")(graft.operators.Graphs.exactTriangleCount(e))
        e.unpersist()
      }
    }

    // triangle closing-join bloom pre-filter experiment (pass
    // "tribloom"): the wedge stream (e1⋈e2) is shuffled into the
    // closing SHUFFLE_HASH join, but triangles << wedges — a broadcast
    // bloom filter over edge keys applied BEFORE the exchange (guide
    // §3.2) should drop almost all of it. Measures wedge/edge counts,
    // the plain join, and the bloom-filtered join, and asserts count
    // equality (no false negatives ⇒ identical result).
    if (args.lift(1).contains("tribloom")) {
      val e = graft.operators.Graphs.coPurchaseEdges(li)
      val nEdges = e.count()
      val wedges = e.as("e1").join(e.as("e2"), col("e1.v") === col("e2.u"))
      println(s"[profile] tribloom edges=$nEdges wedges=${time("wedge count")(wedges.count())}")
      def plainJoin(): Long = graft.operators.Graphs.exactTriangleCount(e)
      time("tri plain run1")(plainJoin())
      time("tri plain run2")(plainJoin())
      // round 14: probe through the REAL operator predicate (the
      // compiled BloomMightContain expression behind closingBloomPred)
      // so the timing and the plan receipt reflect what q143 executes
      val bp = graft.operators.Graphs.closingBloomPred(
        e, nEdges, col("u"), col("v"), col("e1.u"), col("e2.v"))
      def bloomJoin(): Long =
        wedges
          .filter(bp.pred)
          .join(e.as("e3").hint("SHUFFLE_HASH"),
            col("e1.u") === col("e3.u") && col("e2.v") === col("e3.v"))
          .count()
      time("tri bloom run1")(bloomJoin())
      time("tri bloom run2")(bloomJoin())
      println(s"[profile] tribloom counts equal: ${plainJoin() == bloomJoin()}")
      // plan receipts for plans/r14: the closing-join subtree with the
      // compiled pre-filter (the declared q143 frame is an eager 1-row
      // census, so the receipt must come from the join itself; the
      // r14 "before" — the r13 ScalaUDF form — is the committed
      // plans/r13/q143_closing_join_after.txt)
      def dump(tag: String, df: org.apache.spark.sql.DataFrame): Unit = {
        val txt = df.queryExecution.explainString(
          org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
        java.nio.file.Files.write(
          java.nio.file.Paths.get(s"/root/repo/plans/r14/$tag.txt"),
          txt.getBytes("UTF-8"))
        println(s"[profile] wrote plans/r14/$tag.txt")
      }
      dump("q143_closing_join_after",
        wedges
          .filter(bp.pred)
          .join(e.as("e3").hint("SHUFFLE_HASH"),
            col("e1.u") === col("e3.u") && col("e2.v") === col("e3.v"))
          .groupBy().count())
    }

    // co-purchase edge-build STAGE decomposition (pass "edges2"):
    // where does the build wall go — the groupBy(o) shuffle, the pair
    // explode, or the final distinct (round-12 verdict item 3)?
    if (args.lift(1).contains("edges2")) {
      def noop(df: org.apache.spark.sql.DataFrame): Unit =
        df.write.format("noop").mode("overwrite").save()
      val op = li.select(col("l_orderkey").as("o"), col("l_partkey").as("p"))
      def grouped = op.groupBy("o").agg(expr("array_sort(collect_set(p))").as("ps"))
      def pairs = grouped
        .select(posexplode(col("ps")).as(Seq("i", "u")), col("ps"))
        .select(col("u"), explode(expr("slice(ps, i + 2, size(ps) - i - 1)")).as("v"))
      (1 to 3).foreach { i =>
        time(f"edges2 A groupBy+collect_set run$i")(noop(grouped))
        time(f"edges2 B A+pair explode run$i")(noop(pairs))
        time(f"edges2 C B+distinct run$i")(noop(pairs.distinct()))
      }
      println(s"[profile] edges2 rows: grouped=${grouped.count()} " +
        s"pairs=${pairs.count()} distinct=${pairs.distinct().count()}")
    }

    // star-contraction A/B (pass "ccstar"): the round-13 parked-star
    // loop vs an inline copy of the round-12 loop (full-edge-set star
    // rounds + except-probe convergence), on a planted distributed-
    // scale graph — one deep chain (the log-round tail) + a large mass
    // of small clusters (the near-dup shape that parking retires in
    // round one). Forced distributed via localLimit=0.
    if (args.lift(1).contains("ccstar")) {
      import org.apache.spark.sql.DataFrame
      def legacyStar(pairs: DataFrame, maxIter: Int = 20): DataFrame = {
        val half = pairs.select(col("a").cast("long").as("u"), col("b").cast("long").as("v"))
        val nodes = half.select(col("u").as("node"))
          .union(half.select(col("v").as("node")))
          .distinct().localCheckpoint(true)
        var edges = half.union(half.select(col("v").as("u"), col("u").as("v")))
          .filter(col("u") =!= col("v")).distinct().localCheckpoint(true)
        def star(e: DataFrame, large: Boolean): DataFrame = {
          val m = e.groupBy("u").agg(min("v").as("__mv"))
            .select(col("u"), least(col("u"), col("__mv")).as("__m"))
          val kept = e.join(m, "u")
            .filter(if (large) col("v") > col("u") else col("v") < col("u"))
            .select(col("v").as("u"), col("__m").as("v"))
          val selfLink = m.select(col("u"), col("__m").as("v"))
          val out = kept.union(selfLink).filter(col("u") =!= col("v"))
          out.union(out.select(col("v").as("u"), col("u").as("v"))).distinct()
        }
        var iter = 0
        var converged = false
        while (!converged && iter < maxIter) {
          val next = star(star(edges, large = true), large = false).localCheckpoint(true)
          val diff = next.except(edges).union(edges.except(next)).limit(1).count()
          edges = next
          converged = diff == 0L
          iter += 1
        }
        val lbl = edges.groupBy(col("u").as("node")).agg(min("v").as("__mv"))
        nodes.join(lbl, Seq("node"), "left")
          .select(col("node"),
            least(col("node"), coalesce(col("__mv"), col("node"))).as("cluster_id"))
      }
      val chainN = args.lift(2).map(_.toLong).getOrElse(200000L)
      val pairN = args.lift(3).map(_.toLong).getOrElse(300000L)
      val chain = spark.range(0L, chainN - 1)
        .select(col("id").as("a"), (col("id") + 1L).as("b"))
      val pairsDf = spark.range(0L, pairN)
        .select((col("id") * 2 + 1000000L).as("a"), (col("id") * 2 + 1000001L).as("b"))
      val graph = chain.unionAll(pairsDf).repartition(32).localCheckpoint(true)
      println(s"[profile] ccstar graph edges=${graph.count()}")
      spark.conf.set("spark.graft.cc.localLimit", "0")
      try {
        (1 to 2).foreach { i =>
          time(f"ccstar legacy run$i")(
            legacyStar(graph).agg(count(lit(1)), sum("cluster_id")).collect())
          val t0 = System.nanoTime()
          val (out, rounds, sizes) = graft.operators.Dedup
            .connectedComponentsStarCounted(graph, "a", "b")
          out.agg(count(lit(1)), sum("cluster_id")).collect()
          println(f"[profile] ccstar parked run$i%-26s ${(System.nanoTime() - t0) / 1e9}%.3f s rounds=$rounds sizes=${sizes.mkString(",")}")
        }
      } finally spark.conf.unset("spark.graft.cc.localLimit")
    }

    // q350 stage decomposition (pass "q350" as args(1)): minhash
    // banding vs candidate pairs vs star CC vs gram-quality scoring
    if (args.lift(1).contains("q350")) {
      import graft.operators.Dedup
      val docs = spark.read.parquet(s"$sfDir/documents.parquet")
      docs.count() // warm scan
      val bands = time("q350 minhashBands")(
        Dedup.minhashBands(docs, "doc_id", "text").localCheckpoint())
      val pairs = time("q350 candidatePairs")(
        Dedup.minhashCandidatePairs(bands, "doc_id").localCheckpoint())
      println(s"[profile] q350 pairs=${pairs.count()}")
      val comp = time("q350 starCC")(
        Dedup.connectedComponentsStar(pairs, "doc_id_a", "doc_id_b")
          .localCheckpoint())
      println(s"[profile] q350 nodes=${comp.count()}")
      time("q350 gramStats")(
        graft.queries.Training.gramStats(docs)
          .write.format("noop").mode("overwrite").save())
    }

    // q208 stage decomposition (pass "q208" as args(1)): where does the
    // prefix-filter join's wall go — per-row hashing, the prefix
    // self-join, or candidate verification?
    if (args.lift(1).contains("q208")) {
      import graft.operators.{Dedup, TextOps}
      val docs0 = spark.read.parquet(s"$sfDir/documents.parquet")
        .withColumn("__wh", expr(TextOps.wordHashesSpark("text")))
        .select(col("doc_id"),
          expr(TextOps.ngramHashesSpark(3, "__wh")).as("__ngrams"))
        .cache()
      time("q208 hash+cache build")(docs0.count())
      val cp = time("q208 cappedPostings probe")(
        Dedup.cappedPostings(docs0, "doc_id", "__ngrams", dfCap = 64))
      val prefix = docs0.select(col("doc_id"), explode(expr(
        """slice(array_sort(__ngrams), 1,
           size(__ngrams) - ((4 * size(__ngrams) + 4) div 5) + 1)"""))
        .as("h"))
      time("q208 prefix explode count")(prefix.count())
      val cand = prefix.as("a")
        .join(prefix.as("b"),
          col("a.h") === col("b.h") && col("a.doc_id") < col("b.doc_id"))
        .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
        .distinct()
      val candCk = time("q208 prefix self-join + distinct")(cand.localCheckpoint())
      println(s"[profile] q208 candidates: ${candCk.count()}")
      val candIds = candCk.select(col("doc_a").as("doc_id"))
        .unionAll(candCk.select(col("doc_b").as("doc_id"))).distinct()
      val exCand = cp.postings.join(candIds, Seq("doc_id"), "left_semi")
      val inter = candCk
        .join(exCand.select(col("doc_id").as("doc_a"), col("h")), "doc_a")
        .join(exCand.select(col("doc_id").as("doc_b"), col("h")),
          Seq("doc_b", "h"))
        .groupBy("doc_a", "doc_b").agg(count(lit(1)).as("c"))
      time("q208 verify join")(inter.count())
      cp.release()
      docs0.unpersist()
    }
    spark.stop()
  }
}
