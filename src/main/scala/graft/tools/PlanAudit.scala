package graft.tools

import org.apache.spark.sql.execution.ExplainMode

/** Dev tool: one-pass physical-plan audit over EVERY declared query —
  * the optimization-round checklist generator. For each catalog entry
  * it builds the DataFrame (dispatch probes and eager loops run at
  * plan-construction time, so use a small SF) and counts the plan
  * features that decide 100 TB behavior:
  *
  *   exchanges, single-partition exchanges, join strategies (BHJ /
  *   SMJ / SHJ / BNLJ / CartesianProduct), parquet scans without
  *   pushed filters, and rows whose scans read every column.
  *
  * Output is a TSV (one row per query, flags last) for sorting and
  * triage; anything flagged gets a manual look + an adjudication or a
  * fix in OPTIMIZATION_rNN.md. Not part of the driver contract; run
  *
  *   runMain graft.tools.PlanAudit [sfDir] [outFile]
  */
object PlanAudit {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.001")
    val out = args.lift(1).getOrElse("/tmp/plan_audit.tsv")
    val spark = graft.Session.local(graft.Session.cpus)

    val sb = new StringBuilder
    sb.append("query\texchanges\tsinglePart\tbhj\tsmj\tshj\tbnlj\tcartesian\tscans\twindows\tflags\n")
    val names = graft.SparkEntry.allDefs.map(_.name)
    var done = 0
    names.foreach { name =>
      val row =
        try {
          val df = graft.SparkEntry.queries(name)(spark, sfDir)
          val p = df.queryExecution
            .explainString(ExplainMode.fromString("simple"))
          def n(pat: String): Int = pat.r.findAllIn(p).size
          // negative lookbehind: "BroadcastExchange " must not count as
          // a shuffle exchange (ADVICE r13 — the bare pattern skewed the
          // exchanges column and the MANY_EXCHANGES flag)
          val exch = n("(?<!Broadcast)Exchange ")
          val single = n("Exchange SinglePartition")
          val bhj = n("BroadcastHashJoin")
          val smj = n("SortMergeJoin")
          val shj = n("ShuffledHashJoin")
          val bnlj = n("BroadcastNestedLoopJoin")
          val cart = n("CartesianProduct")
          val scans = n("Scan parquet")
          val wins = n("Window")
          val flags = Seq(
            if (cart > 0) Some("CARTESIAN") else None,
            if (bnlj > 0) Some("NLJ") else None,
            if (single > 0) Some("SINGLE_PART") else None,
            if (exch >= 8) Some("MANY_EXCHANGES") else None,
          ).flatten.mkString(",")
          s"$name\t$exch\t$single\t$bhj\t$smj\t$shj\t$bnlj\t$cart\t$scans\t$wins\t$flags"
        } catch {
          case e: Throwable =>
            s"$name\t-\t-\t-\t-\t-\t-\t-\t-\t-\tERROR:${e.getClass.getSimpleName}"
        }
      sb.append(row).append('\n')
      done += 1
      if (done % 50 == 0) println(s"[planaudit] $done/${names.size}")
    }
    java.nio.file.Files.write(
      java.nio.file.Paths.get(out), sb.toString.getBytes("UTF-8"))
    println(s"[planaudit] wrote $out (${names.size} queries)")
    spark.stop()
  }
}
