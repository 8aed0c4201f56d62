package graft

/** Plan auditor: prints the formatted physical plan and the
  * `PlanAudit.violations` for the named queries (or a summary line for
  * all) so shuffle counts, pushed filters, scan schemas, broadcast
  * choices and the boundedness prover's verdict can be reviewed. */
object Explain {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")
    val spark = Session()
    val wanted = args.toSet
    val unknown = wanted -- Registry.all.map(_.name)
    require(unknown.isEmpty, s"unknown query names: ${unknown.toSeq.sorted.mkString(", ")}")
    Registry.all.filter(q => wanted.isEmpty || wanted(q.name)).foreach { q =>
      val df = q.run(spark, sfDir)
      val plan = df.queryExecution.executedPlan
      if (wanted.nonEmpty) {
        println(s"==== ${q.name} ====")
        println(df.queryExecution.explainString(
          org.apache.spark.sql.execution.FormattedMode))
        println(s"==== ${q.name} violations: ${PlanAudit.violations(df)}")
      } else {
        val s = plan.toString()
        def n(pat: String) = pat.r.findAllIn(s).size
        // codegen stages print as "*(i) Op" in the simple plan string;
        // count DISTINCT stage ids, not node occurrences
        val codegenStages =
          "\\*\\((\\d+)\\)".r.findAllMatchIn(s).map(_.group(1)).toSet.size
        // single-partition windows (empty partitionSpec) — acceptable
        // only on bounded inputs (top-k / digit / source tables);
        // anything corpus-sized here is a scale bug. PlanAudit.flatten
        // descends into the AQE wrapper — a bare plan.collect on an
        // AdaptiveSparkPlanExec sees NO children and silently counts 0
        // (the r1-r6 sweeps had exactly that blind spot).
        val globalWins = PlanAudit.flatten(plan).count {
          case w: org.apache.spark.sql.execution.window.WindowExec =>
            w.partitionSpec.isEmpty
          case w: org.apache.spark.sql.execution.window.WindowGroupLimitExec =>
            w.partitionSpec.isEmpty
          case _ => false
        }
        val audit = PlanAudit.violations(df)
        println(f"${q.name}%-28s exchanges=${n("Exchange")}%2d " +
          f"sorts=${n("(?m)^\\s*\\+?-? ?\\*?\\(?\\d*\\)? ?Sort ")}%2d " +
          f"bhj=${n("BroadcastHashJoin")}%2d smj=${n("SortMergeJoin")}%2d " +
          f"codegen=$codegenStages%2d scans=${n("FileScan|Scan parquet")}%2d " +
          f"globalwin=$globalWins%2d" +
          (if (audit.nonEmpty) s"  AUDIT: ${audit.distinct.mkString("; ")}" else ""))
      }
    }
    spark.stop()
  }
}
