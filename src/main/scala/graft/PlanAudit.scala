package graft

/** Diagnostic main: print the formatted physical plan and wall time for
  * selected SparkEntry queries. Usage:
  *   runMain graft.PlanAudit <sfDir> <queryName> [queryName...]
  * With no query names, audits every query (plans only — though ITERATIVE
  * operators like d6_components run their driver loop at construction, so
  * building their frame already executes jobs and the printed plan shows
  * the final checkpointed leaves, not the pipeline).
  *
  * SPARK_GRAFT_RUNS=N (default 1) times each named query N times and
  * diffs the FINAL adaptive plan between runs (ids normalized), the tool
  * for chasing plan flips / bimodal timings that a min-of-k bench hides —
  * `[PLAN CHANGED]` on a run means AQE genuinely re-shaped the plan.
  */
object PlanAudit {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.001")
    val names = if (args.length > 1) args.tail.toSeq else SparkEntry.queries.keys.toSeq.sorted
    val runs = math.max(1,
      sys.env.get("SPARK_GRAFT_RUNS").flatMap(_.trim.toIntOption).getOrElse(1))
    val spark = Session.get(sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt)
    // normalize per-execution id churn so a diff means a structural change
    def norm(plan: String): String = plan
      .replaceAll("#\\d+", "#N").replaceAll("plan_id=\\d+", "plan_id=N")
      .replaceAll("subquery\\d+", "subqueryN")
    for (name <- names) {
      val df = SparkEntry.queries(name)(spark, sfDir)
      println(s"\n=== $name ===")
      println(df.queryExecution.explainString(
        org.apache.spark.sql.execution.FormattedMode))
      if (args.length > 1) {
        var lastPlan = ""
        val times = (1 to runs).map { i =>
          System.gc()
          val run = SparkEntry.queries(name)(spark, sfDir)
          val t0 = System.nanoTime()
          val n = run.count()
          val dt = (System.nanoTime() - t0) / 1e9
          val plan = norm(run.queryExecution.executedPlan.toString)
          val changed = if (i > 1 && plan != lastPlan) "  [PLAN CHANGED]" else ""
          lastPlan = plan
          println(f"--- $name run $i: $n rows in $dt%.3f s$changed")
          dt
        }
        if (runs > 1)
          println(f"--- $name: min=${times.min}%.3f max=${times.max}%.3f " +
            f"spread=${times.max / times.min}%.2fx")
      }
    }
    spark.stop()
  }
}
