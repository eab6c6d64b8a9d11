package graft

/** Plan-capture main: for each named query, print the optimized logical
  * plan, then EXECUTE the real plan (`toRdd.count()` — Bench's timing
  * action) and print the AQE FINAL physical plan, which is the only plan
  * that shows what actually ran (skew splits, coalesced widths, runtime
  * join demotions). Built for the r14 #5 q18-noise investigation and the
  * d9e width attribution; general-purpose since plan questions recur
  * every round.
  *
  * Usage: runMain graft.Explain <q1,q2,...> <dir> [runs]
  *   SPARK_GRAFT_CPUS — core count (default 32)
  *   runs > 1 re-executes and prints the final plan per run, so an
  *   AQE-decision flip between runs becomes visible as a plan diff.
  */
object Explain {
  def main(args: Array[String]): Unit = {
    val names = args.headOption.map(_.split(",").map(_.trim).filter(_.nonEmpty).toSeq)
      .getOrElse(sys.error("usage: Explain <q1,q2,...> <dir> [runs]"))
    val dir = args.lift(1).getOrElse("/root/testdata/sf0.1")
    val runs = args.lift(2).flatMap(_.toIntOption).getOrElse(1)
    val spark = Session.get(sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt)
    names.foreach { name =>
      (1 to runs).foreach { r =>
        val df = SparkEntry.queries(name)(spark, dir)
        if (r == 1) {
          println(s"\n######## $name — optimized logical plan ########")
          println(df.queryExecution.optimizedPlan.toString)
          // the optimization rounds' judge artifact: explain("formatted")
          // (operator list + details: PushedFilters/ReadSchema, join
          // strategy and build side, exchange partitioning)
          println(s"\n######## $name — explain(formatted) ########")
          println(df.queryExecution.explainString(
            org.apache.spark.sql.execution.FormattedMode))
        }
        val t0 = System.nanoTime()
        val n = df.queryExecution.toRdd.count()
        val wall = (System.nanoTime() - t0) / 1e9
        println(f"\n######## $name run $r — $n rows, $wall%.2f s — AQE final plan ########")
        println(df.queryExecution.executedPlan.toString)
      }
    }
    spark.stop()
  }
}
