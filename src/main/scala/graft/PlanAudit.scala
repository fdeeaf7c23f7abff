package graft

/** Dev tool: dump the physical plan of each named query (or all headline
  * ones) so pushdown / pruning / join strategy can be audited.
  *
  * `SPARK_GRAFT_PLAN_OUT=<dir>[:<suffix>]` additionally writes each
  * query's FULL `explain("formatted")` output to
  * `<dir>/<name>_<suffix>.txt` (suffix defaults to `plan`) — the
  * round-18 optimization evidence files (plans/r18/<q>_before|after.txt). */
object PlanAudit {
  def main(args: Array[String]): Unit = {
    val sfDir = if (args.length > 1) args(1) else "/root/testdata/sf0.01"
    val names = if (args.nonEmpty) args(0).split(",").toSet else Set.empty[String]
    val out = sys.env.get("SPARK_GRAFT_PLAN_OUT").map { v =>
      val parts = v.split(":")
      (parts(0), if (parts.length > 1) parts(1) else "plan")
    }
    out.foreach { case (dir, _) => new java.io.File(dir).mkdirs() }
    val spark = SessionDefaults.local()
    spark.sparkContext.setLogLevel("ERROR")
    SparkEntry.allQueries
      .filter(q => names.isEmpty || names(q.name))
      .foreach { q =>
        println(s"\n===== ${q.name} =====")
        try {
          val df = q.run(spark, sfDir)
          out match {
            case Some((dir, suffix)) =>
              val formatted = df.queryExecution.explainString(
                org.apache.spark.sql.execution.FormattedMode)
              val w = new java.io.PrintWriter(s"$dir/${q.name}_$suffix.txt")
              try w.println(formatted) finally w.close()
              println(s"wrote $dir/${q.name}_$suffix.txt")
            case None =>
              println(df.queryExecution.executedPlan.toString.take(4000))
          }
        } catch { case e: Throwable => println(s"ERROR: ${e.getMessage}") }
      }
    spark.stop()
  }
}
