package graft.tools


/** Plan-audit helper: `runMain graft.tools.Explain <query> [sfDir]`
  * prints the formatted physical plan of one harness query — the
  * fastest way to eyeball pushdown (`PushedFilters`/`ReadSchema`),
  * codegen spans, and exchange placement after a change. */
object Explain {
  def main(args: Array[String]): Unit = {
    val name = args.headOption.getOrElse(sys.error("usage: Explain <query> [sfDir]"))
    val sfDir = args.lift(1).getOrElse("/root/testdata/sf0.01")
    // SPARK_GRAFT_CPUS lets a plan audit reproduce the bench session's
    // width-dependent nodes (a REPARTITION hint spreads at the session's
    // defaultParallelism)
    val cores = sys.env.get("SPARK_GRAFT_CPUS").map(_.toInt).getOrElse(4)
    val spark = ToolSession.local(cores)
    val df = graft.SparkEntry.queries(name)(spark, sfDir)
    // formatted plan first: pushdown detail (ReadSchema/PushedFilters)
    df.explain("formatted")
    // then EXECUTE and print the finalized plan — AQE only renders
    // codegen spans (*(n)) and settled exchange placement after a run
    df.write.mode("overwrite").format("noop").save()
    println("=== finalized plan (post-execution, AQE settled) ===")
    println(df.queryExecution.executedPlan.toString)
    spark.stop()
  }
}
