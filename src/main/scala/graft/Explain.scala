package graft

/** Plan-inspection utility: prints the formatted physical plan of the
  * named queries (or a default set) at a given sf dir. Used to audit
  * pushdown (`PushedFilters`), column pruning (`ReadSchema`),
  * broadcast-join selection and WholeStageCodegen coverage.
  *
  * Usage: runMain graft.Explain [sfDir] [query ...]
  */
object Explain {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.01")
    val names = if (args.length > 1) args.drop(1).toSeq
      else Seq("q1_agg", "q3_topk", "q5_join", "oct_pyramid", "dedup_minhash", "sim_lsh_topk")
    // the same core count as Bench and Verify, so all three plan alike
    val spark = GraftSession("graft-explain", sys.env.getOrElse("SPARK_GRAFT_CPUS", "4").toInt)
    names.foreach { n =>
      println(s"\n================ $n ================")
      println(SparkEntry.queries(n)(spark, sfDir).queryExecution.explainString(
        org.apache.spark.sql.execution.FormattedMode))
    }
    spark.stop()
  }
}
