package graft

/** Plan inspection tool: prints `.explain("formatted")` for the named
  * queries (default: a representative set) at sf0.01 to stdout; Spark's
  * logs go to stderr. To time one query, run
  * `SPARK_GRAFT_BENCH_ONLY=<name> runMain graft.Bench`.
  */
object Profile {
  def main(args: Array[String]): Unit = {
    val spark = GraftSession.local()
    val dir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")
    val names = if (args.nonEmpty) args.toSeq
      else Seq("q1_pricing_summary", "r2_left_join", "k1_state_machine", "sim_brute_topk")
    names.foreach { n =>
      println(s"===== $n =====")
      SparkEntry.queries(n)(spark, dir).explain("formatted")
    }
    spark.stop()
  }
}
