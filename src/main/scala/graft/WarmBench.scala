package graft

/** Steady-state micro-benchmark: runs each named query N times in one
  * session and prints every run. The first run absorbs codegen/JIT and
  * broadcast machinery; later runs are the number a long-lived cluster
  * session would see — the driver's Bench measures each query exactly
  * once, so run-order JIT artifacts show up there as per-query noise
  * that this tool separates from real plan cost.
  *
  * Usage: tools/run.sh graft.WarmBench <sfDir> <query> [query ...]
  *        (SPARK_GRAFT_RUNS to change the per-query run count). Extra
  *        session confs ride in as `spark.*` JVM system properties,
  *        which Spark copies into the session conf, e.g. the
  *        group-bound scaling drill:
  *        JAVA_TOOL_OPTIONS=-Dspark.graft.treeEntries=4096 \
  *          SPARK_GRAFT_DRILL=1 tools/run.sh graft.WarmBench <sfDir> agg_tree_ranks
  */
object WarmBench {
  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val runs = sys.env.getOrElse("SPARK_GRAFT_RUNS", "3").toInt
    val spark = SparkLocal.session(sfDir)
    for (q <- args.drop(1); i <- 1 to runs) {
      val t0 = System.nanoTime()
      val rows = SparkEntry.queries(q)(spark, sfDir).count()
      println(f"$q run$i ${(System.nanoTime() - t0) / 1e9}%.2f s rows=$rows")
      // without the sweep each run's localCheckpoint blocks linger, and
      // block-manager pressure turns repeat runs into a noise generator
      // (the exact artifact this tool exists to remove)
      Bench.sweepEphemeral(spark)
    }
    spark.stop()
  }
}
