package graft

/** Physical-plan audit: print `explain(formatted)` for the named
  * queries (all when no names given) so scan pruning / pushdown /
  * join strategy / codegen spans can be reviewed per operator. Plans
  * under the same session confs Bench times.
  * Usage: PlanAudit <sfDir> [query ...]
  */
object PlanAudit {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.001")
    val only = args.drop(1).toSet
    val spark = SparkLocal.session(sfDir)
    SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (n, _) => only.isEmpty || only(n) }
      .foreach { case (name, fn) =>
        println(s"\n===== $name =====")
        try fn(spark, sfDir).explain("formatted")
        catch { case e: Throwable => println(s"[plan failed] ${e.getMessage}") }
      }
    spark.stop()
  }
}
