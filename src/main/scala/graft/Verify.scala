package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir, rest @ _*) = args
    val only = rest.toSet // optional query-name filter for local iteration
    // SPARK_GRAFT_MASTER=local-cluster[3,4,2048] runs the whole gate on
    // a real multi-process mini-cluster (the ExecutorLossDrill posture):
    // every query then proves itself over genuine cross-process shuffle
    // fetches and executor-side classloading, not one shared JVM
    val spark = SparkLocal.session(sfDir, sys.env.get("SPARK_GRAFT_MASTER"))
    new java.io.File(outDir).mkdirs()
    // family-by-family with shared-frame release between families —
    // same discipline as Bench (see SharedFrames.release)
    SparkEntry.modules.foreach { case (_, qs, _) =>
      qs.toSeq.sortBy(_._1)
        .filter { case (name, _) => only.isEmpty || only(name) }
        .foreach { case (name, fn) =>
        try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
          .parquet(s"$outDir/$name")
        catch { case e: Throwable =>
          System.err.println(s"[verify] $name failed: ${e.getMessage}")
          // a throwing query must FAIL the gate, never vanish from it:
          // an absent output dir reads as "query removed" to the
          // checker, so leave an _ERROR marker the checker counts as a
          // hard failure (mode=overwrite on the next successful run
          // clears the dir)
          val dir = Paths.get(outDir, name)
          Files.createDirectories(dir)
          Files.writeString(dir.resolve("_ERROR"),
            s"${e.getClass.getName}: ${e.getMessage}\n")
        }
      }
      graft.harness.SharedFrames.release(spark)
    }
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
  }
}
