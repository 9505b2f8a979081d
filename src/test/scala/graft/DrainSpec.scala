package graft

import graft.streaming.Drain
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQueryException

/** The one drain path (graft.streaming.Drain): a failed drain names
  * itself and leaves nothing behind in the shared child session — no
  * active query, no terminated query pinning its sink, no memory-sink
  * view — and a successful memory drain leaves no checkpoint dir.
  */
class DrainSpec extends SparkSpec {

  // a one-file parquet inbox of five rows
  private lazy val inbox: String = {
    val dir = java.nio.file.Files.createTempDirectory("graft-drain-inbox")
      .resolve("in").toString
    spark.range(5).toDF("id").coalesce(1).write.parquet(dir)
    dir
  }
  private def ids(sess: SparkSession): DataFrame =
    sess.readStream.schema("id LONG").parquet(inbox)
  private val boom = udf((x: Long) =>
    if (x >= 0) throw new IllegalStateException("boom") else x)

  /** The drain throws, its message names it, and the session it ran on
    * holds no active or terminated query afterwards. */
  private def failsClean(sess: SparkSession, name: String)(drain: => Any): Unit = {
    val e = intercept[StreamingQueryException](drain)
    assert(e.getMessage.contains(s"Identifier: $name [id = "),
      s"the failure does not name $name: ${e.getMessage}")
    assert(sess.streams.active.isEmpty)
    // a remembered terminated query would return (or rethrow) at once
    assert(!sess.streams.awaitAnyTermination(10))
  }

  test("a failing memory drain and a failing foreachBatch drain each name the drain") {
    val sess = Drain.streamSession(spark)
    failsClean(sess, "drainspec_memory_fail") {
      Drain.memory(spark, "drainspec_memory_fail",
        ids(sess).select(boom(col("id")).as("id")), "append")
    }
    failsClean(sess, "drainspec_batch_fail") {
      Drain.foreachBatch(spark, "drainspec_batch_fail", ids(sess))(batch =>
        throw new IllegalStateException(s"boom ${batch.count()}"))
    }
  }

  test("a failed drain leaves no query, no terminated query and no sink view") {
    val sess = Drain.streamSession(spark)
    failsClean(sess, "drainspec_leak") {
      Drain.memory(spark, "drainspec_leak",
        ids(sess).groupBy().agg(sum(boom(col("id"))).as("s")), "complete")
    }
    assert(!sess.catalog.tableExists("drainspec_leak"),
      "the failed memory drain left its sink view behind")
    // the shared session stays usable: the same name drains again
    val out = Drain.memory(spark, "drainspec_leak", ids(sess), "append")
    assert(out.count() === 5)
    assert(!sess.catalog.tableExists("drainspec_leak"))
  }

  test("a successful memory drain leaves no checkpoint dir behind") {
    val tmp = new java.io.File(System.getProperty("java.io.tmpdir"))
    def left(): Set[String] = tmp.list().toSet.filter(n =>
      n.startsWith("graft-drainspec_ok-") || n.startsWith("temporary-"))
    val before = left()
    val out = Drain.memory(spark, "drainspec_ok", ids(Drain.streamSession(spark)),
      "append")
    assert(out.sparkSession eq spark)
    assert(out.count() === 5)
    assert(left() -- before === Set.empty)
  }
}
