package graft.streaming

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.streaming.{DataStreamWriter, StreamingQuery,
  StreamingQueryProgress, Trigger}

/** Run-to-completion drains of a streaming frame — the Spark-native
  * analogue of the reference's `.load`/`.done` sentinel handoff between
  * export and index tasks (interpro/elastic/export.py:44-67). Every
  * drain is a named query (a failure's message carries
  * `Identifier: <name> [id = …]`) with an explicit checkpoint dir and the
  * AvailableNow trigger, and a `finally` forgets the terminated query
  * (and drops a memory sink's view), so a failed drain leaks no pinned
  * sink into a shared session. One entry point per sink shape: memory,
  * parquet files, and `foreachBatch` appending parquet.
  */
object Drain {

  /** The child session drains run on: stateful operators make one state
    * store per shuffle partition, and at drain scale 8 stores beat 32
    * (~2x on the dedup). `newSession()` scopes that conf to the drains
    * (same SparkContext, cache and extensions), so a concurrent query on
    * the parent never sees a mutated `spark.sql.shuffle.partitions`. One
    * child per parent: each `newSession()` rebuilds a full SessionState,
    * and drains run one at a time and leave no state behind.
    */
  private val childSessions =
    new java.util.concurrent.ConcurrentHashMap[SparkSession, SparkSession]()
  private[graft] def streamSession(s: SparkSession): SparkSession =
    childSessions.computeIfAbsent(s, parent => {
      val child = parent.newSession()
      child.conf.set("spark.sql.shuffle.partitions", "8")
      child
    })

  // one shutdown hook draining a shared queue — registering a hook per
  // drainDir call would accumulate unbounded hook threads in a
  // long-lived session (WarmBench loops the same streaming query N
  // times; bench+verify reruns), each pinning its temp path
  private val drainDirs =
    new java.util.concurrent.ConcurrentLinkedQueue[String]()
  private def rm(f: java.io.File): Unit = {
    Option(f.listFiles).foreach(_.foreach(rm)); f.delete(): Unit
  }
  locally {
    Runtime.getRuntime.addShutdownHook(new Thread(() => {
      var p = drainDirs.poll()
      while (p != null) { rm(new java.io.File(p)); p = drainDirs.poll() }
    }))
  }

  /** Temp directory for a drain's output (result data + checkpoint),
    * deleted recursively on JVM exit: drain results can be large, so
    * leaving every invocation's output in /tmp would fill the disk
    * across repeated bench/verify runs.
    */
  private[graft] def drainDir(prefix: String): String = {
    val dir = java.nio.file.Files.createTempDirectory(prefix).toString
    drainDirs.add(dir)
    dir
  }

  /** Hand the drained memory-sink table back to the PARENT session and
    * drop the child's temp view: the sink's rows are already
    * driver-resident, so this copies once and then frees the sink —
    * without it every drain in a long-lived JVM leaks a full table
    * copy inside its child session.
    */
  private[graft] def drained(parent: SparkSession, sess: SparkSession,
                             name: String): DataFrame = {
    val t = sess.table(name)
    val out = parent.createDataFrame(
      java.util.Arrays.asList(t.collect(): _*), t.schema)
    sess.catalog.dropTempView(name)
    out
  }

  /** Drain `stream` into a memory sink (`outputMode` complete or append)
    * and return its rows on `parent`. The checkpoint dir goes when the
    * drain ends, as Spark's own temporary one would.
    */
  def memory(parent: SparkSession, name: String, stream: DataFrame,
             outputMode: String): DataFrame = {
    val sess = stream.sparkSession
    val ckpt = java.nio.file.Files.createTempDirectory(s"graft-$name-").toString
    try {
      run(name, stream, ckpt)(_.format("memory").outputMode(outputMode))
      drained(parent, sess, name)
    } finally {
      sess.catalog.dropTempView(name)
      rm(new java.io.File(ckpt))
    }
  }

  /** Drain `stream` in append mode into parquet files under a fresh
    * drain dir and return them read back on `parent`. */
  def parquet(parent: SparkSession, name: String, stream: DataFrame): DataFrame = {
    val dir = drainDir(s"graft-$name-")
    parquet(parent, name, stream, s"$dir/data", s"$dir/ckpt")
  }

  /** Drain `stream` in append mode into parquet files at `dataDir`,
    * checkpointing at `ckptDir` (a restart from the same checkpoint
    * resumes where the last drain stopped), and return the files read
    * back on `parent`. */
  def parquet(parent: SparkSession, name: String, stream: DataFrame,
              dataDir: String, ckptDir: String): DataFrame = {
    toParquet(name, stream, dataDir, ckptDir)
    parent.read.parquet(dataDir)
  }

  /** The parquet drain without the read-back; returns the finished
    * query's progress reports (its state-store metrics among them). */
  def toParquet(name: String, stream: DataFrame, dataDir: String,
                ckptDir: String): Seq[StreamingQueryProgress] =
    run(name, stream, ckptDir)(
      _.format("parquet").option("path", dataDir).outputMode("append"))
      .recentProgress.toSeq

  /** Serve each non-empty micro-batch of `stream` through `serve`,
    * appending the results as parquet, and return them read back on
    * `parent`. */
  def foreachBatch(parent: SparkSession, name: String, stream: DataFrame)(
      serve: DataFrame => DataFrame): DataFrame = {
    val dir = drainDir(s"graft-$name-")
    foreachBatch(parent, name, stream, s"$dir/data", s"$dir/ckpt")(serve)
  }

  def foreachBatch(parent: SparkSession, name: String, stream: DataFrame,
                   dataDir: String, ckptDir: String)(
      serve: DataFrame => DataFrame): DataFrame = {
    run(name, stream, ckptDir)(_.foreachBatch { (batch: DataFrame, _: Long) =>
      if (!batch.isEmpty) serve(batch).write.mode("append").parquet(dataDir)
      ()
    })
    parent.read.parquet(dataDir)
  }

  /** The one run path: start named, checkpointed and AvailableNow, wait
    * for the end, and forget the terminated query whatever happened. */
  private def run(name: String, stream: DataFrame, ckptDir: String)(
      sink: DataStreamWriter[Row] => DataStreamWriter[Row]): StreamingQuery = {
    val sess = stream.sparkSession
    try {
      val q = sink(stream.writeStream).queryName(name)
        .option("checkpointLocation", ckptDir)
        .trigger(Trigger.AvailableNow()).start()
      q.awaitTermination()
      q
    } finally sess.streams.resetTerminated()
  }
}
