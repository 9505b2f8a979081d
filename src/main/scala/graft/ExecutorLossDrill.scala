package graft

import org.apache.spark.TaskContext
import org.apache.spark.scheduler.{SparkListener, SparkListenerExecutorRemoved}
import org.apache.spark.sql.{DataFrame, Encoders}
import org.apache.spark.sql.functions._

/** Executor-loss drill on a REAL multi-process mini-cluster —
  * RetryDrill's sibling for the failure mode single-JVM local mode can
  * never produce: an executor process dies mid-job, its finished
  * shuffle map outputs vanish with it, surviving reduce tasks hit
  * FetchFailed, and the DAGScheduler must resubmit the lost map
  * partitions and converge on the same answer.
  *
  * Runs on `local-cluster[3,4,2048]`: three genuine executor JVMs off
  * the installed distribution (/opt/spark), so cross-process shuffle
  * fetches, executor-side classloading of the app classes, and the
  * DSv2 commit path all run for real. Each drill plants a killer in a
  * post-shuffle stage: the FIRST task to claim a marker file halts its
  * whole executor JVM (Runtime.halt — no shutdown hooks, the process
  * just disappears, taking the shuffle files its earlier map tasks
  * wrote). Order-insensitive fingerprints (count + Σ xxhash64) must
  * match a clean run, and a listener must have observed at least one
  * executor removal — a drill where nothing died fails.
  *
  * (Speculation itself is structurally undrillable below a real
  * multi-HOST cluster: local[N] never starts the speculation thread,
  * and a speculative attempt is never scheduled on the host already
  * running the original — on one machine that excludes everywhere.
  * The duplicate-attempt safety it needs is the same per-task
  * determinism RetryDrill proves plus the DSv2 commit coordinator
  * this drill exercises; the JDBC sink documents itself as
  * speculation-unsafe like Spark's own.)
  *
  * Usage: SPARK_HOME=/opt/spark SPARK_SCALA_VERSION=2.13 \
  *          tools/run.sh graft.ExecutorLossDrill [sfDir]
  */
object ExecutorLossDrill {

  /** Identity transform whose first-to-arrive task halts its executor:
    * the marker file (one per drill, on the shared host tmp) makes the
    * kill exactly-once across processes and stage resubmissions.
    */
  private def killer(df: DataFrame, markerPath: String): DataFrame = {
    val enc = Encoders.row(df.schema)
    df.mapPartitions { it =>
      val tc = TaskContext.get()
      // only executor processes die; task retries and resubmitted
      // stages see the marker and pass through
      if (tc != null && new java.io.File(markerPath).createNewFile()) {
        System.err.println(s"[drill] halting executor on partition ${tc.partitionId()}")
        Runtime.getRuntime.halt(99)
      }
      it
    }(enc)
  }

  private def marker(): String = {
    val f = java.io.File.createTempFile("graft-clusterdrill", ".marker")
    f.delete() // the drill's createNewFile is the claim
    f.getAbsolutePath
  }

  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.01")
    val spark = SparkLocal.session(sfDir, Some("local-cluster[3,4,2048]"),
      // AQE off: at drill scale its partition coalescing collapses the
      // loop frames to ONE block on ONE executor, making the
      // default-mode block-loss outcome a 1-in-3 coin flip instead of
      // deterministic (every executor must hold blocks so the first
      // kill always hits a holder)
      Seq("spark.sql.adaptive.enabled" -> "false"))
    val removed = new java.util.concurrent.atomic.AtomicLong
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onExecutorRemoved(e: SparkListenerExecutorRemoved): Unit =
        removed.incrementAndGet()
    })

    val lineitem = Tables.lineitem(spark, sfDir)
    val orders = Tables.orders(spark, sfDir)

    // drill 1 (FIRST, on the fresh cluster): an ITERATIVE loop (the pagerank/label-prop/BPE shape:
    // per-round lineage truncation via Loops.loopCheckpoint) with an
    // executor killed BETWEEN rounds. Default mode pins the measured
    // fragility — localCheckpoint blocks die with their executor and
    // the next round fails CHECKPOINT_RDD_BLOCK_ID_NOT_FOUND (reported,
    // not gated: it is the documented local-mode trade). Reliable mode
    // (spark.graft.reliableLoops=true) MUST survive the same kill and
    // converge bit-identically to the clean run.
    import graft.ops.Loops.LoopOps
    val edges = {
      val e = lineitem.select(col("l_suppkey").cast("long").as("src"),
        (lit(10000L) + col("l_partkey") % 100).as("dst")).distinct()
      e.unionByName(e.select(col("dst").as("src"), col("src").as("dst")))
    }
    def killOneExecutor(): Unit = {
      val mp = marker()
      import spark.implicits._
      try spark.range(0, 12).repartition(12).as[java.lang.Long]
        .mapPartitions { it =>
          if (new java.io.File(mp).createNewFile()) Runtime.getRuntime.halt(99)
          it
        }.count()
      catch { case _: Throwable => () } // the killer job itself may die with its executor
      Thread.sleep(2000) // let the master register the loss
    }
    def minLabelLoop(killBetweenRounds: Boolean): DataFrame = {
      var labels = edges.select(col("src").as("node")).distinct()
        .withColumn("label", col("node"))
        .repartition(12, col("node")).loopCheckpoint()
      for (i <- 1 to 3) {
        labels = edges.join(labels, edges("src") === labels("node"))
          .groupBy(col("dst")).agg(min(col("label")).as("nl"))
          .join(labels.select(col("node"), col("label")),
            col("dst") === col("node"))
          .select(col("node"), least(col("label"), col("nl")).as("label"))
          .loopCheckpoint()
        // kill TWO of the three executors. This drill runs FIRST so
        // all three fresh executors hold checkpoint blocks: the first
        // kill always hits a block holder, making the default-mode
        // block loss deterministic (later drills spawn block-less
        // replacement executors that a random kill can land on)
        if (killBetweenRounds && i == 1) { killOneExecutor(); killOneExecutor() }
      }
      labels
    }
    // Loops defaults to RELIABLE on any non-local master (this drill's
    // mini-cluster included) — pin each mode explicitly so the drill
    // measures both halves rather than the default
    spark.conf.set(graft.ops.Loops.ReliableConf, "false")
    val loopClean = Chains.fingerprint(minLabelLoop(killBetweenRounds = false))
    val localLoopFailure =
      try { Chains.fingerprint(minLabelLoop(killBetweenRounds = true)); "survived" }
      catch { case e: Throwable =>
        val m = String.valueOf(e.getMessage)
        if (m.contains("CHECKPOINT_RDD_BLOCK_ID_NOT_FOUND")) "ckpt_block_lost"
        else e.getClass.getSimpleName }
    spark.conf.set(graft.ops.Loops.ReliableConf, "true")
    val reliableKilled =
      try Some(Chains.fingerprint(minLabelLoop(killBetweenRounds = true)))
      catch { case e: Throwable =>
        System.err.println(s"[drill] reliable loop died: $e"); None }
    spark.conf.set(graft.ops.Loops.ReliableConf, "false")
    val loopOk = reliableKilled.contains(loopClean)

    // drill 2: kill an executor in the REDUCE stage of an agg → its
    // map outputs vanish → surviving reducers FetchFail → lost map
    // partitions resubmit → same answer
    def agg(wrap: DataFrame => DataFrame): DataFrame =
      wrap(lineitem.select(col("l_orderkey"), col("l_quantity"))
        .repartition(16, col("l_orderkey")))
        .groupBy(col("l_orderkey"))
        .agg(sum(col("l_quantity")).as("qty"), count(lit(1)).as("n"))
    val aggClean = Chains.fingerprint(agg(identity))
    val aggKilled = Chains.fingerprint(agg(killer(_, marker())))
    val aggRemoved = removed.get()

    // drill 3: kill an executor mid-DSv2-write → its in-flight
    // DataWriters die uncommitted, retried partitions rewrite, the
    // job-level truncate-commit keeps exactly the committed files
    val kvDir = java.nio.file.Files.createTempDirectory("graft-losskv").toString
    val kvIn = orders.select(col("o_orderkey").cast("string").as("k"),
      col("o_totalprice").cast("string").as("v"))
    killer(kvIn.repartition(16, col("k")), marker())
      .write.format("graftkv").option("bucketsize", 256).mode("append").save(kvDir)
    val kvBack = spark.read.format("graftkv").load(kvDir)
      .select(col("k"), col("v"))
    val kvOk = Chains.fingerprint(kvIn) == Chains.fingerprint(kvBack)

    val ok = aggClean == aggKilled && kvOk && loopOk && removed.get() >= 4
    System.err.println(s"agg clean=$aggClean killed=$aggKilled " +
      s"kv_in=${Chains.fingerprint(kvIn)} kv_back=${Chains.fingerprint(kvBack)} " +
      s"loop clean=$loopClean reliableKilled=$reliableKilled " +
      s"localLoop=$localLoopFailure removed=${removed.get()}")
    println(s"""{"tool":"executor_loss_drill","sf":"$sfDir",""" +
      s""""executors_removed":${removed.get()},""" +
      s""""agg_removed":$aggRemoved,""" +
      s""""agg":${if (aggClean == aggKilled) "\"match\"" else "\"MISMATCH\""},""" +
      s""""kv_write":${if (kvOk) "\"match\"" else "\"MISMATCH\""},""" +
      s""""local_loop_under_loss":"$localLoopFailure",""" +
      s""""reliable_loop_under_loss":${if (loopOk) "\"match\"" else "\"MISMATCH\""},""" +
      s""""ok":$ok}""")
    spark.stop()
    if (!ok) sys.exit(1)
  }
}
