package graft

import org.apache.spark.sql.SparkSession

import java.util.concurrent.{ConcurrentHashMap, ExecutionException, ExecutorCompletionService,
  Executors, TimeUnit, TimeoutException}
import scala.util.control.NonFatal

/** Independent chains of named steps, run concurrently on a thread
  * pool with one thread per chain, to overlap independent jobs. A
  * chain's planning, codegen and one-task jobs leave most of local[N]
  * idle, and Spark's FIFO scheduler backfills those cores with the
  * other chains' tasks. The release build runs its stages this way,
  * the harness families warm their shared frames this way.
  */
object Chains {

  /** A step: its name (a pipeline stage, a shared frame) and its work. */
  type Step = (String, () => Any)

  /** Runs each chain's steps in order, all chains at once, and returns
    * when every step has finished. The first failure cancels the
    * siblings' Spark jobs (one job group tags every pool thread),
    * interrupts their threads and leaves as an exception naming the
    * failed step. Each finished step logs its name and time to stderr.
    */
  def run(spark: SparkSession, chains: Seq[Seq[Step]]): Unit = {
    val sc = spark.sparkContext
    val group = s"graft-chains-${java.util.UUID.randomUUID()}"
    val pending = ConcurrentHashMap.newKeySet[String]()
    chains.flatten.foreach(step => pending.add(step._1))
    val steps = pending.size
    val t0 = System.nanoTime()
    val pool = Executors.newFixedThreadPool(chains.size)
    try {
      val finished = new ExecutorCompletionService[Unit](pool)
      chains.foreach(chain => finished.submit(() => chain.foreach { case (name, work) =>
        // job groups are thread-local, so each pool thread tags itself
        sc.setJobGroup(group, name, interruptOnCancel = true)
        try work()
        catch { case NonFatal(e) => throw new RuntimeException(s"$name failed: $e", e) }
        pending.remove(name)
        System.err.println(f"[chains] $name done (${steps - pending.size}/$steps, " +
          f"${(System.nanoTime() - t0) / 1e9}%.2f s in)")
      }))
      // a BOUNDED wait: a wedged chain once hung a whole census
      // silently. 30 min is ~100x any measured build, so hitting it
      // means something is stuck; the error names the steps that never
      // finished.
      val deadline = t0 + TimeUnit.MINUTES.toNanos(30)
      try chains.foreach { _ =>
        val next = finished.poll(deadline - System.nanoTime(), TimeUnit.NANOSECONDS)
        if (next == null) throw new TimeoutException(
          s"chains still running after 30 min: ${String.join(", ", pending)}")
        try next.get() catch { case e: ExecutionException => throw e.getCause }
      } catch { case e: Throwable =>
        // fail fast AND stop the siblings: their stray Spark jobs must
        // not overlap whatever the caller runs next
        sc.cancelJobGroup(group)
        pool.shutdownNow()
        throw e
      }
    } finally pool.shutdown()
  }
}
