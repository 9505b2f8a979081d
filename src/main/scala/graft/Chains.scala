package graft

import org.apache.spark.sql.SparkSession

import java.util.concurrent.{ExecutionException, ExecutorCompletionService, Executors,
  TimeUnit, TimeoutException}
import scala.util.control.NonFatal

/** A DAG of named steps, each started on a thread pool as soon as the
  * steps it reads have finished, to overlap independent jobs. A step's
  * planning, codegen and one-task jobs leave most of local[N] idle, and
  * Spark's FIFO scheduler backfills those cores with the other steps'
  * tasks. The release and corpus builds run their stages this way, the
  * harness families warm their shared frames this way.
  */
object Chains {

  /** A step: its name (a pipeline stage, a shared frame), the names of
    * the steps whose output it reads, and its work.
    */
  final case class Step(name: String, after: Seq[String], work: () => Any)

  def step(name: String, after: String*)(work: => Any): Step = Step(name, after, () => work)

  /** Runs every step once all of its `after` steps have finished, and
    * returns when every step has finished. The first failure cancels
    * the running steps' Spark jobs (one job group tags every pool
    * thread), interrupts their threads, never starts a step that has
    * not started yet (so no dependent of a failed step runs) and
    * leaves as an exception naming the failed step. Each finished step
    * logs its name and time to stderr.
    */
  def run(spark: SparkSession, steps: Seq[Step]): Unit = {
    val names = steps.map(_.name)
    require(names.distinct.size == names.size, s"duplicate step names: ${names.mkString(", ")}")
    steps.foreach(s => s.after.foreach(a => require(names.contains(a),
      s"step ${s.name} reads undeclared step $a")))
    val sc = spark.sparkContext
    val group = s"graft-chains-${java.util.UUID.randomUUID()}"
    val t0 = System.nanoTime()
    val pool = Executors.newFixedThreadPool(math.max(1, steps.size))
    try {
      val finished = new ExecutorCompletionService[String](pool)
      var waiting = steps
      val running = scala.collection.mutable.Set.empty[String]
      val done = scala.collection.mutable.Set.empty[String]
      def startReady(): Unit = {
        val (ready, rest) = waiting.partition(_.after.forall(done))
        waiting = rest
        ready.foreach { st =>
          running += st.name
          finished.submit { () =>
            // job groups are thread-local, so each step tags its thread
            sc.setJobGroup(group, st.name, interruptOnCancel = true)
            try st.work()
            catch { case NonFatal(e) => throw new RuntimeException(s"${st.name} failed: $e", e) }
            st.name
          }
        }
      }
      // a BOUNDED wait: a wedged step once hung a whole census
      // silently. 30 min is ~100x any measured build, so hitting it
      // means something is stuck; the error names the steps that never
      // finished.
      val deadline = t0 + TimeUnit.MINUTES.toNanos(30)
      try {
        startReady()
        while (running.nonEmpty) {
          val next = finished.poll(deadline - System.nanoTime(), TimeUnit.NANOSECONDS)
          if (next == null) throw new TimeoutException("steps still running after 30 min: " +
            (running ++ waiting.map(_.name)).mkString(", "))
          val name = try next.get() catch { case e: ExecutionException => throw e.getCause }
          running -= name
          done += name
          System.err.println(f"[chains] $name done (${done.size}/${steps.size}, " +
            f"${(System.nanoTime() - t0) / 1e9}%.2f s in)")
          startReady()
        }
        require(waiting.isEmpty,
          s"steps in a dependency cycle: ${waiting.map(_.name).mkString(", ")}")
      } catch { case e: Throwable =>
        // fail fast AND stop the rest: their stray Spark jobs must not
        // overlap whatever the caller runs next
        sc.cancelJobGroup(group)
        pool.shutdownNow()
        throw e
      }
    } finally pool.shutdown()
  }
}
