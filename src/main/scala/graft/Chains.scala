package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{col, count, lit, sum, xxhash64}
import org.apache.spark.sql.types.StructType

import java.util.concurrent.{ExecutionException, ExecutorCompletionService, Executors,
  TimeUnit, TimeoutException}
import scala.util.control.NonFatal

/** A DAG of named steps, each started on a thread pool as soon as the
  * steps it reads have finished, to overlap independent jobs. A step's
  * planning, codegen and one-task jobs leave most of local[N] idle, and
  * Spark's FIFO scheduler backfills those cores with the other steps'
  * tasks. The three pipelines run their stages this way (each stage
  * written and certified by [[Stages]]), the harness families warm
  * their shared frames this way.
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

  /** The file format a stage is written in and read back from. */
  sealed trait Format
  object Format {
    /** Parquet, a directory per `partitionBy` value; `append` keeps what the directory holds. */
    final case class Parquet(partitionBy: Seq[String] = Nil, append: Boolean = false) extends Format
    /** The graftkv sorted log, keyed and sorted by the first column. */
    final case class GraftKv(bucketSize: Long) extends Format
    /** gzip JSON lines, a directory per `partitionBy` value. */
    final case class Json(partitionBy: Seq[String] = Nil) extends Format
    /** gzip tab-separated lines without a header. */
    case object Tsv extends Format
  }
  import Format._

  /** `dir` read back with `schema`; a text line that does not parse as
    * `schema` throws (FAILFAST) instead of turning into nulls. */
  def read(spark: SparkSession, format: Format, schema: StructType, dir: String): DataFrame = {
    val r = spark.read.schema(schema)
    format match {
      case _: Parquet => r.parquet(dir)
      case _: GraftKv => r.format("graftkv").load(dir)
      case _: Json => r.option("mode", "FAILFAST").json(dir)
      case Tsv => r.option("sep", "\t").option("mode", "FAILFAST").csv(dir)
    }
  }

  /** A frame's rows and order-insensitive content hash (Σ xxhash64 of every row, as a
    * decimal that never overflows), from one aggregate that decodes and parses every
    * value: a bare count() prunes every column and reads none. */
  def fingerprint(df: DataFrame): (Long, String) = {
    val r = df.agg(count(lit(1)),
      sum(xxhash64(df.columns.toIndexedSeq.map(col): _*).cast("decimal(38,0)"))).head()
    (r.getLong(0), if (r.isNullAt(1)) "0" else r.getDecimal(1).toPlainString)
  }

  /** One build's stages under `outDir`. A stage writes its frame in its [[Format]] and
    * reads it back with the schema it wrote, certified; the steps that read a stage get
    * its read-back frame, the build its row count. */
  final class Stages(spark: SparkSession, outDir: String) {
    private val frames = scala.collection.concurrent.TrieMap.empty[String, DataFrame]
    private val counts = scala.collection.concurrent.TrieMap.empty[String, Long]

    def apply(name: String): DataFrame = frames(name)
    def rows(name: String): Long = counts(name)

    /** Records `back` as stage `name`'s output, certified. */
    def certified(name: String, back: DataFrame): Unit = {
      counts(name) = fingerprint(back)._1
      frames(name) = back
    }

    /** Writes `df` into `outDir/dir` as stage `name` and reads it back. */
    def write(name: String, format: Format, dir: String)(df: DataFrame): Unit = {
      val w = df.write.mode("overwrite")
      val path = s"$outDir/$dir"
      format match {
        case Parquet(by, append) => w.mode(if (append) "append" else "overwrite")
          .partitionBy(by: _*).parquet(path)
        case GraftKv(bucketSize) => w.format("graftkv").option("bucketsize", bucketSize).save(path)
        case Json(by) => w.partitionBy(by: _*).option("compression", "gzip").json(path)
        case Tsv => w.option("sep", "\t").option("compression", "gzip").csv(path)
      }
      certified(name, read(spark, format, df.schema, path))
    }

    /** A step writing stage `name` into `outDir/name` after its inputs. */
    def stage(name: String, format: Format, after: String*)(df: => DataFrame): Step =
      step(name, after: _*)(write(name, format, name)(df))

    /** A step recording rows it counts without writing: an input, a gauge. */
    def count(name: String, after: String*)(rows: => Long): Step =
      step(name, after: _*)(counts(name) = rows)
  }
}
