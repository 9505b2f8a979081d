package perfbench

import java.io.File
import java.lang.management.ManagementFactory
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}

import scala.collection.immutable.ListMap
import scala.collection.mutable.ArrayBuffer
import scala.util.Try

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import org.apache.spark.sql.SparkSession

/** One benchmark run in a fresh JVM: set up a local session on the fixed
  * tables, run one workload in a closed loop until the time is up, and
  * write the raw record (operation times, output counts, heap live-set
  * peak and, when traced, the layer spans) as JSON for `run.py`, which
  * checks and summarizes it.
  *
  * The repository is reached only through its public entry points:
  * the pipelines' `build`, `SparkEntry.modules`/`preambles`, and
  * `SharedFrames.release` (plus the ephemeral-block sweep `graft.Bench`
  * runs between rows).
  *
  * Usage: `perfbench.PerfBench --workload W --sf DIR --dir RUNDIR
  *   --seconds S --seed N --trace 0|1 --cpus N --launch-ms T --result FILE`
  */
object PerfBench {

  /** When an operation ran: epoch ms (to line up with Spark's event
    * times), its wall time from the monotonic clock and this JVM's CPU. */
  final case class Clock(startMs: Long, endMs: Long, wallNs: Long, cpuNs: Long)

  /** One timed operation: a whole pipeline build or one query_mix row. */
  final case class Op(pass: Int, name: String, family: String, clock: Clock, ok: Boolean,
                      counts: Seq[(String, Long)], error: String,
                      outDir: String, outBytes: Long, cachedBytes: Long,
                      artifacts: Seq[(String, Long)]) {
    def startMs: Long = clock.startMs
    def endMs: Long = clock.endMs
  }

  val MixFamilies: Seq[String] = Seq("core", "dedup")

  def main(args: Array[String]): Unit = {
    val opt = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = opt("workload")
    val sf = opt("sf")
    val dir = opt("dir")
    val seconds = opt("seconds").toDouble
    val seed = opt("seed").toLong
    val traced = opt("trace") == "1"
    val cpus = opt("cpus").toInt
    val launchMs = opt("launch-ms").toLong

    val heap = new HeapWatch
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      // graft.Bench's input-sized initial width resolves to the core
      // count at this data size; pinned so every run plans the same way
      .config("spark.sql.adaptive.coalescePartitions.initialPartitionNum", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.extensions", "graft.plans.GraftExtensions")
      .config("spark.sql.warehouse.dir", s"$dir/warehouse")
      .config("spark.local.dir", s"$dir/local")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val sessionMs = System.currentTimeMillis()
    val tracer = if (traced) Some(Tracer.attach(spark)) else None

    // touch every table, as graft.Bench does before its first row, so
    // the first timed operation does not absorb first-touch footer reads
    val tables = Option(new File(sf).listFiles).getOrElse(Array.empty[File])
      .filter(_.getName.endsWith(".parquet")).sortBy(_.getName)
    require(tables.nonEmpty, s"no parquet tables in $sf")
    tables.foreach(t => spark.read.parquet(t.getPath).count())
    val setupEndMs = System.currentTimeMillis()
    heap.fullGc("setup")

    val deadline = System.nanoTime() + (seconds * 1e9).toLong
    val t0 = System.currentTimeMillis()
    val ops = workload match {
      case "query_mix" => queryMix(spark, sf, seed, deadline, heap)
      case "pipelines" => pipelines(spark, sf, dir, deadline, heap)
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }
    val t1 = System.currentTimeMillis()

    spark.stop() // drains the listener bus, so a tracer has every event
    val spans = tracer.map(_.spans(workload, launchMs, setupEndMs, t0, t1, ops))

    val record = ListMap(
      "workload" -> workload, "seed" -> seed, "cpus" -> cpus,
      "heap_max_mb" -> (Runtime.getRuntime.maxMemory >> 20),
      "launch_ms" -> launchMs, "session_ready_ms" -> sessionMs, "setup_end_ms" -> setupEndMs,
      "measure_start_ms" -> t0, "measure_end_ms" -> t1,
      "heap_live_peak_bytes" -> heap.peak, "heap_samples" -> heap.samples,
      "ops" -> ops.map { o =>
        ListMap("pass" -> o.pass, "name" -> o.name, "family" -> o.family,
          "start_ms" -> o.startMs, "end_ms" -> o.endMs,
          "wall_ms" -> o.clock.wallNs / 1e6, "cpu_ms" -> o.clock.cpuNs / 1e6,
          "ok" -> o.ok, "counts" -> ListMap(o.counts: _*),
          "error" -> o.error, "out_bytes" -> o.outBytes,
          "cached_bytes" -> o.cachedBytes,
          "artifacts" -> o.artifacts.map { case (k, t) => Seq(k, t) })
      },
      "spans" -> spans.getOrElse(Nil))
    val json = new ObjectMapper().registerModule(DefaultScalaModule).writeValueAsString(record)
    Files.write(Paths.get(opt("result")), json.getBytes(UTF_8))
  }

  private val osBean = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]

  private def timed[T](body: => T): (Try[T], Clock) = {
    val c0 = osBean.getProcessCpuTime
    val s0 = System.currentTimeMillis()
    val n0 = System.nanoTime()
    val r = Try(body)
    val n1 = System.nanoTime()
    (r, Clock(s0, System.currentTimeMillis(), n1 - n0, osBean.getProcessCpuTime - c0))
  }

  /** Between rows, drop the blocks that localCheckpointed loop frames
    * pinned — the same sweep graft.Bench runs between its rows. */
  def sweep(spark: SparkSession): Unit =
    spark.sparkContext.getPersistentRDDs.values
      .filter(org.apache.spark.rdd.GraftRddBridge.isLocallyCheckpointed)
      .foreach(_.unpersist(blocking = false))

  private def cachedBytes(spark: SparkSession): Long =
    spark.sparkContext.getRDDStorageInfo.map(i => i.memSize + i.diskSize).sum

  private def errorOf(t: Throwable): String =
    s"${t.getClass.getName}: ${Option(t.getMessage).getOrElse("")}".take(500)

  val Pipelines: Seq[(String, (SparkSession, String, String) => Seq[(String, Long)])] = Seq(
    "release" -> graft.ReleasePipeline.build,
    "corpus" -> graft.CorpusPipeline.build)

  /** The release and corpus pipelines, each built into a fresh output
    * dir, in a fixed order; whole passes repeat until the deadline.
    * Each build is one operation. Shared frames are released after each
    * build, so no build reuses another's cache. */
  def pipelines(spark: SparkSession, sf: String, dir: String,
                deadline: Long, heap: HeapWatch): Seq[Op] = {
    val ops = ArrayBuffer.empty[Op]
    var pass = 0
    while (pass == 0 || System.nanoTime() < deadline) {
      for ((name, build) <- Pipelines) {
        val out = s"$dir/out/$pass/$name"
        val (r, clock) = timed(build(spark, sf, out))
        graft.harness.SharedFrames.release(spark)
        sweep(spark)
        heap.fullGc(name)
        ops += Op(pass, name, name, clock, r.isSuccess, r.getOrElse(Nil),
          r.failed.map(errorOf).getOrElse(""), out, du(new File(out)), 0L,
          artifacts(new File(out)))
      }
      if (pass > 0) deleteTree(new File(s"$dir/out/${pass - 1}"))
      pass += 1
    }
    ops.toSeq
  }

  /** The warm query mix: the census rows of two families in one
    * session, in census family order with each family's rows permuted
    * by the seed; the family's shared-frame preamble as its own row
    * ahead of its queries; the timed region `fn(spark, sf).count()` as
    * in graft.Bench; a family release at the end of each family. Whole
    * passes repeat until the deadline.
    *
    * Family order is fixed because a fresh JVM runs its first dozen
    * rows 2-4x slower while the JIT warms up: with the families
    * permuted, whichever family came first (the dedup family's 10 s
    * preamble, say) carried that ramp, and the pass total swung by
    * 10 s between seeds. */
  def queryMix(spark: SparkSession, sf: String, seed: Long, deadline: Long,
               heap: HeapWatch): Seq[Op] = {
    val rnd = new scala.util.Random(seed)
    val modules = graft.SparkEntry.modules.map(m => m._1 -> m._2).toMap
    val ops = ArrayBuffer.empty[Op]
    var pass = 0
    while (pass == 0 || System.nanoTime() < deadline) {
      for (fam <- MixFamilies) {
        graft.SparkEntry.preambles.get(fam).foreach { warm =>
          val (r, clock) = timed(warm(spark, sf))
          sweep(spark)
          ops += Op(pass, s"warm_${fam}_frames", fam, clock, r.isSuccess, Nil,
            r.failed.map(errorOf).getOrElse(""), "", 0L, cachedBytes(spark), Nil)
        }
        for ((q, fn) <- rnd.shuffle(modules(fam).toSeq.sortBy(_._1))) {
          val (r, clock) = timed(fn(spark, sf).count())
          sweep(spark)
          ops += Op(pass, q, fam, clock, r.isSuccess, r.toOption.map(q -> _).toSeq,
            r.failed.map(errorOf).getOrElse(""), "", 0L, 0L, Nil)
        }
        heap.fullGc(fam) // before the release, so the held frames count
        graft.harness.SharedFrames.release(spark)
      }
      pass += 1
    }
    ops.toSeq
  }

  /** Each top-level output of a build with the time it was committed:
    * the newest modification time of any file in it. Read after the
    * build, so timing a build's stages costs the build nothing. */
  def artifacts(out: File): Seq[(String, Long)] = {
    def newest(f: File): Long =
      if (f.isDirectory) Option(f.listFiles).map(_.map(newest).foldLeft(0L)(math.max)).getOrElse(0L)
      else f.lastModified
    Option(out.listFiles).getOrElse(Array.empty[File]).toSeq
      .map(f => f.getName -> newest(f)).sortBy(_._2)
  }

  def du(f: File): Long =
    if (f.isDirectory) Option(f.listFiles).map(_.map(du).sum).getOrElse(0L)
    else f.length

  def deleteTree(f: File): Unit = {
    if (f.isDirectory) Option(f.listFiles).foreach(_.foreach(deleteTree))
    f.delete()
  }
}

/** The live set: the largest heap in use after full GCs have freed
  * what they can. `fullGc` runs at operation boundaries, outside every
  * timed region, so each run samples the live set at the same points
  * whatever the collector chose to do in between. Non-heap pools
  * (Metaspace, code cache) are not counted. */
final class HeapWatch {
  val samples = ArrayBuffer.empty[(String, Long)]

  private def gcUsed(): Long = {
    System.gc()
    ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed
  }

  /** Full GCs until one frees less than 1 MiB. Spark's ContextCleaner
    * drops the blocks of dead broadcasts and shuffles only after a GC
    * has found them unreachable, so a single GC left them counted in
    * some runs and not others (pipelines read 89 or 106 MiB). */
  def fullGc(at: String): Unit = {
    var prev = Long.MaxValue
    var used = gcUsed()
    var n = 1
    while (prev - used >= (1L << 20) && n < 8) {
      Thread.sleep(250) // the cleaner's queue poll is 100 ms
      prev = used
      used = gcUsed()
      n += 1
    }
    samples += at -> used
  }

  def peak: Long = samples.map(_._2).max
}
