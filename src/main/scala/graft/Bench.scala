package graft

import java.nio.file.{Files, Path, Paths}

object Bench {

  /** The checked-out commit, read from `.git` in the working directory
    * without running git; a worktree's `.git` file names its git dir,
    * whose `commondir` holds the shared refs. None outside a checkout.
    */
  def gitSha(root: Path = Paths.get("").toAbsolutePath): Option[String] = {
    def read(p: Path): Option[String] =
      if (Files.isRegularFile(p)) Some(Files.readString(p).trim) else None
    val dot = root.resolve(".git")
    val gitDir = read(dot).map(f => root.resolve(f.stripPrefix("gitdir:").trim)).getOrElse(dot)
    val common = read(gitDir.resolve("commondir")).map(gitDir.resolve).getOrElse(gitDir)
    read(gitDir.resolve("HEAD")).flatMap { head =>
      if (!head.startsWith("ref:")) Some(head)
      else {
        val ref = head.stripPrefix("ref:").trim
        read(gitDir.resolve(ref)).orElse(read(common.resolve(ref))).orElse(
          read(common.resolve("packed-refs")).flatMap(_.linesIterator.map(_.split(" "))
            .collectFirst { case Array(sha, r) if r == ref => sha }))
      }
    }
  }

  /** The host's CPU ticks so far, (busy, steal), for [[identity]].
    *
    * Hypervisor-steal gauge: on a shared host the guest's wall times
    * inflate with cycles the hypervisor gives to OTHER guests, which
    * /proc/stat's steal column counts. Recording steal over the run
    * turns "box mood" (the r14/r16 census drifts) from a forensic
    * reconstruction into a number printed next to the total: a
    * record with steal over a few percent is ambient-contaminated
    * and must be re-measured, never read as a code regression.
    */
  def cpuTicks(): Option[(Long, Long)] =
    try {
      val cols = scala.io.Source.fromFile("/proc/stat")
        .getLines().next().split("\\s+").drop(1).map(_.toLong)
      // busy = user+nice+system+steal (wanted CPU); steal = col 8
      Some((cols(0) + cols(1) + cols(2) + cols(7), cols(7)))
    } catch { case _: Throwable => None }

  /** Run identity JSON fields, each led by a comma: which code ran
    * (`git_sha`), on how many cores (`cpus`), and the permille of wanted
    * CPU the hypervisor stole since `ticks0` (`steal_pm`). */
  def identity(spark: org.apache.spark.sql.SparkSession, ticks0: Option[(Long, Long)]): String =
    gitSha().map(sha => s""","git_sha":"$sha"""").getOrElse("") +
      s""","cpus":${spark.sparkContext.defaultParallelism}""" + (for {
        (b0, s0) <- ticks0; (b1, s1) <- cpuTicks(); if b1 > b0
      } yield s""","steal_pm":${(s1 - s0) * 1000 / (b1 - b0)}""").getOrElse("")

  /** Between queries, drops the ephemeral blocks the previous query
    * pinned: iterative operators (lineage closure, connected
    * components, taxonomy trees) localCheckpoint their loop frames,
    * and those blocks otherwise live until a JVM GC lets the context
    * cleaner collect them — across 100+ queries in one session that
    * accumulation becomes GC-burst noise on unrelated queries.
    * Cross-query DataFrame caches (df.persist) are untouched;
    * localCheckpoint'd RDDs are never reused across queries.
    */
  def sweepEphemeral(spark: org.apache.spark.sql.SparkSession): Unit =
    spark.sparkContext.getPersistentRDDs.values
      .filter(org.apache.spark.rdd.GraftRddBridge.isLocallyCheckpointed)
      .foreach(_.unpersist(blocking = false))

  def main(args: Array[String]): Unit = {
    val started = java.time.Instant.now().truncatedTo(java.time.temporal.ChronoUnit.SECONDS)
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = SparkLocal.session(sfDir)
    val ticks0 = cpuTicks()
    // spill accounting for the constrained-heap rehearsal: per-query
    // deltas of the executor spill counters, so a memory-starved run
    // shows WHERE the pressure landed instead of just being slower
    val spillMem = new java.util.concurrent.atomic.AtomicLong
    val spillDisk = new java.util.concurrent.atomic.AtomicLong
    spark.sparkContext.addSparkListener(
      new org.apache.spark.scheduler.SparkListener {
        override def onTaskEnd(
            te: org.apache.spark.scheduler.SparkListenerTaskEnd): Unit = {
          val m = te.taskMetrics
          if (m != null) {
            spillMem.addAndGet(m.memoryBytesSpilled)
            spillDisk.addAndGet(m.diskBytesSpilled)
          }
        }
      })
    // warm the JVM/codegen/parquet paths so the first measured query
    // doesn't absorb session startup or first-touch footer reads
    Tables.names.foreach { t =>
      try {
        (if (t == "events") Tables.events(spark, sfDir)
         else Tables.load(spark, sfDir, t)).count()
      } catch { case _: Throwable => }
    }
    // optional comma-separated query filter for local iteration
    val only = sys.env.get("SPARK_GRAFT_ONLY")
      .map(_.split(',').toSet).getOrElse(Set.empty[String])
    def ms3(v: Double): Double = math.round(v * 1000) / 1000.0
    // run family by family (not Map iteration order): shared frames
    // (dedup shingles/signatures, taxa lineage) are built for a family
    // and released as soon as it ends — persisted frames outliving
    // their family were the r8 bench contamination (GC pressure bled
    // ~5-10x into unrelated later queries)
    val timings = SparkEntry.modules.flatMap { case (fam, qs, _) =>
      val selected = qs.toSeq.sortBy(_._1)
        .filter { case (n, _) => only.isEmpty || only(n) }
      // family preamble: build the family's shared frames as a NAMED
      // warm row, so their cost lands on the owner instead of the
      // family's first query (honest per-query attribution; the warm
      // row keeps the total honest). In filtered `only` runs the
      // preamble is skipped unless explicitly requested by its warm-row
      // name — shared frames build lazily when a selected query needs
      // them, so a single-query timing run carries only its own cost.
      val warmed = SparkEntry.preambles.get(fam)
        .filter(_ => (selected.nonEmpty && only.isEmpty) ||
          only(s"warm_${fam}_frames")).toSeq.map { warm =>
        val name = s"warm_${fam}_frames"
        val t0 = System.nanoTime()
        val ok = try { warm(spark, sfDir); true }
                 catch { case e: Throwable =>
                   System.err.println(s"[bench] $name FAILED: ${e.getMessage}")
                   false }
        val sec = ms3((System.nanoTime() - t0) / 1e9)
        sweepEphemeral(spark)
        println(s"""{"query":"$name","sec":$sec,"ok":$ok}""")
        (name, sec, ok)
      }
      val ran = warmed ++ selected
        .map { case (name, fn) =>
        val sm0 = spillMem.get(); val sd0 = spillDisk.get()
        val t0 = System.nanoTime()
        // a throwing query must surface as FAILED in the artifact — a
        // swallowed exception would otherwise read as an ultra-fast
        // success and silently inflate the query count the driver grades
        val ok = try { fn(spark, sfDir).count(); true }
                 catch { case e: Throwable =>
                   System.err.println(s"[bench] $name FAILED: ${e.getMessage}")
                   false }
        val sec = ms3((System.nanoTime() - t0) / 1e9)
        sweepEphemeral(spark)
        val spillMb =
          ((spillMem.get() - sm0) + (spillDisk.get() - sd0)) >> 20
        // one line per query as it completes: survives tail-only log
        // capture and pinpoints a hang/crash to the running query
        println(s"""{"query":"$name","sec":$sec,"ok":$ok""" +
          (if (spillMb > 0) s""","spill_mb":$spillMb}""" else "}"))
        (name, sec, ok)
      }
      graft.harness.SharedFrames.release(spark)
      ran
    }
    val results = timings.collect { case (n, sec, true) => n -> sec }.toMap
    val failed = timings.collect { case (n, _, false) => n }.sorted
    val qs = results.map { case (k, v) => s"\"" + k + "\":" + v }
      .mkString("{", ",", "}")
    val failedJson = failed.map("\"" + _ + "\"").mkString("[", ",", "]")
    val total = ms3(if (results.nonEmpty) results.values.sum else 0.0)
    val totalSpillMb = (spillMem.get() + spillDisk.get()) >> 20
    val full = s"""{"metric":"total","value":$total,"unit":"sec","queries":$qs,"failed":$failedJson,"spill_mb":$totalSpillMb,"heap_mb":${Runtime.getRuntime.maxMemory() >> 20},"sf":"$sfDir"${identity(spark, ticks0)}""" +
      s""","only":${only.toSeq.sorted.map("\"" + _ + "\"").mkString("[", ",", "]")},"start":"$started"}"""
    // the driver stores only the last ~2000 log chars, which the full
    // per-query map exceeds — persist it to a repo file and keep the
    // FINAL stdout line compact enough to always fit the tail capture.
    // Only a full census writes the BENCH_LOCAL.json record: a filtered
    // run with no named detail path writes a temp file, so it cannot
    // overwrite the record
    val detailPath = sys.env.get("SPARK_GRAFT_BENCH_DETAIL")
      .map(java.nio.file.Paths.get(_))
      .getOrElse(
        if (only.isEmpty) java.nio.file.Paths.get("BENCH_LOCAL.json")
        else java.nio.file.Files.createTempFile("graft-bench-", ".json"))
      .toAbsolutePath
    try java.nio.file.Files.writeString(detailPath, full + "\n")
    catch { case e: Throwable =>
      System.err.println(s"bench: failed to write detail file $detailPath: $e")
    }
    println(full)
    println(s"""{"metric":"total","value":$total,"unit":"sec","sf":"$sfDir","n_queries":${results.size},"n_failed":${failed.size},"detail":"$detailPath"}""")
    spark.stop()
  }
}
