package perfbench

import scala.collection.immutable.ListMap
import scala.collection.mutable
import scala.collection.mutable.ArrayBuffer
import scala.util.Try

import org.apache.logging.log4j.{Level, LogManager}
import org.apache.logging.log4j.core.{LogEvent, LoggerContext}
import org.apache.logging.log4j.core.appender.AbstractAppender
import org.apache.logging.log4j.core.config.{LoggerConfig, Property}
import org.apache.spark.{Success => TaskSuccess}
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.plans.logical.{CommandResult, LogicalPlan, V2WriteCommand}
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, InsertIntoHadoopFsRelationCommand, LogicalRelation, SaveIntoDataSourceCommand}
import org.apache.spark.sql.execution.datasources.v2.DataSourceV2Relation
import org.apache.spark.sql.execution.ui.{SparkListenerSQLAdaptiveExecutionUpdate, SparkListenerSQLExecutionEnd, SparkListenerSQLExecutionStart}
import org.apache.spark.sql.util.QueryExecutionListener

/** Records what the engine did during a traced run, from outside the
  * program: a SparkListener for jobs, stages, tasks, SQL executions and
  * AQE re-plans; a QueryExecutionListener for Catalyst phase times and
  * the paths each execution writes or reads; a log appender for every
  * codegen compile.
  *
  * Nothing is attributed while the run is live. After the session has
  * stopped (which drains the listener bus) `spans` builds the tree
  * run → workload → operation → pipeline stage → SQL execution → job,
  * attributing each event to the innermost span that contains its start
  * time: the benchmark runs one operation at a time.
  */
final class Tracer private extends SparkListener with QueryExecutionListener {
  import Tracer._

  private val jobs = mutable.LinkedHashMap.empty[Int, JobRec]
  private val stageToJob = mutable.HashMap.empty[Int, Int]
  private val execs = mutable.LinkedHashMap.empty[Long, ExecRec]
  private val execToQe = mutable.HashMap.empty[Long, Long]
  private val qes = mutable.HashMap.empty[Long, QeRec]
  private val compiles = ArrayBuffer.empty[(Long, Double)]
  private val codegenCount0 =
    org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME.getCount

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val exec = Option(e.properties)
      .flatMap(p => Option(p.getProperty("spark.sql.execution.id")))
      .flatMap(s => Try(s.toLong).toOption).getOrElse(-1L)
    jobs(e.jobId) = JobRec(e.jobId, e.time, exec)
    e.stageInfos.foreach(s => stageToJob.getOrElseUpdate(s.stageId, e.jobId))
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs.get(e.jobId).foreach { j =>
      j.end = e.time
      j.ok = e.jobResult == JobSucceeded
    }
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    stageToJob.get(e.stageInfo.stageId).flatMap(jobs.get).foreach(_.acc.stages += 1)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    stageToJob.get(e.stageId).flatMap(jobs.get).foreach { j =>
      val a = j.acc
      a.tasks += 1
      if (e.reason != TaskSuccess) a.failedTasks += 1
      val m = e.taskMetrics
      if (m != null) {
        a.runMs += m.executorRunTime
        a.cpuNs += m.executorCpuTime
        a.gcMs += m.jvmGCTime
        a.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
        a.shuffleRead += m.shuffleReadMetrics.totalBytesRead
        a.fetchWaitMs += m.shuffleReadMetrics.fetchWaitTime
        a.spill += m.memoryBytesSpilled + m.diskBytesSpilled
        a.input += m.inputMetrics.bytesRead
        a.output += m.outputMetrics.bytesWritten
      }
    }
  }

  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case s: SparkListenerSQLExecutionStart => synchronized {
      execs(s.executionId) = ExecRec(s.executionId, s.time)
    }
    case s: SparkListenerSQLExecutionEnd =>
      // the event's QueryExecution is package-private to Spark SQL;
      // it links the execution id to the qe the QueryExecutionListener saw
      val qeId = Try(s.getClass.getMethod("qe").invoke(s))
        .toOption.collect { case q: QueryExecution => q.id }
      synchronized {
        execs.get(s.executionId).foreach { x =>
          x.end = s.time
          x.ok = s.errorMessage.forall(_.isEmpty)
        }
        qeId.foreach(execToQe(s.executionId) = _)
      }
    case s: SparkListenerSQLAdaptiveExecutionUpdate => synchronized {
      execs.get(s.executionId).foreach(_.replans += 1)
    }
    case _ =>
  }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    record(qe)

  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
    record(qe)

  private def record(qe: QueryExecution): Unit = {
    val phases = qe.tracker.phases.map { case (k, v) => k -> v.durationMs }
    val writes = ArrayBuffer.empty[String]
    val reads = ArrayBuffer.empty[String]
    Try(qe.analyzed).foreach(p => touched(p, writes, reads))
    synchronized { qes(qe.id) = QeRec(phases, writes.toSeq, reads.toSeq) }
  }

  private def compiled(ms: Double): Unit = synchronized {
    compiles += System.currentTimeMillis() -> ms
  }

  /** The span tree as JSON records; call after the session stopped. */
  def spans(workload: String, launchMs: Long, setupEndMs: Long,
            measureStart: Long, measureEnd: Long,
            ops: Seq[PerfBench.Op]): Seq[ListMap[String, Any]] = synchronized {
    val out = ArrayBuffer.empty[ListMap[String, Any]]
    val execList = execs.values.toSeq.sortBy(_.start)
    val jobList = jobs.values.toSeq.sortBy(_.start)
    var nextId = 0
    def emit(kind: String, name: String, parent: Int, start: Long, end: Long,
             nums: Seq[(String, Any)], extra: (String, Any)*): Int = {
      val id = nextId
      nextId += 1
      out += ListMap(Seq("id" -> id, "parent" -> parent, "kind" -> kind,
        "name" -> name, "start_ms" -> start, "end_ms" -> end,
        "wall_ms" -> (end - start)) ++ nums ++ extra: _*)
      id
    }
    def within(t: Long, s: Long, e: Long) = t >= s && t < e
    // a span the benchmark ran alone: everything that started inside it
    def span(kind: String, name: String, parent: Int, s: Long, e: Long,
             extra: (String, Any)*): Int =
      emit(kind, name, parent, s, e, layers(jobList.filter(j => within(j.start, s, e)),
        execList.filter(x => within(x.start, s, e)), s, e), extra: _*)

    // each execution and job lands under exactly one leaf-level span
    def leaves(parent: Int, start: Long, end: Long): Unit = {
      val mine = execList.filter(x => within(x.start, start, end))
      mine.foreach { x =>
        val q = execToQe.get(x.id).flatMap(qes.get)
        val js = jobList.filter(_.exec == x.id)
        val sid = emit("sql", s"execution ${x.id}", parent, x.start, x.end,
          layers(js, Seq(x), x.start, x.end),
          "ok" -> x.ok, "writes" -> q.map(_.writes).getOrElse(Nil),
          "reads" -> q.map(_.reads).getOrElse(Nil))
        js.foreach(j => emit("job", s"job ${j.id}", sid, j.start, j.end,
          layers(Seq(j), Nil, j.start, j.end), "ok" -> j.ok))
      }
      val own = mine.map(_.id).toSet
      jobList.filter(j => within(j.start, start, end) && !own(j.exec))
        .foreach(j => emit("job", s"job ${j.id}", parent, j.start, j.end,
          layers(Seq(j), Nil, j.start, j.end), "ok" -> j.ok))
    }

    val run = span("run", workload, -1, launchMs, measureEnd,
      "codegen.classes_metric" -> (org.apache.spark.metrics.source.CodegenMetrics
        .METRIC_COMPILATION_TIME.getCount - codegenCount0))
    val setup = span("setup", "setup", run, launchMs, setupEndMs)
    leaves(setup, launchMs, setupEndMs)
    val wl = span("workload", workload, run, measureStart, measureEnd)
    ops.foreach { op =>
      val kind = if (op.outDir.isEmpty) "row" else "build"
      val oid = span(kind, op.name, wl, op.startMs, op.endMs,
        "pass" -> op.pass, "family" -> op.family, "ok" -> op.ok,
        "cached_bytes" -> op.cachedBytes)
      if (op.outDir.isEmpty) leaves(oid, op.startMs, op.endMs)
      else stages(op, execList).foreach { case (name, s, e) =>
        val files = dirStats(new java.io.File(op.outDir), name.takeWhile(_ != '#'))
        val sid = span("stage", name, oid, s, e,
          "out_bytes" -> files._1, "out_files" -> files._2)
        leaves(sid, s, e)
      }
    }
    out.toSeq
  }

  /** Layer numbers of a span [s, e) from its jobs and executions. */
  private def layers(js: Seq[JobRec], xs: Seq[ExecRec], s: Long, e: Long): Seq[(String, Any)] = {
    val phases = xs.flatMap(x => execToQe.get(x.id).flatMap(qes.get)).map(_.phases)
    def phase(k: String) = phases.map(_.getOrElse(k, 0L)).sum
    val cg = compiles.filter(c => c._1 >= s && c._1 < e)
    val acc = js.map(_.acc)
    def sum(f: Acc => Long) = acc.map(f).sum
    // wall time not covered by any running job
    val covered = js.map(j => (math.max(j.start, s), math.min(if (j.end > 0) j.end else e, e)))
      .filter { case (a, b) => b > a }.sortBy(_._1)
      .foldLeft((0L, Long.MinValue)) { case ((tot, last), (a, b)) =>
        val a1 = math.max(a, last)
        (tot + math.max(0L, b - a1), math.max(last, b))
      }._1
    Seq(
      "catalyst.analysis_ms" -> phase("analysis"),
      "catalyst.optimizer_ms" -> phase("optimization"),
      "catalyst.planning_ms" -> phase("planning"),
      "codegen.classes" -> cg.size,
      "codegen.compile_ms" -> cg.map(_._2).sum,
      "scheduler.jobs" -> js.size,
      "scheduler.stages" -> sum(_.stages),
      "scheduler.tasks" -> sum(_.tasks),
      "scheduler.failed_tasks" -> sum(_.failedTasks),
      "scheduler.residual_ms" -> ((e - s) - covered),
      "executor.run_ms" -> sum(_.runMs),
      "executor.cpu_ms" -> sum(_.cpuNs) / 1e6,
      "executor.gc_ms" -> sum(_.gcMs),
      "shuffle.write_bytes" -> sum(_.shuffleWrite),
      "shuffle.read_bytes" -> sum(_.shuffleRead),
      "shuffle.fetch_wait_ms" -> sum(_.fetchWaitMs),
      "shuffle.spill_bytes" -> sum(_.spill),
      "io.input_bytes" -> sum(_.input),
      "io.output_bytes" -> sum(_.output),
      "aqe.replans" -> xs.map(_.replans).sum,
      "sql.executions" -> xs.size)
  }

  /** A build's stages, from the output paths its SQL executions touch.
    * A write to `<out>/X` opens stage X (consecutive writes to X merge);
    * the first later execution that reads X back closes it; so does a
    * first read of an X nobody wrote through SQL (an RDD-written sink).
    * Executions that touch no new path belong to the next stage, whose
    * span therefore runs from the previous stage's close to its own:
    * a stage is planned and prepared before it is written. Time
    * after the last close is the stage `tail`. */
  private def stages(op: PerfBench.Op, execList: Seq[ExecRec]): Seq[(String, Long, Long)] = {
    val base = new java.io.File(op.outDir).getAbsolutePath + "/"
    def keys(paths: Seq[String]) = paths.map(_.stripPrefix("file:"))
      .filter(_.startsWith(base)).map(_.stripPrefix(base).takeWhile(_ != '/'))
      .filter(_.nonEmpty).distinct
    val result = ArrayBuffer.empty[(String, Long, Long)]
    val named = mutable.HashMap.empty[String, Int]
    val seen = mutable.HashSet.empty[String]
    var from = op.startMs
    var lastWrite = Option.empty[String]
    var awaiting = Option.empty[String]
    def open(key: String, end: Long): Unit = {
      val n = named.getOrElse(key, 0) + 1
      named(key) = n
      result += ((if (n == 1) key else s"$key#$n", from, end))
    }
    def extend(end: Long): Unit = {
      val (k, s, _) = result.last
      result(result.size - 1) = (k, s, end)
    }
    for (x <- execList if x.start >= op.startMs && x.start < op.endMs) {
      val q = execToQe.get(x.id).flatMap(qes.get)
      val w = keys(q.map(_.writes).getOrElse(Nil))
      val r = keys(q.map(_.reads).getOrElse(Nil)).filterNot(w.contains)
      val end = math.max(x.end, x.start)
      if (w.nonEmpty) {
        if (lastWrite.contains(w.head)) extend(end) else open(w.head, end)
        lastWrite = Some(w.head); awaiting = Some(w.head)
        from = end
      } else {
        lastWrite = None
        val fresh = r.filterNot(seen)
        if (awaiting.exists(r.contains)) { extend(end); awaiting = None; from = end }
        else if (fresh.nonEmpty) { open(fresh.head, end); awaiting = None; from = end }
      }
      seen ++= w ++ r
    }
    if (from < op.endMs) result += (("tail", from, op.endMs))
    result.toSeq
  }

  private def dirStats(out: java.io.File, name: String): (Long, Long) = {
    def walk(f: java.io.File): (Long, Long) =
      if (f.isDirectory) Option(f.listFiles).getOrElse(Array.empty[java.io.File])
        .map(walk).foldLeft((0L, 0L)) { case ((a, b), (c, d)) => (a + c, b + d) }
      else if (f.isFile) (f.length, 1L) else (0L, 0L)
    if (name == "tail") (0L, 0L) else walk(new java.io.File(out, name))
  }
}

object Tracer {
  final class Acc {
    var stages, tasks, failedTasks, runMs, cpuNs, gcMs = 0L
    var shuffleWrite, shuffleRead, fetchWaitMs, spill, input, output = 0L
  }
  final case class JobRec(id: Int, start: Long, exec: Long) {
    var end = 0L
    var ok = false
    val acc = new Acc
  }
  final case class ExecRec(id: Long, start: Long) {
    var end = 0L
    var ok = false
    var replans = 0
  }
  final case class QeRec(phases: Map[String, Long], writes: Seq[String], reads: Seq[String])

  private val CodegenLogger =
    "org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator"
  private val Compiled = """Code generated in ([0-9.]+) ms""".r.unanchored

  /** Attach every listener to `spark`'s own session. */
  def attach(spark: SparkSession): Tracer = {
    val t = new Tracer
    spark.sparkContext.addSparkListener(t)
    spark.listenerManager.register(t)
    // CodegenMetrics keeps compile times only in a sampling histogram;
    // the per-compile log line carries each one exactly
    val ctx = LogManager.getContext(false).asInstanceOf[LoggerContext]
    val cfg = ctx.getConfiguration
    val app = new AbstractAppender("perfbench-codegen", null, null, true,
        Property.EMPTY_ARRAY) {
      override def append(e: LogEvent): Unit =
        e.getMessage.getFormattedMessage match {
          case Compiled(ms) => t.compiled(ms.toDouble)
          case _ =>
        }
    }
    app.start()
    cfg.addAppender(app)
    val lc = new LoggerConfig(CodegenLogger, Level.INFO, false)
    lc.addAppender(app, Level.INFO, null)
    cfg.addLogger(CodegenLogger, lc)
    ctx.updateLoggers()
    t
  }

  /** The output paths a plan writes and the table paths it reads. */
  def touched(p: LogicalPlan, writes: ArrayBuffer[String], reads: ArrayBuffer[String]): Unit =
    p.foreach {
      case c: CommandResult => touched(c.commandLogicalPlan, writes, reads)
      case c: InsertIntoHadoopFsRelationCommand => writes += c.outputPath.toString
      case c: SaveIntoDataSourceCommand =>
        c.options.get("path").foreach(writes += _)
        touched(c.query, writes, reads)
      case c: V2WriteCommand => c.table match {
        case d: DataSourceV2Relation => Option(d.options.get("path")).foreach(writes += _)
        case _ =>
      }
      case l: LogicalRelation => l.relation match {
        case h: HadoopFsRelation => reads ++= h.location.rootPaths.map(_.toString)
        case _ =>
      }
      case d: DataSourceV2Relation => Option(d.options.get("path")).foreach(reads += _)
      case _ =>
    }
}
