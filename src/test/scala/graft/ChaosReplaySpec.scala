package graft

import graft.streaming.{CdcApply, Drain, Funnel, NearDedup, Retention, Sessionize, StreamTopK}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQueryException
import org.apache.spark.sql.types._

import scala.concurrent.duration._

/** Chaos pass on the streaming family (r13 verdict item 5): the clean
  * replay specs restart from checkpoints a finished query left behind;
  * here the restarts face a DAMAGED checkpoint.
  *
  * Kill-before-commit: a crash between the state/sink write and the
  * commit-log write is simulated by deleting the NEWEST
  * `commits/<n>` entry after a successful drain — exactly the window
  * a mid-batch kill leaves. On restart Spark must re-execute that
  * batch (state store re-loads the pre-batch version, the file sink's
  * `_spark_metadata` dedupes the already-registered output) and the
  * final read-back must equal the batch recomputation with NO
  * duplicates and NO loss — pinned for the three stateful shapes the
  * verdict names: stream_topk (SpaceSaving sketch state),
  * stream_cdc_apply (latest-wins row state), stream_funnel
  * (candidate-retention state).
  *
  * Corrupted checkpoint: deleting the newest COMMITTED state delta
  * instead must fail the restart LOUDLY (the trajectory cannot be
  * reconstructed — silent continuation would be data loss), and the
  * documented remediation — fresh checkpoint directory, full-inbox
  * replay — must converge to the exact batch answer.
  */
class ChaosReplaySpec extends SparkSpec {

  private def writeBatch(dir: java.io.File, name: String,
                         df: org.apache.spark.sql.DataFrame): Unit = {
    val tmp = new java.io.File(dir, s"__tmp_$name")
    df.coalesce(1).write.parquet(tmp.toString)
    val part = tmp.listFiles().find(_.getName.endsWith(".parquet")).get
    java.nio.file.Files.move(part.toPath,
      new java.io.File(dir, s"$name.parquet").toPath)
    tmp.listFiles().foreach(_.delete()); tmp.delete(): Unit
  }

  /** Crash window: the newest commit-log entry vanishes (killed after
    * the batch's writes, before its commit). */
  private def killNewestCommit(ckpt: String): Long = {
    val commits = new java.io.File(ckpt, "commits").listFiles()
      .filter(_.getName.forall(_.isDigit))
    val newest = commits.maxBy(_.getName.toLong)
    assert(newest.delete(), s"could not delete $newest")
    // the local ChecksumFileSystem shadows every file with a .crc
    // sibling; a half-written commit never registered either, so the
    // simulated crash must drop both or the re-commit's rename fails
    new java.io.File(newest.getParentFile, s".${newest.getName}.crc").delete()
    newest.getName.toLong
  }

  /** Corruption: every partition's newest state delta vanishes while
    * its commit survives. Returns the deleted version. */
  private def deleteNewestStateDeltas(ckpt: String): Long = {
    def walk(f: java.io.File): Seq[java.io.File] =
      if (f.isDirectory) f.listFiles().toSeq.flatMap(walk) else Seq(f)
    val deltas = walk(new java.io.File(ckpt, "state"))
      .filter(_.getName.endsWith(".delta"))
    val v = deltas.map(_.getName.stripSuffix(".delta").toLong).max
    deltas.filter(_.getName == s"$v.delta").foreach(f =>
      assert(f.delete(), s"could not delete $f"))
    v
  }

  /** Drain session: snapshots disabled so the state at version v is
    * reconstructible ONLY through v.delta — the corruption test must
    * not race the maintenance thread's snapshot. */
  private def drainSession(): org.apache.spark.sql.SparkSession = {
    val sess = spark.newSession()
    sess.conf.set("spark.sql.streaming.stateStore.maintenanceInterval", "1h")
    sess
  }

  // ---- stream_topk ---------------------------------------------------

  private val topkSchema = StructType(Seq(
    StructField("window_us", LongType), StructField("key", StringType)))

  private def drainTopk(inbox: String, out: String, ckpt: String)
      : Map[(Long, Int), (String, Long)] = {
    val sess = drainSession()
    import sess.implicits._
    val stream = StreamTopK.topkStream(
        sess.readStream.schema(topkSchema).parquet(inbox)
          .as[StreamTopK.KeyedEvent], capacity = 64, topN = 2)
    val rows = Drain.parquet(spark, "chaos_topk", stream.toDF(), out, ckpt).collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getString(2), r.getLong(3),
        r.getLong(5)))
    val latest = rows.groupBy(_._1).view.mapValues(_.map(_._5).max).toMap
    rows.filter(r => r._5 == latest(r._1))
      .map(r => (r._1, r._2) -> (r._3, r._4)).toMap
  }

  private def topkBatches: Seq[Seq[(Long, String)]] = Seq(
    Seq.fill(5)(1000L -> "a") ++ Seq.fill(3)(1000L -> "b"),
    Seq.fill(4)(1000L -> "c") ++ Seq.fill(2)(1000L -> "a"),
    Seq.fill(6)(1000L -> "b") ++ Seq.fill(1)(1000L -> "c"))

  private def topkTruth(evs: Seq[(Long, String)], topN: Int)
      : Map[(Long, Int), (String, Long)] =
    evs.groupBy(identity).view.mapValues(_.size.toLong).toSeq
      .map { case ((w, k), n) => (w, k, n) }
      .groupBy(_._1).flatMap { case (w, ks) =>
        ks.sortBy(t => (-t._3, t._2)).take(topN).zipWithIndex.map {
          case ((_, k, n), i) => (w, i + 1) -> (k, n)
        }
      }

  test("stream_topk: kill before commit — restart re-executes, no dup, no loss") {
    import spark.implicits._
    val root = java.nio.file.Files.createTempDirectory("chaos-topk-").toFile
    val inbox = new java.io.File(root, "inbox"); inbox.mkdirs()
    val out = s"$root/out"; val ckpt = s"$root/ckpt"
    val Seq(b1, b2, b3) = topkBatches
    writeBatch(inbox, "b1", b1.toDF("window_us", "key"))
    drainTopk(inbox.toString, out, ckpt)
    writeBatch(inbox, "b2", b2.toDF("window_us", "key"))
    drainTopk(inbox.toString, out, ckpt)
    killNewestCommit(ckpt)
    writeBatch(inbox, "b3", b3.toDF("window_us", "key"))
    val r = drainTopk(inbox.toString, out, ckpt)
    assert(r === topkTruth(b1 ++ b2 ++ b3, topN = 2),
      "kill-before-commit replay diverged from the batch recompute")
  }

  test("stream_topk: corrupted newest state delta fails loudly; fresh-checkpoint replay recovers") {
    import spark.implicits._
    val root = java.nio.file.Files.createTempDirectory("chaos-topk-corrupt-").toFile
    val inbox = new java.io.File(root, "inbox"); inbox.mkdirs()
    val out = s"$root/out"; val ckpt = s"$root/ckpt"
    val Seq(b1, b2, b3) = topkBatches
    writeBatch(inbox, "b1", b1.toDF("window_us", "key"))
    drainTopk(inbox.toString, out, ckpt)
    writeBatch(inbox, "b2", b2.toDF("window_us", "key"))
    drainTopk(inbox.toString, out, ckpt)
    deleteNewestStateDeltas(ckpt)
    writeBatch(inbox, "b3", b3.toDF("window_us", "key"))
    // the committed trajectory is unreconstructible: silent
    // continuation would be data loss, so the restart MUST die
    intercept[StreamingQueryException] {
      drainTopk(inbox.toString, out, ckpt)
    }
    // documented remediation: fresh checkpoint + full replay converges
    val r = drainTopk(inbox.toString, s"$root/out2", s"$root/ckpt2")
    assert(r === topkTruth(b1 ++ b2 ++ b3, topN = 2),
      "fresh-checkpoint recovery diverged from the batch recompute")
  }

  // ---- stream_cdc_apply ----------------------------------------------

  private val cdcSchema = StructType(Seq(
    StructField("user_id", LongType), StructField("us", LongType),
    StructField("event_id", LongType), StructField("value", DoubleType),
    StructField("delete", BooleanType)))

  private def drainCdc(inbox: String, out: String, ckpt: String)
      : Map[Long, (Long, Long, Double, Boolean)] = {
    val sess = drainSession()
    import sess.implicits._
    val stream = CdcApply.applyStream(
        sess.readStream.schema(cdcSchema).parquet(inbox).as[CdcApply.CdcOp])
      .toDF()
    Drain.parquet(spark, "chaos_cdc_apply", stream, out, ckpt)
      .withColumn("mx", max(col("n_processed"))
        .over(org.apache.spark.sql.expressions.Window
          .partitionBy(col("user_id"))))
      .filter(col("n_processed") === col("mx"))
      .collect()
      .map(r => r.getLong(0) ->
        (r.getLong(1), r.getLong(2), r.getDouble(3), r.getBoolean(4)))
      .toMap
  }

  test("stream_cdc_apply: kill before commit — latest-wins state survives re-execution") {
    import spark.implicits._
    val root = java.nio.file.Files.createTempDirectory("chaos-cdc-").toFile
    val inbox = new java.io.File(root, "inbox"); inbox.mkdirs()
    val out = s"$root/out"; val ckpt = s"$root/ckpt"
    val b1 = Seq((1L, 10L, 100L, 1.0, false), (2L, 50L, 101L, 2.0, false))
    val b2 = Seq((1L, 20L, 102L, 0.0, true), (3L, 70L, 103L, 3.0, false))
    val b3 = Seq((1L, 30L, 104L, 4.0, false), (2L, 40L, 105L, 8.0, false))
    val cols = Seq("user_id", "us", "event_id", "value", "delete")
    writeBatch(inbox, "b1", b1.toDF(cols: _*))
    drainCdc(inbox.toString, out, ckpt)
    writeBatch(inbox, "b2", b2.toDF(cols: _*))
    drainCdc(inbox.toString, out, ckpt)
    killNewestCommit(ckpt)
    writeBatch(inbox, "b3", b3.toDF(cols: _*))
    val r = drainCdc(inbox.toString, out, ckpt)
    val truth = (b1 ++ b2 ++ b3).groupBy(_._1).map { case (k, os) =>
      val w = os.maxBy(o => (o._2, o._3))
      k -> (w._2, w._3, w._4, w._5)
    }
    assert(r === truth,
      "kill-before-commit replay diverged from the batch latest-wins merge")
    assert(r(1L) === ((30L, 104L, 4.0, false)),
      "tombstone revival lost across the damaged restart")
  }

  // ---- stream_funnel ---------------------------------------------------

  private val funnelSchema = StructType(Seq(
    StructField("user_id", LongType), StructField("etype", StringType),
    StructField("us", LongType)))
  private val W = 100L

  private def drainFunnel(inbox: String, out: String, ckpt: String)
      : Map[Long, (Long, Option[Long], Option[Long])] = {
    val sess = drainSession()
    import sess.implicits._
    val stream = Funnel.funnelStream(
        sess.readStream.schema(funnelSchema).parquet(inbox)
          .as[Funnel.FunnelEvent], W)
      .toDF()
    Drain.parquet(spark, "chaos_funnel", stream, out, ckpt)
      .withColumn("mx", max(col("n_processed"))
        .over(org.apache.spark.sql.expressions.Window
          .partitionBy(col("user_id"))))
      .filter(col("n_processed") === col("mx"))
      .collect()
      .map { r =>
        r.getLong(0) -> (r.getLong(1),
          if (r.isNullAt(2)) None else Some(r.getLong(2)),
          if (r.isNullAt(3)) None else Some(r.getLong(3)))
      }.toMap
  }

  test("stream_funnel: kill before commit — candidate retention survives re-execution") {
    import spark.implicits._
    val root = java.nio.file.Files.createTempDirectory("chaos-funnel-").toFile
    val inbox = new java.io.File(root, "inbox"); inbox.mkdirs()
    val out = s"$root/out"; val ckpt = s"$root/ckpt"
    // the batch whose commit vanishes (b2) is the one that re-bases
    // user 1's funnel with an earlier view — re-execution must apply
    // the re-base exactly once
    val b1 = Seq((1L, "view", 50L), (1L, "click", 120L), (1L, "purchase", 140L))
    val b2 = Seq((1L, "view", 10L), (1L, "click", 60L))
    val b3 = Seq((1L, "purchase", 100L), (2L, "view", 5L))
    val cols = Seq("user_id", "etype", "us")
    writeBatch(inbox, "b1", b1.toDF(cols: _*))
    drainFunnel(inbox.toString, out, ckpt)
    writeBatch(inbox, "b2", b2.toDF(cols: _*))
    drainFunnel(inbox.toString, out, ckpt)
    killNewestCommit(ckpt)
    writeBatch(inbox, "b3", b3.toDF(cols: _*))
    val r = drainFunnel(inbox.toString, out, ckpt)
    assert(r === Map(
      1L -> ((10L, Some(60L), Some(100L))),
      2L -> ((5L, None, None))),
      "kill-before-commit replay diverged from the batch funnel cascade")
  }

  // ---- generic matrix runners (r14 verdict item 6: extend the pass
  // to the remaining stateful shapes, SAME kill + corruption matrix) --

  /** b0 drain, b1 drain, newest commit killed, b2 arrives, final
    * drain re-executes the damaged batch — returns the read-back. */
  private def killRun[T](root: java.io.File,
                         writeB: (java.io.File, Int) => Unit,
                         drain: (String, String, String) => T): T = {
    val inbox = new java.io.File(root, "inbox"); inbox.mkdirs()
    val out = s"$root/out"; val ckpt = s"$root/ckpt"
    writeB(inbox, 0); drain(inbox.toString, out, ckpt)
    writeB(inbox, 1); drain(inbox.toString, out, ckpt)
    killNewestCommit(ckpt)
    writeB(inbox, 2)
    drain(inbox.toString, out, ckpt)
  }

  /** b0/b1 drains, newest COMMITTED state delta corrupted: the
    * restart must die loudly, and the documented remediation (fresh
    * checkpoint + full-inbox replay) must converge — returns the
    * recovered read-back. */
  private def corruptRun[T](root: java.io.File,
                            writeB: (java.io.File, Int) => Unit,
                            drain: (String, String, String) => T): T = {
    val inbox = new java.io.File(root, "inbox"); inbox.mkdirs()
    val out = s"$root/out"; val ckpt = s"$root/ckpt"
    writeB(inbox, 0); drain(inbox.toString, out, ckpt)
    writeB(inbox, 1); drain(inbox.toString, out, ckpt)
    deleteNewestStateDeltas(ckpt)
    writeB(inbox, 2)
    intercept[StreamingQueryException] {
      drain(inbox.toString, out, ckpt)
    }
    drain(inbox.toString, s"$root/out2", s"$root/ckpt2")
  }

  // ---- stream_near_dedup (TTL-evicting LSH bucket state) --------------

  private val dedupSchema = StructType(Seq(
    StructField("doc_id", LongType), StructField("text", StringType),
    StructField("ts", TimestampType)))
  private val textA = "alpha beta gamma delta epsilon zeta eta theta"
  private val textB = "one two three four five six seven eight nine"

  private def writeDocBatch(inbox: java.io.File, i: Int): Unit = {
    import spark.implicits._
    val rows = Seq(
      Seq((10L, textA, "2026-01-01 10:00:00"),
        (11L, textB, "2026-01-01 10:00:00")),
      Seq((20L, textA, "2026-01-01 10:01:00")),
      Seq((21L, textB, "2026-01-01 10:01:30"),
        (30L, textA, "2026-01-01 10:01:30")))(i)
    writeBatch(inbox, s"b$i", rows.toDF("doc_id", "text", "ts_s")
      .select(col("doc_id"), col("text"),
        to_timestamp(col("ts_s")).as("ts")))
  }

  private def drainDedup(inbox: String, out: String, ckpt: String)
      : Seq[(Long, Long)] = {
    val sess = drainSession()
    import sess.implicits._
    val docs = sess.readStream.schema(dedupSchema).parquet(inbox)
    val pairs = NearDedup.flagPairsTtl(
      NearDedup.bandKeys(docs.withWatermark("ts", "0 seconds"),
        n = 3, k = 16, bands = 8, extraCols = Seq("ts"))
        .as[NearDedup.BandHit], 2.minutes)
    // NO distinct(): a pair flags once per shared LSH band (identical
    // texts share all 8), so the multiset is exactly 8 copies of each
    // pair — any OTHER multiplicity means the damaged-restart dedupe
    // failed (a re-executed batch re-appending would double it)
    Drain.parquet(spark, "chaos_near_dedup", pairs, out, ckpt).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSeq.sorted
  }

  private val dedupTruth = Seq((20L, 10L), (21L, 11L), (30L, 10L))
    .flatMap(Seq.fill(8)(_)).sorted

  test("stream_near_dedup: kill before commit — TTL bucket state survives re-execution, no dup pairs") {
    val root = java.nio.file.Files.createTempDirectory("chaos-dedup-").toFile
    assert(killRun(root, writeDocBatch, drainDedup) === dedupTruth,
      "kill-before-commit replay diverged (or duplicated) the flagged pairs")
  }

  test("stream_near_dedup: corrupted newest state delta fails loudly; fresh-checkpoint replay recovers") {
    val root = java.nio.file.Files.createTempDirectory("chaos-dedup-c-").toFile
    assert(corruptRun(root, writeDocBatch, drainDedup) === dedupTruth,
      "fresh-checkpoint recovery diverged from the batch recompute")
  }

  // ---- stream_sessionize (supersession dedup vs re-executed batches) --

  private val sessSchema = StructType(Seq(
    StructField("user_id", LongType), StructField("ts_us", LongType)))
  private val Min = 60L * 1000000L

  private def writeSessBatch(inbox: java.io.File, i: Int): Unit = {
    import spark.implicits._
    val rows = Seq(
      Seq((1L, 0L), (1L, 10 * Min), (2L, 5 * Min)),
      Seq((1L, 30 * Min)), // extends user 1's open session across the kill
      Seq((1L, 120 * Min), (2L, 25 * Min)))(i)
    writeBatch(inbox, s"b$i", rows.toDF("user_id", "ts_us"))
  }

  private def drainSess(inbox: String, out: String, ckpt: String)
      : Set[(Long, Long, Long, Long)] = {
    val sess = drainSession()
    import sess.implicits._
    val stream = Sessionize.sessionize(
        sess.readStream.schema(sessSchema).parquet(inbox)
          .as[Sessionize.SessionEvent], gapMinutes = 30)
      .toDF()
    Drain.parquet(spark, "chaos_sessionize", stream, out, ckpt)
      .groupBy(col("user_id"), col("start_us"))
      .agg(max(col("end_us")).as("end_us"), max(col("n_events")).as("n"))
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      .toSet
  }

  private val sessTruth = Set(
    (1L, 0L, 30 * Min, 3L),          // merged across the killed batch
    (1L, 120 * Min, 120 * Min, 1L),  // past the gap: a second session
    (2L, 5 * Min, 25 * Min, 2L))     // re-opened by the final batch

  test("stream_sessionize: kill before commit — open-session state merges exactly once") {
    val root = java.nio.file.Files.createTempDirectory("chaos-sess-").toFile
    assert(killRun(root, writeSessBatch, drainSess) === sessTruth,
      "kill-before-commit replay diverged from the batch sessionization")
  }

  test("stream_sessionize: corrupted newest state delta fails loudly; fresh-checkpoint replay recovers") {
    val root = java.nio.file.Files.createTempDirectory("chaos-sess-c-").toFile
    assert(corruptRun(root, writeSessBatch, drainSess) === sessTruth,
      "fresh-checkpoint recovery diverged from the batch sessionization")
  }

  // ---- stream_retention (day-set state, late-day cohort re-base) ------

  private val retSchema = StructType(Seq(
    StructField("user_id", LongType), StructField("epoch_day", IntegerType)))

  private def writeRetBatch(inbox: java.io.File, i: Int): Unit = {
    import spark.implicits._
    val rows = Seq(
      Seq((1L, 100), (2L, 100)),
      Seq((1L, 102)),
      // the post-kill batch re-bases user 1's cohort with an EARLIER
      // day — day0 moves, every offset shifts
      Seq((1L, 99), (2L, 101)))(i)
    writeBatch(inbox, s"b$i", rows.toDF("user_id", "epoch_day"))
  }

  private def drainRet(inbox: String, out: String, ckpt: String)
      : Map[Long, (Int, Seq[Int])] = {
    val sess = drainSession()
    import sess.implicits._
    val stream = Retention.retentionStream(
        sess.readStream.schema(retSchema).parquet(inbox)
          .as[Retention.DayEvent])
      .toDF()
    Drain.parquet(spark, "chaos_retention", stream, out, ckpt)
      .withColumn("mx", max(col("n_processed"))
        .over(org.apache.spark.sql.expressions.Window
          .partitionBy(col("user_id"))))
      .filter(col("n_processed") === col("mx"))
      .collect()
      .map(r => r.getLong(0) -> ((r.getInt(1), r.getSeq[Int](2))))
      .toMap
  }

  private val retTruth = Map(
    1L -> ((99, Seq(0, 1, 3))),  // re-based: 99 is the new day0
    2L -> ((100, Seq(0, 1))))

  test("stream_retention: kill before commit — day-set state survives re-execution") {
    val root = java.nio.file.Files.createTempDirectory("chaos-ret-").toFile
    assert(killRun(root, writeRetBatch, drainRet) === retTruth,
      "kill-before-commit replay diverged from the batch retention rollup")
  }

  test("stream_retention: corrupted newest state delta fails loudly; fresh-checkpoint replay recovers") {
    val root = java.nio.file.Files.createTempDirectory("chaos-ret-c-").toFile
    assert(corruptRun(root, writeRetBatch, drainRet) === retTruth,
      "fresh-checkpoint recovery diverged from the batch retention rollup")
  }

  // ---- matrix completion for the r13 shapes ----------------------------

  private def writeCdcBatch(inbox: java.io.File, i: Int): Unit = {
    import spark.implicits._
    val rows = Seq(
      Seq((1L, 10L, 100L, 1.0, false), (2L, 50L, 101L, 2.0, false)),
      Seq((1L, 20L, 102L, 0.0, true), (3L, 70L, 103L, 3.0, false)),
      Seq((1L, 30L, 104L, 4.0, false), (2L, 40L, 105L, 8.0, false)))(i)
    writeBatch(inbox, s"b$i",
      rows.toDF("user_id", "us", "event_id", "value", "delete"))
  }

  test("stream_cdc_apply: corrupted newest state delta fails loudly; fresh-checkpoint replay recovers") {
    val root = java.nio.file.Files.createTempDirectory("chaos-cdc-c-").toFile
    val r = corruptRun(root, writeCdcBatch, drainCdc)
    assert(r(1L) === ((30L, 104L, 4.0, false)) &&
      r(2L) === ((50L, 101L, 2.0, false)) &&
      r(3L) === ((70L, 103L, 3.0, false)),
      "fresh-checkpoint recovery diverged from the batch latest-wins merge")
  }

  private def writeFunnelBatch(inbox: java.io.File, i: Int): Unit = {
    import spark.implicits._
    val rows = Seq(
      Seq((1L, "view", 50L), (1L, "click", 120L), (1L, "purchase", 140L)),
      Seq((1L, "view", 10L), (1L, "click", 60L)),
      Seq((1L, "purchase", 100L), (2L, "view", 5L)))(i)
    writeBatch(inbox, s"b$i", rows.toDF("user_id", "etype", "us"))
  }

  test("stream_funnel: corrupted newest state delta fails loudly; fresh-checkpoint replay recovers") {
    val root = java.nio.file.Files.createTempDirectory("chaos-funnel-c-").toFile
    assert(corruptRun(root, writeFunnelBatch, drainFunnel) === Map(
      1L -> ((10L, Some(60L), Some(100L))),
      2L -> ((5L, None, None))),
      "fresh-checkpoint recovery diverged from the batch funnel cascade")
  }
}
