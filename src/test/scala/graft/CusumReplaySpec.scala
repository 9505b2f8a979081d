package graft

import graft.streaming.{Cusum, Drain}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Multi-batch semantics of the streaming CUSUM: folding the same
  * event-time-ordered stream through any batch split must give the
  * identical trajectory (state is exactly the fold prefix), the fold
  * must equal the batch prefix identity
  * S_t = P_t − min(0, running_min(P)) the DuckDB oracle replays, and
  * drains restart from a shared checkpoint with the max-n_processed
  * read-back contract.
  */
class CusumReplaySpec extends SparkSpec {

  private val schema = StructType(Seq(
    StructField("user_id", LongType), StructField("event_id", LongType),
    StructField("us", LongType), StructField("vu", LongType)))

  private val Target = 100L
  private val Drift = 10L
  private val H = 50L

  /** Ground truth: the direct recursion over (us, event_id) order. */
  private def batchCusum(evs: Seq[(Long, Long, Long, Long)])
      : Map[Long, (Long, Long, Long)] =
    evs.groupBy(_._1).map { case (uid, es) =>
      var s = 0L; var alarms = 0L; var n = 0L
      es.sortBy(e => (e._3, e._2)).foreach { e =>
        s = math.max(0L, s + (e._4 - Target - Drift))
        if (s > H) alarms += 1
        n += 1
      }
      uid -> (n, s, alarms)
    }

  /** The prefix identity the oracle uses, evaluated directly. */
  private def identityCusum(evs: Seq[(Long, Long, Long, Long)])
      : Map[Long, (Long, Long, Long)] =
    evs.groupBy(_._1).map { case (uid, es) =>
      val xs = es.sortBy(e => (e._3, e._2)).map(_._4 - Target - Drift)
      val ps = xs.scanLeft(0L)(_ + _).tail
      val ss = ps.zipWithIndex.map { case (p, i) =>
        p - math.min(0L, ps.take(i + 1).min)
      }
      uid -> (xs.size.toLong, ss.lastOption.getOrElse(0L),
        ss.count(_ > H).toLong)
    }

  private def writeBatch(dir: java.io.File, name: String,
                         rows: Seq[(Long, Long, Long, Long)]): Unit = {
    import spark.implicits._
    val df = rows.toDF("user_id", "event_id", "us", "vu")
    val tmp = new java.io.File(dir, s"__tmp_$name")
    df.coalesce(1).write.parquet(tmp.toString)
    val part = tmp.listFiles().find(_.getName.endsWith(".parquet")).get
    java.nio.file.Files.move(part.toPath,
      new java.io.File(dir, s"$name.parquet").toPath)
    tmp.listFiles().foreach(_.delete()); tmp.delete()
  }

  private def drain(inbox: String, out: String,
                    ckpt: String): Map[Long, (Long, Long, Long)] = {
    val sess = spark.newSession()
    import sess.implicits._
    val events = sess.readStream.schema(schema).parquet(inbox)
      .as[Cusum.CusumEvent]
    Drain.parquet(spark, "cusum_replay",
        Cusum.cusumStream(events, Target, Drift, H).toDF(), out, ckpt)
      .withColumn("mx", max(col("n_processed"))
        .over(org.apache.spark.sql.expressions.Window
          .partitionBy(col("user_id"))))
      .filter(col("n_processed") === col("mx"))
      .collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getLong(3)))
      .toMap
  }

  // user 1 rises above target (alarms), user 2 stays below (S pinned
  // at 0), user 3 oscillates across the reset
  private val b1 = Seq(
    (1L, 1L, 10L, 200L), (1L, 2L, 20L, 150L),
    (2L, 1L, 10L, 50L), (2L, 2L, 20L, 90L),
    (3L, 1L, 10L, 400L), (3L, 2L, 20L, 10L))
  private val b2 = Seq(
    (1L, 3L, 30L, 300L),
    (2L, 3L, 30L, 60L),
    (3L, 3L, 30L, 5L), (3L, 4L, 40L, 500L))

  test("the recursion equals the batch prefix identity") {
    for (evs <- Seq(b1, b1 ++ b2))
      assert(batchCusum(evs) === identityCusum(evs),
        "fold-with-reset must match the oracle's window identity")
  }

  test("event-time-ordered batch splits replay the exact trajectory") {
    val root = java.nio.file.Files.createTempDirectory("cusum-replay-").toFile
    val inbox = new java.io.File(root, "inbox"); inbox.mkdirs()
    val out = s"$root/out"; val ckpt = s"$root/ckpt"

    writeBatch(inbox, "batch1", b1)
    val afterB1 = drain(inbox.toString, out, ckpt)
    assert(afterB1 === batchCusum(b1), "single batch = batch recursion")
    assert(afterB1(2L)._2 === 0L, "below-target user pins S at 0")

    writeBatch(inbox, "batch2", b2)
    val afterB2 = drain(inbox.toString, out, ckpt)
    assert(afterB2 === batchCusum(b1 ++ b2),
      "checkpoint-restart drain must equal the full-stream recursion")
    assert(afterB2(1L)._3 > afterB1(1L)._3,
      "the rising user keeps alarming across batches")
  }

  test("an event older than the folded prefix is counted loudly") {
    val st1 = Cusum.step(Cusum.CusumBuf(0L, 0L, 0L),
      b1.filter(_._1 == 1L)
        .map(e => Cusum.CusumEvent(e._1, e._2, e._3, e._4)),
      Target, Drift, H)
    assert(st1.nViolations === 0L, "in-order fold must not flag")
    // us=15 lands between the already-folded us=10 and us=20 events —
    // a late arrival the append-sink contract cannot repair
    val st2 = Cusum.step(st1, Seq(Cusum.CusumEvent(1L, 9L, 15L, 100L)),
      Target, Drift, H)
    assert(st2.nViolations === 1L,
      "late event must increment the violation counter")
    assert(st2.lastUs === st1.lastUs && st2.lastEid === st1.lastEid,
      "a violating event must not advance the order watermark")
    assert(st2.s === st1.s && st2.n === st1.n && st2.nAlarms === st1.nAlarms,
      "a violating event must be skipped, not folded — folding it at " +
        "arrival position would corrupt the trajectory retroactively")
  }

  test("a replayed duplicate batch is idempotent on s/n/alarms") {
    val u1 = (b: Seq[(Long, Long, Long, Long)]) => b.filter(_._1 == 1L)
      .map(e => Cusum.CusumEvent(e._1, e._2, e._3, e._4))
    val once = Cusum.step(Cusum.step(Cusum.CusumBuf(0L, 0L, 0L),
      u1(b1), Target, Drift, H), u1(b2), Target, Drift, H)
    // at-least-once upstream: batch1 delivered twice before batch2
    val replayed = Cusum.step(Cusum.step(Cusum.step(
      Cusum.CusumBuf(0L, 0L, 0L),
      u1(b1), Target, Drift, H), u1(b1), Target, Drift, H),
      u1(b2), Target, Drift, H)
    assert(replayed.s === once.s && replayed.n === once.n &&
      replayed.nAlarms === once.nAlarms,
      "duplicate batch must not double-fold the trajectory")
    assert(replayed.nViolations === u1(b1).size.toLong,
      "every replayed event is counted on the violation monitor")
    assert(replayed.lastUs === once.lastUs &&
      replayed.lastEid === once.lastEid)
  }

  test("an at-least-once inbox (duplicate file) drains to the exactly-once answer") {
    val root = java.nio.file.Files.createTempDirectory("cusum-alo-").toFile
    val inbox = new java.io.File(root, "inbox"); inbox.mkdirs()
    val out = s"$root/out"; val ckpt = s"$root/ckpt"
    writeBatch(inbox, "batch1", b1)
    drain(inbox.toString, out, ckpt)
    // the upstream redelivers batch1 under a NEW filename — the file
    // source treats it as fresh data; the detector must not
    writeBatch(inbox, "batch1_replayed", b1)
    writeBatch(inbox, "batch2", b2)
    val got = drain(inbox.toString, out, ckpt)
    assert(got === batchCusum(b1 ++ b2),
      "duplicate-file replay must converge to the exactly-once trajectory")
  }

  test("the step fold is split-invariant") {
    val evs = b1.filter(_._1 == 3L) ++ b2.filter(_._1 == 3L)
    val whole = Cusum.step(Cusum.CusumBuf(0L, 0L, 0L),
      evs.map(e => Cusum.CusumEvent(e._1, e._2, e._3, e._4)),
      Target, Drift, H)
    for (cut <- 1 until evs.size) {
      val (a, b) = evs.splitAt(cut)
      val st1 = Cusum.step(Cusum.CusumBuf(0L, 0L, 0L),
        a.map(e => Cusum.CusumEvent(e._1, e._2, e._3, e._4)),
        Target, Drift, H)
      val st2 = Cusum.step(st1,
        b.map(e => Cusum.CusumEvent(e._1, e._2, e._3, e._4)),
        Target, Drift, H)
      assert(st2 === whole, s"split at $cut diverged")
    }
  }
}
