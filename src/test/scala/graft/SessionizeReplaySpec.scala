package graft

import graft.streaming.{Drain, Sessionize}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Multi-batch semantics of the streaming gap sessionization: the
  * in-bench oracle match relies on Trigger.AvailableNow delivering ONE
  * batch, so this suite pins the batch boundary — a session spanning
  * two batches merges through the carried open-session state, the
  * re-emitted provisional rows collapse under the max-per-(user,start)
  * read-back, and the result equals a batch recomputation over all
  * events. Drains restart from a shared checkpoint, the deployment
  * shape of an incremental job (same pattern as NearDedupReplaySpec).
  */
class SessionizeReplaySpec extends SparkSpec {

  private val schema = StructType(Seq(
    StructField("user_id", LongType), StructField("ts_us", LongType)))

  private def writeBatch(dir: java.io.File, name: String,
                         rows: Seq[(Long, Long)]): Unit = {
    import spark.implicits._
    val df = rows.toDF("user_id", "ts_us")
    val tmp = new java.io.File(dir, s"__tmp_$name")
    df.coalesce(1).write.parquet(tmp.toString)
    val part = tmp.listFiles().find(_.getName.endsWith(".parquet")).get
    java.nio.file.Files.move(part.toPath,
      new java.io.File(dir, s"$name.parquet").toPath)
    tmp.listFiles().foreach(_.delete()); tmp.delete()
  }

  /** AvailableNow drain with a shared checkpoint; returns the deduped
    * (user, start, end, n) set exactly as the harness read-back does.
    */
  private def drain(inbox: String, out: String, ckpt: String,
                    gapMinutes: Int): Set[(Long, Long, Long, Long)] = {
    val sess = spark.newSession()
    import sess.implicits._
    val events = sess.readStream.schema(schema).parquet(inbox)
      .as[Sessionize.SessionEvent]
    Drain.parquet(spark, "sessionize_replay",
        Sessionize.sessionize(events, gapMinutes).toDF(), out, ckpt)
      .groupBy(col("user_id"), col("start_us"))
      .agg(max(col("end_us")).as("end_us"), max(col("n_events")).as("n"))
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      .toSet
  }

  test("a session spanning the batch boundary merges; read-back equals batch recomputation") {
    val root = java.nio.file.Files.createTempDirectory("sessionize-replay-").toFile
    val inbox = new java.io.File(root, "inbox"); inbox.mkdirs()
    val out = s"$root/out"; val ckpt = s"$root/ckpt"
    val min = 60L * 1000000L // one minute in micros

    // user 1: events at t=0,10min in batch1; 30min in batch2 (within
    //   the 30-min gap of the 10min event -> ONE merged session), then
    //   120min (past the gap -> a second session)
    // user 2: one session entirely in batch1, silent in batch2
    writeBatch(inbox, "batch1",
      Seq((1L, 0L), (1L, 10 * min), (2L, 5 * min)))
    val afterB1 = drain(inbox.toString, out, ckpt, gapMinutes = 30)
    assert(afterB1 === Set(
      (1L, 0L, 10 * min, 2L),
      (2L, 5 * min, 5 * min, 1L)), "single batch: provisional = final")

    writeBatch(inbox, "batch2",
      Seq((1L, 30 * min), (1L, 120 * min)))
    val afterB2 = drain(inbox.toString, out, ckpt, gapMinutes = 30)

    // ground truth: batch recomputation over ALL events
    val expected = Set(
      (1L, 0L, 30 * min, 3L),     // merged across the boundary
      (1L, 120 * min, 120 * min, 1L),
      (2L, 5 * min, 5 * min, 1L))
    assert(afterB2 === expected,
      "cross-batch merge + supersession dedup must equal the batch result")
    assert(Sessionize.sessionsOf(1L,
      Seq((0L, 0L, 1L), (10 * min, 10 * min, 1L), (30 * min, 30 * min, 1L),
        (120 * min, 120 * min, 1L)), 30 * min)
      .map(s => (s.user_id, s.start_us, s.end_us, s.n_events)).toSet
      === expected.filter(_._1 == 1L), "kernel agrees with the drain")
  }
}
