package graft

import graft.streaming.{Drain, NearDedup}
import org.apache.spark.sql.types._

import scala.concurrent.duration._

/** Multi-batch semantics of the streaming near-dedup
  * (graft.streaming.NearDedup): the in-bench oracle match relies on
  * Trigger.AvailableNow delivering ONE batch, so this suite pins what
  * happens across batches — first-seen-wins representatives survive a
  * batch boundary AND a query restart, and the TTL variant evicts
  * idle bucket state deterministically in EVENT time.
  *
  * Every drain here restarts the query from a shared checkpoint — the
  * exact deployment shape of an incremental ingest job (the
  * reference's `.load`/`.done` indexer restarts per release the same
  * way). Timeouts are event-time on purpose: watermark-driven sweeps
  * are deterministic under replay (no Thread.sleep in this suite) and
  * an AvailableNow drain terminates — ProcessingTimeTimeout makes the
  * stateful operator request another batch forever.
  */
class NearDedupReplaySpec extends SparkSpec {

  private val N = 3
  private val K = 16
  private val BANDS = 8
  private val TTL = 2.minutes

  // identical text => identical signature => shares every LSH band
  private val textA = "alpha beta gamma delta epsilon zeta eta theta"
  private val textB = "one two three four five six seven eight nine"
  private val textC = "red orange yellow green blue indigo violet maroon"

  private val schema = StructType(Seq(
    StructField("doc_id", LongType), StructField("text", StringType),
    StructField("ts", TimestampType)))

  private def writeBatch(dir: java.io.File, name: String,
                         rows: Seq[(Long, String, String)]): Unit = {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val df = rows.toDF("doc_id", "text", "ts_s")
      .select(col("doc_id"), col("text"), to_timestamp(col("ts_s")).as("ts"))
    val tmp = new java.io.File(dir, s"__tmp_$name")
    df.coalesce(1).write.parquet(tmp.toString)
    val part = tmp.listFiles().find(_.getName.endsWith(".parquet")).get
    java.nio.file.Files.move(part.toPath,
      new java.io.File(dir, s"$name.parquet").toPath)
    tmp.listFiles().foreach(_.delete()); tmp.delete()
  }

  /** One AvailableNow drain of the inbox with a SHARED checkpoint (so
    * successive drains model a restarted long-running query), through
    * either the unbounded flagPairs (ttl=None) or the event-time
    * flagPairsTtl. Returns the cumulative distinct pairs in the sink.
    */
  private def drain(inbox: String, out: String, ckpt: String,
                    ttl: Option[FiniteDuration]): Set[(Long, Long)] = {
    val sess = spark.newSession()
    import sess.implicits._
    val docs = sess.readStream.schema(schema).parquet(inbox)
    val pairs = ttl match {
      case None =>
        NearDedup.flagPairs(
          NearDedup.bandKeys(docs, N, K, BANDS).as[(Long, Long)])
      case Some(t) =>
        NearDedup.flagPairsTtl(
          NearDedup.bandKeys(docs.withWatermark("ts", "0 seconds"),
            N, K, BANDS, extraCols = Seq("ts")).as[NearDedup.BandHit], t)
    }
    Drain.parquet(spark, "near_dedup_replay", pairs, out, ckpt).distinct().collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
  }

  test("first-seen-wins survives the batch boundary: a later batch's duplicate flags against the first batch's representative") {
    val root = java.nio.file.Files.createTempDirectory("neardedup-replay-").toFile
    val inbox = new java.io.File(root, "inbox"); inbox.mkdirs()
    val out = s"$root/out"; val ckpt = s"$root/ckpt"

    writeBatch(inbox, "batch1",
      Seq((10L, textA, "2026-01-01 10:00:00"), (11L, textB, "2026-01-01 10:00:00")))
    assert(drain(inbox.toString, out, ckpt, ttl = None) === Set.empty,
      "no duplicates within batch 1")

    // batch 2 arrives after the first query finished: restart from the
    // same checkpoint — bucket A's representative must persist
    writeBatch(inbox, "batch2",
      Seq((20L, textA, "2026-01-01 10:01:00"), (21L, textC, "2026-01-01 10:01:00")))
    assert(drain(inbox.toString, out, ckpt, ttl = None) === Set((20L, 10L)),
      "doc 20 must flag against batch 1's representative 10")
  }

  test("within the TTL the representative persists across a restart") {
    val root = java.nio.file.Files.createTempDirectory("neardedup-refresh-").toFile
    val inbox = new java.io.File(root, "inbox"); inbox.mkdirs()
    val out = s"$root/out"; val ckpt = s"$root/ckpt"

    writeBatch(inbox, "batch1", Seq((10L, textA, "2026-01-01 10:00:00")))
    assert(drain(inbox.toString, out, ckpt, Some(TTL)) === Set.empty)
    // 1 minute of event time elapses — inside the 2-minute TTL
    writeBatch(inbox, "batch2", Seq((20L, textA, "2026-01-01 10:01:00")))
    assert(drain(inbox.toString, out, ckpt, Some(TTL)) === Set((20L, 10L)),
      "within the TTL the representative persists across batches")
  }

  test("TTL evicts a bucket idle past its horizon in event time; the next arrival re-seeds it") {
    val root = java.nio.file.Files.createTempDirectory("neardedup-ttl-").toFile
    val inbox = new java.io.File(root, "inbox"); inbox.mkdirs()
    val out = s"$root/out"; val ckpt = s"$root/ckpt"

    writeBatch(inbox, "batch1", Seq((10L, textA, "2026-01-01 10:00:00")))
    assert(drain(inbox.toString, out, ckpt, Some(TTL)) === Set.empty)

    // an unrelated doc 30 minutes later advances the watermark far past
    // bucket A's 10:02 timeout — the sweep evicts bucket A this drain
    writeBatch(inbox, "batch2", Seq((21L, textC, "2026-01-01 10:30:00")))
    assert(drain(inbox.toString, out, ckpt, Some(TTL)) === Set.empty)

    // bucket A's state is gone: doc 10's text re-seeds instead of
    // flagging against the evicted representative
    writeBatch(inbox, "batch3", Seq((30L, textA, "2026-01-01 10:31:00")))
    assert(drain(inbox.toString, out, ckpt, Some(TTL)) === Set.empty,
      "doc 30 must re-seed the evicted bucket, not flag against 10")

    // and the re-seed is real: the next duplicate inside the TTL flags
    // against 30, not the long-gone 10
    writeBatch(inbox, "batch4", Seq((31L, textA, "2026-01-01 10:32:00")))
    assert(drain(inbox.toString, out, ckpt, Some(TTL)) === Set((31L, 30L)),
      "doc 31 must flag against the re-seeded representative 30")
  }

  test("TTL'd and unbounded variants agree on a single batch (the in-bench drain shape)") {
    val root = java.nio.file.Files.createTempDirectory("neardedup-single-").toFile
    val inbox = new java.io.File(root, "inbox"); inbox.mkdirs()
    writeBatch(inbox, "batch1", Seq(
      (10L, textA, "2026-01-01 10:00:00"), (11L, textB, "2026-01-01 10:00:00"),
      (20L, textA, "2026-01-01 10:00:30"), (21L, textC, "2026-01-01 10:00:30")))
    val withTtl = drain(inbox.toString, s"$root/out1", s"$root/ckpt1", Some(TTL))
    val noTtl = drain(inbox.toString, s"$root/out2", s"$root/ckpt2", None)
    assert(withTtl === noTtl)
    assert(withTtl === Set((20L, 10L)))
  }
}
