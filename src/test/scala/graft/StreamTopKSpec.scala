package graft

import graft.streaming.{Drain, StreamTopK}
import org.apache.spark.sql.types._

/** Multi-batch semantics of the streaming SpaceSaving top-k
  * (graft.streaming.StreamTopK): the per-window sketch state must
  * accumulate across batch boundaries AND query restarts (shared
  * checkpoint, the NearDedupReplaySpec deployment shape), each batch
  * re-emits the window's current top-N tagged with the processed
  * total, and an append sink dedupes exactly with
  * max-n_processed-per-(window, rank). In the exact regime (capacity
  * >= distinct keys per window) the drained result must equal a
  * batch groupBy over everything fed so far.
  */
class StreamTopKSpec extends SparkSpec {

  private val schema = StructType(Seq(
    StructField("window_us", LongType), StructField("key", StringType)))

  private def writeBatch(dir: java.io.File, name: String,
                         rows: Seq[(Long, String)]): Unit = {
    import spark.implicits._
    val tmp = new java.io.File(dir, s"__tmp_$name")
    rows.toDF("window_us", "key").coalesce(1).write.parquet(tmp.toString)
    val part = tmp.listFiles().find(_.getName.endsWith(".parquet")).get
    java.nio.file.Files.move(part.toPath,
      new java.io.File(dir, s"$name.parquet").toPath)
    tmp.listFiles().foreach(_.delete()); tmp.delete()
  }

  /** One AvailableNow drain with a shared checkpoint; returns the
    * deduped final top-N per window: rows from the max n_processed
    * emission of each window.
    */
  private def drain(inbox: String, out: String, ckpt: String,
                    capacity: Int, topN: Int): Map[(Long, Int), (String, Long)] = {
    val sess = spark.newSession()
    import sess.implicits._
    val events = sess.readStream.schema(schema).parquet(inbox)
      .as[StreamTopK.KeyedEvent]
    val rows = Drain.parquet(spark, "topk_replay",
        StreamTopK.topkStream(events, capacity, topN).toDF(), out, ckpt).collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getString(2), r.getLong(3),
        r.getLong(5)))
    val latest = rows.groupBy(_._1).view.mapValues(_.map(_._5).max).toMap
    rows.filter(r => r._5 == latest(r._1))
      .map(r => (r._1, r._2) -> (r._3, r._4)).toMap
  }

  test("sketch state accumulates across batches and restarts; exact regime equals batch recompute") {
    val root = java.nio.file.Files.createTempDirectory("stream-topk-").toFile
    val inbox = new java.io.File(root, "inbox"); inbox.mkdirs()
    val out = s"$root/out"; val ckpt = s"$root/ckpt"

    val batch1 = Seq.fill(5)(1000L -> "a") ++ Seq.fill(3)(1000L -> "b") ++
      Seq.fill(1)(1000L -> "c") ++ Seq.fill(2)(2000L -> "x")
    writeBatch(inbox, "batch1", batch1)
    val r1 = drain(inbox.toString, out, ckpt, capacity = 64, topN = 2)
    assert(r1((1000L, 1)) === ("a", 5L))
    assert(r1((1000L, 2)) === ("b", 3L))
    assert(r1((2000L, 1)) === ("x", 2L))

    // batch 2 after the first query finished: restart from the same
    // checkpoint — window 1000's counts must carry over, and 'c'
    // overtakes 'b'
    val batch2 = Seq.fill(4)(1000L -> "c") ++ Seq.fill(1)(1000L -> "a") ++
      Seq.fill(3)(2000L -> "y")
    writeBatch(inbox, "batch2", batch2)
    val r2 = drain(inbox.toString, out, ckpt, capacity = 64, topN = 2)
    assert(r2((1000L, 1)) === ("a", 6L), "state lost across restart")
    assert(r2((1000L, 2)) === ("c", 5L), "batch-2 keys not merged into state")
    assert(r2((2000L, 1)) === ("y", 3L))
    assert(r2((2000L, 2)) === ("x", 2L))

    // exact-regime check against a batch recompute of everything fed
    val all = batch1 ++ batch2
    val truth = all.groupBy(identity).view.mapValues(_.size.toLong).toMap
    r2.foreach { case ((w, _), (k, est)) =>
      assert(est === truth((w, k)), s"window $w key $k")
    }
  }

  test("over-capacity state still honors the over-estimate bracket across batches") {
    val root = java.nio.file.Files.createTempDirectory("stream-topk-cap-").toFile
    val inbox = new java.io.File(root, "inbox"); inbox.mkdirs()
    val out = s"$root/out"; val ckpt = s"$root/ckpt"

    def zipf(offset: Int) = (0 until 12).flatMap(i =>
      Seq.fill(24 / (i + 1))(1000L -> f"k${(i + offset) % 12}%02d"))
    writeBatch(inbox, "batch1", zipf(0))
    drain(inbox.toString, out, ckpt, capacity = 4, topN = 3)
    writeBatch(inbox, "batch2", zipf(3))
    val r = drain(inbox.toString, out, ckpt, capacity = 4, topN = 3)

    val truth = (zipf(0) ++ zipf(3)).groupBy(identity).view
      .mapValues(_.size.toLong).toMap
    r.foreach { case ((w, _), (k, est)) =>
      val actual = truth((w, k))
      assert(est >= actual, s"$k: est $est under-counts true $actual")
    }
  }

  test("TTL variant evicts idle windows and re-seeds on late arrivals") {
    import org.apache.spark.sql.types.TimestampType
    val root = java.nio.file.Files.createTempDirectory("stream-topk-ttl-").toFile
    val inbox = new java.io.File(root, "inbox"); inbox.mkdirs()
    val out = s"$root/out"; val ckpt = s"$root/ckpt"
    val ttlSchema = StructType(Seq(StructField("window_us", LongType),
      StructField("key", StringType), StructField("ts", TimestampType)))

    def writeTimed(name: String, rows: Seq[(Long, String, String)]): Unit = {
      import spark.implicits._
      val df = rows.toDF("window_us", "key", "s")
        .selectExpr("window_us", "key", "CAST(s AS TIMESTAMP) AS ts")
      val tmp = new java.io.File(root, s"__tmp_$name")
      df.coalesce(1).write.parquet(tmp.toString)
      val part = tmp.listFiles().find(_.getName.endsWith(".parquet")).get
      java.nio.file.Files.move(part.toPath,
        new java.io.File(inbox, s"$name.parquet").toPath)
      tmp.listFiles().foreach(_.delete()); tmp.delete()
    }
    def drainTtl(): Map[(Long, Int), (String, Long, Long)] = {
      val sess = spark.newSession()
      import sess.implicits._
      val events = sess.readStream.schema(ttlSchema).parquet(inbox.toString)
        .withWatermark("ts", "0 seconds").as[StreamTopK.TimedEvent]
      val stream = StreamTopK
        .topkStreamTtl(events, capacity = 16, topN = 3,
          ttl = scala.concurrent.duration.Duration(1, "hour"))
      val rows = Drain.parquet(spark, "topk_ttl_replay", stream.toDF(), out, ckpt)
        .collect()
        .map(r => (r.getLong(0), r.getInt(1), r.getString(2), r.getLong(3),
          r.getLong(5)))
      val latest = rows.groupBy(_._1).view.mapValues(_.map(_._5).max).toMap
      rows.filter(r => r._5 == latest(r._1))
        .map(r => (r._1, r._2) -> (r._3, r._4, r._5)).toMap
    }

    // batch 1: window 1000 sees a twice, b once
    writeTimed("b1", Seq((1000L, "a", "2026-01-01 10:00:00"),
      (1000L, "a", "2026-01-01 10:00:00"), (1000L, "b", "2026-01-01 10:00:00")))
    val r1 = drainTtl()
    assert(r1((1000L, 1)) === ("a", 2L, 3L))

    // batch 2: same window inside the TTL → the sketch ACCUMULATES
    writeTimed("b2", Seq((1000L, "b", "2026-01-01 10:30:00"),
      (1000L, "b", "2026-01-01 10:30:00"), (1000L, "b", "2026-01-01 10:30:00")))
    val r2 = drainTtl()
    assert(r2((1000L, 1)) === ("b", 4L, 6L), "within-TTL state must accumulate")

    // batch 3: event time jumps a day (watermark sails past the TTL),
    // touching only window 2000 — window 1000's state must evict
    writeTimed("b3", Seq((2000L, "z", "2026-01-02 12:00:00")))
    drainTtl()

    // batch 4: a LATE arrival for window 1000 re-seeds an EMPTY sketch:
    // its new emission counts only itself (n_processed restarts), so
    // the still-max emission from batch 2 remains the window's answer —
    // and the fresh row proves the old sketch was gone (an unevicted
    // sketch would emit n_processed = 7)
    writeTimed("b4", Seq((1000L, "c", "2026-01-02 12:00:01")))
    val r4 = drainTtl()
    assert(r4((1000L, 1)) === ("b", 4L, 6L),
      "the pre-eviction emission stays the max")
    val raw = spark.read.parquet(out).collect()
      .map(r => (r.getLong(0), r.getString(2), r.getLong(3), r.getLong(5)))
    assert(raw.contains((1000L, "c", 1L, 1L)),
      "late arrival must re-seed an empty sketch (count restarts at 1)")
    assert(!raw.exists(t => t._1 == 1000L && t._4 == 7L),
      "an n_processed=7 emission would mean the sketch survived the TTL")
  }
}
