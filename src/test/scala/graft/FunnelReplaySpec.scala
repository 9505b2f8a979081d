package graft

import graft.streaming.{Drain, Funnel}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Multi-batch semantics of the streaming funnel: the state's
  * candidate retention must make the drain REPLAY-EXACT even when a
  * later batch delivers an EARLIER view (t1 moves back, which both
  * invalidates previously-valid clicks past the new t1+W and
  * validates clicks the old t1 excluded). Drains restart from a
  * shared checkpoint; read-back dedupes on max n_processed per user —
  * the harness contract.
  */
class FunnelReplaySpec extends SparkSpec {

  private val schema = StructType(Seq(
    StructField("user_id", LongType), StructField("etype", StringType),
    StructField("us", LongType)))

  private val W = 100L // funnel window (micros, tiny for readability)

  private def writeBatch(dir: java.io.File, name: String,
                         rows: Seq[(Long, String, Long)]): Unit = {
    import spark.implicits._
    val df = rows.toDF("user_id", "etype", "us")
    val tmp = new java.io.File(dir, s"__tmp_$name")
    df.coalesce(1).write.parquet(tmp.toString)
    val part = tmp.listFiles().find(_.getName.endsWith(".parquet")).get
    java.nio.file.Files.move(part.toPath,
      new java.io.File(dir, s"$name.parquet").toPath)
    tmp.listFiles().foreach(_.delete()); tmp.delete()
  }

  private def drain(inbox: String, out: String,
                    ckpt: String): Map[Long, (Long, Option[Long], Option[Long])] = {
    val sess = spark.newSession()
    import sess.implicits._
    val events = sess.readStream.schema(schema).parquet(inbox)
      .as[Funnel.FunnelEvent]
    val rows = Drain.parquet(spark, "funnel_replay",
        Funnel.funnelStream(events, W).toDF(), out, ckpt)
      .withColumn("mx", max(col("n_processed"))
        .over(org.apache.spark.sql.expressions.Window
          .partitionBy(col("user_id"))))
      .filter(col("n_processed") === col("mx"))
      .collect()
    rows.map { r =>
      r.getLong(0) -> (r.getLong(1),
        if (r.isNullAt(2)) None else Some(r.getLong(2)),
        if (r.isNullAt(3)) None else Some(r.getLong(3)))
    }.toMap
  }

  /** Ground truth: the batch funnel cascade over all events. */
  private def batchFunnel(evs: Seq[(Long, String, Long)])
      : Map[Long, (Long, Option[Long], Option[Long])] =
    evs.groupBy(_._1).flatMap { case (uid, es) =>
      val views = es.collect { case (_, "view", t) => t }
      if (views.isEmpty) None
      else {
        val t1 = views.min
        val hi = t1 + W
        val t2 = es.collect { case (_, "click", t) if t > t1 && t <= hi => t }
          .sorted.headOption
        val t3 = t2.flatMap(t2v => es.collect {
          case (_, "purchase", t) if t > t2v && t <= hi => t
        }.sorted.headOption)
        Some(uid -> (t1, t2, t3))
      }
    }

  test("out-of-order view arrival re-bases the funnel exactly") {
    val root = java.nio.file.Files.createTempDirectory("funnel-replay-").toFile
    val inbox = new java.io.File(root, "inbox"); inbox.mkdirs()
    val out = s"$root/out"; val ckpt = s"$root/ckpt"

    // user 1: batch1 sees view@50, click@120 (valid: 50<120<=150),
    //   purchase@140 -> full depth. batch2 delivers an EARLIER view@10:
    //   window becomes (10,110] -> click@120 now invalid, but click@60
    //   (also late-arriving) is valid, purchase@140 invalid, @100 valid.
    // user 2: clicks/purchases BEFORE its first view stay unused.
    val b1 = Seq((1L, "view", 50L), (1L, "click", 120L),
      (1L, "purchase", 140L), (2L, "click", 10L), (2L, "purchase", 20L))
    val b2 = Seq((1L, "view", 10L), (1L, "click", 60L),
      (1L, "purchase", 100L), (2L, "view", 30L))

    writeBatch(inbox, "batch1", b1)
    val afterB1 = drain(inbox.toString, out, ckpt)
    assert(afterB1 === batchFunnel(b1), "single batch = batch funnel")
    assert(afterB1(1L) === ((50L, Some(120L), Some(140L))))

    writeBatch(inbox, "batch2", b2)
    val afterB2 = drain(inbox.toString, out, ckpt)
    assert(afterB2 === batchFunnel(b1 ++ b2),
      "out-of-order replay must equal the batch recomputation")
    assert(afterB2(1L) === ((10L, Some(60L), Some(100L))),
      "the late early view re-bases t1/t2/t3")
    assert(afterB2(2L) === ((30L, None, None)),
      "pre-view candidates never qualify")
  }

  test("candidates past t1+W are pruned from state") {
    val st = Funnel.step(Funnel.FunnelBuf(Long.MaxValue, Nil, Nil, 0L),
      Seq(Funnel.FunnelEvent(1L, "view", 100L),
        Funnel.FunnelEvent(1L, "click", 150L),
        Funnel.FunnelEvent(1L, "click", 300L), // > 200 = t1+W: dropped
        Funnel.FunnelEvent(1L, "purchase", 180L),
        Funnel.FunnelEvent(1L, "purchase", 250L)), W)
    assert(st.clicks === Seq(150L) && st.purchases === Seq(180L))
    assert(st.nProcessed === 5L)
    // an earlier view arriving later shrinks the window further
    val st2 = Funnel.step(st, Seq(Funnel.FunnelEvent(1L, "view", 20L)), W)
    assert(st2.minView === 20L)
    assert(Funnel.answer(1L, st2, W).get ===
      Funnel.FunnelOut(1L, 20L, None, None, 6L),
      "click@150 > 20+100 no longer qualifies")
  }
}
