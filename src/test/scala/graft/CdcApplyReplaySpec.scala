package graft

import graft.streaming.{CdcApply, Drain}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Multi-batch semantics of the streaming CDC apply: the winning op
  * is a max over the (ts, event_id) total order, so the drained final
  * table must equal the batch latest-wins MERGE under ANY batch split
  * and ANY arrival order — a late-arriving OLDER op must lose to the
  * already-applied newer one, a tombstone must suppress the key, and
  * a still-newer upsert must revive it. Drains restart from a shared
  * checkpoint; read-back dedupes on max n_processed per key — the
  * harness contract.
  */
class CdcApplyReplaySpec extends SparkSpec {

  private val schema = StructType(Seq(
    StructField("user_id", LongType), StructField("us", LongType),
    StructField("event_id", LongType), StructField("value", DoubleType),
    StructField("delete", BooleanType)))

  private def writeBatch(dir: java.io.File, name: String,
      rows: Seq[(Long, Long, Long, Double, Boolean)]): Unit = {
    import spark.implicits._
    val df = rows.toDF("user_id", "us", "event_id", "value", "delete")
    val tmp = new java.io.File(dir, s"__tmp_$name")
    df.coalesce(1).write.parquet(tmp.toString)
    val part = tmp.listFiles().find(_.getName.endsWith(".parquet")).get
    java.nio.file.Files.move(part.toPath,
      new java.io.File(dir, s"$name.parquet").toPath)
    tmp.listFiles().foreach(_.delete()); tmp.delete(): Unit
  }

  private def drain(inbox: String, out: String,
      ckpt: String): Map[Long, (Long, Long, Double, Boolean)] = {
    val sess = spark.newSession()
    import sess.implicits._
    val ops = sess.readStream.schema(schema).parquet(inbox)
      .as[CdcApply.CdcOp]
    Drain.parquet(spark, "cdc_apply_replay", CdcApply.applyStream(ops).toDF(),
        out, ckpt)
      .withColumn("mx", max(col("n_processed"))
        .over(org.apache.spark.sql.expressions.Window
          .partitionBy(col("user_id"))))
      .filter(col("n_processed") === col("mx"))
      .collect()
      .map(r => r.getLong(0) ->
        (r.getLong(1), r.getLong(2), r.getDouble(3), r.getBoolean(4)))
      .toMap
  }

  /** Ground truth: batch latest-wins over the full changelog. */
  private def batchMerge(ops: Seq[(Long, Long, Long, Double, Boolean)])
      : Map[Long, (Long, Long, Double, Boolean)] =
    ops.groupBy(_._1).map { case (k, os) =>
      val w = os.maxBy(o => (o._2, o._3))
      k -> (w._2, w._3, w._4, w._5)
    }

  test("late old ops lose, tombstones suppress, newer upserts revive — across restarts") {
    val root = java.nio.file.Files.createTempDirectory("cdc-replay-").toFile
    val inbox = new java.io.File(root, "inbox"); inbox.mkdirs()
    val out = s"$root/out"; val ckpt = s"$root/ckpt"

    // key 1: upsert@10 then tombstone@20 in batch1 (dead);
    //   batch2 delivers a LATE OLDER upsert@15 (must stay dead) and a
    //   NEWER upsert@30 (revives).
    // key 2: upserts only; batch2's op is older — value stays batch1's.
    // key 3: same-ts tie broken by higher event_id.
    val b1 = Seq((1L, 10L, 100L, 1.0, false), (1L, 20L, 101L, 0.0, true),
      (2L, 50L, 102L, 2.0, false), (3L, 70L, 103L, 3.0, false))
    val b2 = Seq((1L, 15L, 104L, 9.0, false), (1L, 30L, 105L, 4.0, false),
      (2L, 40L, 106L, 8.0, false), (3L, 70L, 107L, 5.0, false))

    writeBatch(inbox, "batch1", b1)
    val afterB1 = drain(inbox.toString, out, ckpt)
    assert(afterB1 === batchMerge(b1), "single batch = batch merge")
    assert(afterB1(1L)._4, "tombstone wins at batch1")

    writeBatch(inbox, "batch2", b2)
    val afterB2 = drain(inbox.toString, out, ckpt)
    assert(afterB2 === batchMerge(b1 ++ b2),
      "replay across a restart must equal the batch recomputation")
    assert(afterB2(1L) === ((30L, 105L, 4.0, false)),
      "the newer upsert revives the tombstoned key; the late older one lost")
    assert(afterB2(2L) === ((50L, 102L, 2.0, false)),
      "an older op arriving later never overwrites")
    assert(afterB2(3L) === ((70L, 107L, 5.0, false)),
      "equal timestamps break by higher event_id")
  }
}
