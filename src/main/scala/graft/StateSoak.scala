package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.types._

import scala.concurrent.duration._

/** Long-drain state-store soak for the stateful streaming shapes
  * (ChaosReplaySpec proves replay CORRECTNESS; this tool measures
  * state SIZE over a ~200-micro-batch drain — the evidence that the
  * documented bounds actually bound).
  *
  * Each shape gets a synthetic inbox of one parquet file per
  * micro-batch (maxFilesPerTrigger=1 under a run-to-completion
  * [[graft.streaming.Drain]] = one batch per file, mtimes pinned
  * ascending so the file source preserves batch order), with event
  * time advancing across batches so watermark/TTL eviction actually
  * fires. Key populations are chosen per shape to test the DOCUMENTED
  * bound:
  *   - population-bounded shapes (sessionize, funnel, cdc, cusum) run
  *     a fixed key universe → state rows must PLATEAU at the universe;
  *   - the TTL'd dedup index runs CHURNING content (fresh vocabulary
  *     every batch) → eviction must hold rows near the TTL window's
  *     content, not the cumulative stream;
  *   - retention and windowed top-k grow with distinct active
  *     days / open windows BY DESIGN — the soak records the slope so
  *     the design cost is a number, not a claim.
  *
  * Prints one JSON line per shape: max state rows/bytes per quartile
  * of the drain plus the final batch's values. A leak reads as q4
  * still climbing on a shape whose bound says plateau.
  *
  * Usage: tools/run.sh graft.StateSoak [batches=200] [shape ...]
  */
object StateSoak {

  private case class Probe(batchId: Long, rows: Long, bytes: Long)

  def main(args: Array[String]): Unit = {
    val batches = args.headOption.map(_.toInt).getOrElse(200)
    val only = args.drop(1).toSet
    val root = java.nio.file.Files.createTempDirectory("graft-soak-")
    val spark = SparkLocal.session(root.toString, extra = Seq(
      // retain every micro-batch's progress: the soak reads the state
      // metrics from recentProgress after the drain
      "spark.sql.streaming.numRecentProgressUpdates" -> (batches * 2).toString))

    val baseUs = 1700000000L * 1000000L // fixed epoch base, whole seconds

    def soak(shape: String, schema: StructType,
             gen: (Int, scala.util.Random) => Seq[Seq[Any]],
             build: DataFrame => DataFrame): Unit = {
      if (only.nonEmpty && !only(shape)) return
      val dir = new java.io.File(root.toFile, shape)
      val inbox = new java.io.File(dir, "inbox"); inbox.mkdirs()
      // one parquet file per micro-batch, mtime ascending
      (0 until batches).foreach { i =>
        val rnd = new scala.util.Random(shape.hashCode * 100003L + i)
        val rows = gen(i, rnd).map(vs =>
          org.apache.spark.sql.Row.fromSeq(vs))
        val df = spark.createDataFrame(
          spark.sparkContext.parallelize(rows, 1), schema)
        val tmp = new java.io.File(dir, s"__tmp_$i")
        df.coalesce(1).write.parquet(tmp.toString)
        val part = tmp.listFiles().find(_.getName.endsWith(".parquet")).get
        val dst = new java.io.File(inbox, f"b$i%05d.parquet")
        java.nio.file.Files.move(part.toPath, dst.toPath)
        dst.setLastModified(1700000000000L + i * 1000L)
        tmp.listFiles().foreach(_.delete()); tmp.delete()
      }
      val sess = spark.newSession()
      val src = sess.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1").parquet(inbox.toString)
      val probes = graft.streaming.Drain.toParquet(s"soak_$shape", build(src),
          s"$dir/data", s"$dir/ckpt")
        .filter(_.stateOperators.nonEmpty)
        .map(p => Probe(p.batchId,
          p.stateOperators.map(_.numRowsTotal).sum,
          p.stateOperators.map(_.memoryUsedBytes).sum))
        .sortBy(_.batchId)
      def quart(k: Int, f: Probe => Long): Long = {
        val n = probes.length
        val slice = probes.slice(n * (k - 1) / 4, n * k / 4)
        if (slice.isEmpty) -1L else slice.map(f).max
      }
      val last = probes.lastOption.getOrElse(Probe(-1, -1, -1))
      println(s"""{"tool":"state_soak","shape":"$shape",""" +
        s""""batches":${probes.length},""" +
        s""""rows_q1":${quart(1, _.rows)},"rows_q2":${quart(2, _.rows)},""" +
        s""""rows_q3":${quart(3, _.rows)},"rows_q4":${quart(4, _.rows)},""" +
        s""""bytes_q2":${quart(2, _.bytes)},"bytes_q4":${quart(4, _.bytes)},""" +
        s""""final_rows":${last.rows},"final_bytes":${last.bytes}}""")
    }

    // ---- population-bounded shapes: fixed key universes -------------

    val Users = 2000

    soak("sessionize",
      StructType(Seq(StructField("user_id", LongType),
        StructField("ts_us", LongType))),
      (i, rnd) => (0 until 500).map { _ =>
        Seq(rnd.nextInt(Users).toLong,
          baseUs + i * 600000000L + rnd.nextInt(600).toLong * 1000000L)
      },
      df => {
        import spark.implicits._
        graft.streaming.Sessionize.sessionize(
          df.as[graft.streaming.Sessionize.SessionEvent], 30).toDF()
      })

    soak("funnel",
      StructType(Seq(StructField("user_id", LongType),
        StructField("etype", StringType), StructField("us", LongType))),
      (i, rnd) => (0 until 500).map { _ =>
        val et = Seq("view", "click", "purchase", "other")(rnd.nextInt(4))
        Seq(rnd.nextInt(Users).toLong, et,
          baseUs + i * 600000000L + rnd.nextInt(600).toLong * 1000000L)
      },
      df => {
        import spark.implicits._
        graft.streaming.Funnel.funnelStream(
          df.as[graft.streaming.Funnel.FunnelEvent], 86400000000L).toDF()
      })

    soak("cdc_apply",
      StructType(Seq(StructField("user_id", LongType),
        StructField("us", LongType), StructField("event_id", LongType),
        StructField("value", DoubleType), StructField("delete", BooleanType))),
      (i, rnd) => (0 until 500).map { j =>
        Seq(rnd.nextInt(Users).toLong, baseUs + i * 600000000L + j,
          i * 1000L + j, rnd.nextDouble(), rnd.nextInt(10) == 0)
      },
      df => {
        import spark.implicits._
        graft.streaming.CdcApply.applyStream(
          df.as[graft.streaming.CdcApply.CdcOp]).toDF()
      })

    soak("cusum",
      StructType(Seq(StructField("user_id", LongType),
        StructField("event_id", LongType), StructField("us", LongType),
        StructField("vu", LongType))),
      (i, rnd) => (0 until 500).map { j =>
        Seq(rnd.nextInt(Users).toLong, i * 1000L + j,
          baseUs + i * 600000000L + j, (rnd.nextInt(2000) - 1000).toLong)
      },
      df => {
        import spark.implicits._
        graft.streaming.Cusum.cusumStream(
          df.as[graft.streaming.Cusum.CusumEvent], 0L, 50L, 5000L).toDF()
      })

    // ---- TTL'd dedup index under full content churn ------------------

    soak("near_dedup_ttl",
      StructType(Seq(StructField("doc_id", LongType),
        StructField("text", StringType), StructField("ts", TimestampType))),
      (i, rnd) => (0 until 100).map { j =>
        // fresh vocabulary every batch: without eviction the bucket
        // state would grow linearly with the stream
        val toks = (0 until 12).map(_ => s"w${i}_${rnd.nextInt(400)}")
        Seq(i * 1000L + j, toks.mkString(" "),
          new java.sql.Timestamp(1700000000000L + i * 3600000L))
      },
      df => {
        import spark.implicits._
        graft.streaming.NearDedup.flagPairsTtl(
          graft.streaming.NearDedup.bandKeys(
            df.withWatermark("ts", "0 seconds"), 3, 8, 4,
            extraCols = Seq("ts")).as[graft.streaming.NearDedup.BandHit],
          6.hours)
      })

    // ---- by-design growth shapes: record the slope -------------------

    soak("retention",
      StructType(Seq(StructField("user_id", LongType),
        StructField("epoch_day", IntegerType))),
      (i, rnd) => (0 until 500).map { _ =>
        // Int.box: a bare Seq(Long, Int) numerically widens to
        // Seq[Long] and the IntegerType column then rejects the box
        Seq(rnd.nextInt(1000).toLong, Int.box(i / 2))
      },
      df => {
        import spark.implicits._
        graft.streaming.Retention.retentionStream(
          df.as[graft.streaming.Retention.DayEvent]).toDF()
      })

    soak("stream_topk",
      StructType(Seq(StructField("window_us", LongType),
        StructField("key", StringType))),
      (i, rnd) => (0 until 500).map { _ =>
        // one window per 4 batches; zipf-ish keys from a 500-key pool
        val k = math.min(499, math.abs(rnd.nextGaussian() * 60).toInt)
        Seq(baseUs + (i / 4).toLong * 3600000000L, s"k$k")
      },
      df => {
        import spark.implicits._
        graft.streaming.StreamTopK.topkStream(
          df.as[graft.streaming.StreamTopK.KeyedEvent], 16, 5).toDF()
      })

    // the bounded counterpart: windows churn (a fresh one every other
    // batch, event time advancing an hour per batch) and the 6h TTL
    // must hold state at the horizon's ~6-8 open sketches, not the
    // cumulative window count the NoTimeout shape shows above
    soak("stream_topk_ttl",
      StructType(Seq(StructField("window_us", LongType),
        StructField("key", StringType), StructField("ts", TimestampType))),
      (i, rnd) => (0 until 500).map { _ =>
        val k = math.min(499, math.abs(rnd.nextGaussian() * 60).toInt)
        Seq(baseUs + (i / 2).toLong * 3600000000L, s"k$k",
          new java.sql.Timestamp(1700000000000L + i * 3600000L))
      },
      df => {
        import spark.implicits._
        graft.streaming.StreamTopK.topkStreamTtl(
          df.withWatermark("ts", "0 seconds")
            .as[graft.streaming.StreamTopK.TimedEvent], 16, 5, 6.hours).toDF()
      })

    spark.stop()
  }
}
