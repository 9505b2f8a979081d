package graft

import graft.Chains.Format
import graft.Chains.Format._
import graft.sources.kvlog.GraftKVUtilAccess
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._

/** The pipelines' one stage writer ([[Chains.Stages]]): a stage's
  * readers get its certified read-back, and in every format one
  * mutated file fails the stage's read-back with an error naming the
  * stage, where a bare count() of the same files passes.
  */
class StagesSpec extends SparkSpec {

  private def outDir(): String = Files.createTempDirectory("graft-stages").toString

  private def files(dir: Path, suffix: String): Seq[Path] = {
    val walk = Files.walk(dir)
    try walk.iterator.asScala.filter(_.getFileName.toString.endsWith(suffix)).toSeq.sorted
    finally walk.close()
  }

  // the local FS checks a file against its .crc sibling; a mutated file
  // must fail on its content, not on a stale checksum
  private def dropCrc(f: Path): Unit =
    Files.deleteIfExists(f.resolveSibling(s".${f.getFileName}.crc"))

  private def gzipLines(to: Path, lines: String*): Unit = {
    val gz = new java.util.zip.GZIPOutputStream(Files.newOutputStream(to))
    try gz.write(lines.map(_ + "\n").mkString.getBytes("UTF-8")) finally gz.close()
  }

  private def causes(e: Throwable): Seq[String] =
    Iterator.iterate(e)(_.getCause).takeWhile(_ != null).map(t => String.valueOf(t.getMessage)).toSeq

  /** Writes `df` as stage `name`, applies `mutate` to its output dir,
    * then reads the stage back in a step of its own: that step must fail,
    * named, for a reason in which `expected` appears. */
  private def mutated(name: String, format: Format, df: DataFrame, expected: String)(
      mutate: Path => Unit): Unit = {
    val out = outDir()
    val st = new Chains.Stages(spark, out)
    Chains.run(spark, Seq(st.stage(name, format)(df)))
    assert(st.rows(name) === df.count())
    mutate(Paths.get(out, name))
    val e = intercept[RuntimeException](Chains.run(spark,
      Seq(Chains.step(name)(st.certified(name, Chains.read(spark, format, df.schema, s"$out/$name"))))))
    assert(e.getMessage.startsWith(s"$name failed: "), e.getMessage)
    assert(causes(e).exists(_.contains(expected)), s"$name: not a '$expected' error: $e")
  }

  test("a stage's readers get its read-back frame, and the build its rows") {
    val st = new Chains.Stages(spark, outDir())
    Chains.run(spark, Seq(
      st.stage("ids", Parquet())(spark.range(10).toDF("id")),
      st.stage("evens", Json(), "ids")(st("ids").filter(col("id") % 2 === 0)),
      st.count("odds", "ids")(st("ids").filter(col("id") % 2 === 1).count())))
    assert(Seq("ids", "evens", "odds").map(st.rows) === Seq(10L, 5L, 5L))
    assert(st("evens").collect().map(_.getLong(0)).sorted.toSeq === Seq(0L, 2L, 4L, 6L, 8L))
  }

  test("parquet: a column written as string fails its stage") {
    val df = spark.range(20).select(col("id"), (col("id") * 2).as("v"))
    mutated("pq_stage", Parquet(), df, "PARQUET_COLUMN_DATA_TYPE_MISMATCH") { dir =>
      val part = files(dir, ".parquet").head
      val other = Paths.get(outDir(), "as_string")
      df.limit(3).select(col("id"), col("v").cast("string").as("v")).coalesce(1)
        .write.parquet(other.toString)
      Files.copy(files(other, ".parquet").head, part,
        java.nio.file.StandardCopyOption.REPLACE_EXISTING)
      dropCrc(part)
      // the pruned count reads no column, so it does not see the type
      assert(spark.read.schema(df.schema).parquet(dir.toString).count() > 0)
    }
  }

  test("graftkv: a corrupt bucket fails its stage") {
    val df = spark.range(3000).select(lpad(col("id").cast("string"), 6, "0").as("k"),
      col("id").as("v"))
    mutated("kv_stage", GraftKv(1024), df, "GZIP") { dir =>
      val part = files(dir, ".gkv").head
      val bucket = GraftKVUtilAccess.footerOf(part.toString).buckets.head
      val bytes = Files.readAllBytes(part)
      java.util.Arrays.fill(bytes, bucket.offset.toInt, (bucket.offset + bucket.length).toInt, 0.toByte)
      Files.write(part, bytes)
      dropCrc(part)
      // the footer count decodes no bucket, so it does not see the damage
      assert(spark.read.format("graftkv").load(dir.toString).count() === 3000)
    }
  }

  test("gzip TSV: a non-integer position fails its stage") {
    val df = spark.range(10).select(col("id").as("protein"),
      concat(lit("IPR"), col("id").cast("string")).as("entry"), col("id").cast("int").as("start"))
    mutated("tsv_stage", Tsv, df, "FAILFAST") { dir =>
      gzipLines(dir.resolve("part-99999-bad.csv.gz"), "1\tIPR1\t1", "2\tIPR2\tsecond")
    }
  }

  test("gzip JSON docs: a mistyped field fails its stage") {
    val df = spark.range(10).select(col("id").cast("string").as("doc_id"), col("id").as("n"))
    mutated("json_stage", Json(), df, "FAILFAST") { dir =>
      gzipLines(dir.resolve("part-99999-bad.json.gz"), "{\"doc_id\":\"a\",\"n\":\"many\"}")
    }
  }

  test("JSONL shards: each of three bad lines fails its stage") {
    val df = spark.range(16).select(col("id").as("doc_id"), (col("id") % 4).cast("int").as("shard"),
      col("id").as("pos"), lit("some text").as("text"), lit("en").as("lang"))
    for (bad <- Seq("{\"doc_id\":2,\"pos\":2,\"text\":\"cut off",
                    "{\"doc_id\":\"three\",\"pos\":3,\"text\":\"t\",\"lang\":\"en\"}",
                    "{\"doc_id\":4,\"pos\":4.5,\"text\":\"t\",\"lang\":\"en\"}"))
      mutated("jsonl_stage", Json(Seq("shard")), df, "FAILFAST") { dir =>
        gzipLines(dir.resolve("shard=1").resolve("part-99999-bad.json.gz"),
          "{\"doc_id\":1,\"pos\":1,\"text\":\"ok\",\"lang\":\"en\"}", bad)
      }
  }
}
