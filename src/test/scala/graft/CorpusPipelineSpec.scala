package graft

import org.apache.spark.sql.functions._

import java.nio.file.Files

/** End-to-end corpus curation build (the LLM-pipeline counterpart of
  * ReleasePipelineSpec): stage counts must shrink monotonically
  * through filter → dedup → decontaminate → sample, the kv handoff
  * must round-trip the final corpus exactly, and the dropped sets
  * must actually be disjoint from the survivors.
  */
class CorpusPipelineSpec extends SparkSpec {

  // a directory that does not exist yet: the stages run as a DAG, so
  // whichever writes first creates it
  private lazy val out =
    Files.createTempDirectory("graft-corpus").resolve("out").toString
  private lazy val built = CorpusPipeline.build(spark, sf, out)

  test("corpus pipeline runs end-to-end with consistent stages") {
    // declared order, whatever order the concurrent stages finished in
    assert(built.map(_._1) === Seq("corpus_raw", "corpus_normalized",
      "corpus_filtered", "neardup_pairs", "corpus_deduped", "contaminated",
      "corpus_clean", "corpus_rewritten", "corpus_sampled", "corpus_stats",
      "corpus_shards", "corpus_kv", "corpus_jsonl"))
    val stages = built.toMap

    assert(stages("corpus_raw") > 0)
    assert(stages("corpus_normalized") === stages("corpus_raw"),
      "normalization rewrites text, never drops rows")
    assert(stages("corpus_filtered") <= stages("corpus_raw"))
    assert(stages("corpus_deduped") <= stages("corpus_filtered"))
    assert(stages("corpus_clean") <= stages("corpus_deduped"))
    assert(stages("corpus_rewritten") <= stages("corpus_clean"))
    assert(stages("corpus_sampled") <= stages("corpus_rewritten"))
    assert(stages("corpus_sampled") > 0)
    // the kv log round-trips the final corpus row-for-row
    assert(stages("corpus_kv") === stages("corpus_sampled"))
    assert(stages("corpus_jsonl") === stages("corpus_sampled"),
      "gz-JSONL shard export must round-trip every final doc")

    val clean = spark.read.parquet(s"$out/corpus_clean")
    val contaminated = spark.read.parquet(s"$out/contaminated")
    assert(clean.join(contaminated, Seq("doc_id")).count() === 0,
      "contaminated docs must not survive into the clean corpus")

    // near-dup pairs: for every verified pair at most one side survives
    val pairs = spark.read.parquet(s"$out/neardup_pairs")
    val deduped = spark.read.parquet(s"$out/corpus_deduped")
      .select(col("doc_id"))
    val bothSurvive = pairs
      .join(deduped.withColumnRenamed("doc_id", "da"), Seq("da"))
      .join(deduped.withColumnRenamed("doc_id", "db"), Seq("db"))
    assert(bothSurvive.count() === 0,
      "a verified near-dup pair kept both members")

    // kv point lookup: one known surviving doc comes back intact
    val sampled = spark.read.parquet(s"$out/corpus_sampled")
    val one = sampled.select(col("doc_id")).orderBy(col("doc_id")).head.getLong(0)
    val key = f"$one%012d"
    val hit = spark.read.format("graftkv").load(s"$out/corpus_kv")
      .filter(col("k") === key)
    assert(hit.count() === 1)

    // shard assignment partitions the final corpus: every doc gets
    // exactly one (shard, pos) and pos is the dense 1..n_shard rank
    val shards = spark.read.parquet(s"$out/corpus_shards")
    assert(stages("corpus_shards") === stages("corpus_sampled"))
    val perShard = shards.groupBy(col("shard"))
      .agg(count(lit(1)).as("n"), min(col("pos")).as("lo"),
        max(col("pos")).as("hi"), countDistinct(col("pos")).as("nd"))
      .collect()
    perShard.foreach { r =>
      assert(r.getLong(2) === 1L && r.getLong(3) === r.getLong(1) &&
        r.getLong(4) === r.getLong(1),
        s"shard ${r.getInt(0)}: pos is not a dense 1..n rank")
    }

    // per-language stats cover exactly the languages in the corpus
    val stats = spark.read.parquet(s"$out/corpus_stats")
    assert(stats.count() ===
      sampled.select(col("lang")).distinct().count())
  }

  test("the jsonl read-back fails on a corrupt or mistyped line") {
    val jsonl = java.nio.file.Paths.get(s"$out/corpus_jsonl")
    assert(CorpusPipeline.jsonlRows(spark, jsonl.toString) === built.toMap.apply("corpus_jsonl"))
    // a copy of the shard dirs with one bad line added to one shard
    def withLine(line: String): String = {
      val copy = Files.createTempDirectory("graft-jsonl-copy").resolve("corpus_jsonl")
      Files.walk(jsonl).forEach { p =>
        val to = copy.resolve(jsonl.relativize(p).toString)
        if (Files.isDirectory(p)) Files.createDirectories(to) else Files.copy(p, to)
      }
      val shard = Files.list(copy).filter(_.getFileName.toString.startsWith("shard="))
        .findFirst().get()
      val gz = new java.util.zip.GZIPOutputStream(
        Files.newOutputStream(shard.resolve("part-99999-bad.json.gz")))
      try gz.write(("{\"doc_id\":1,\"pos\":1,\"text\":\"ok\",\"lang\":\"en\"}\n" + line + "\n")
        .getBytes("UTF-8"))
      finally gz.close()
      copy.toString
    }
    for (bad <- Seq("{\"doc_id\":2,\"pos\":2,\"text\":\"cut off",
                    "{\"doc_id\":\"three\",\"pos\":3,\"text\":\"t\",\"lang\":\"en\"}",
                    "{\"doc_id\":4,\"pos\":4.5,\"text\":\"t\",\"lang\":\"en\"}")) {
      val e = intercept[Exception](CorpusPipeline.jsonlRows(spark, withLine(bad)))
      assert(Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
        .exists(t => String.valueOf(t.getMessage).contains("FAILFAST")),
        s"not a FAILFAST parse error for $bad: $e")
    }
  }
}
