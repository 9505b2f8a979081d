package graft

import graft.api.Graft
import graft.ops.{CorpusOps, TextOps}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** The training-data curation run as one Spark application — the
  * LLM-pipeline counterpart of [[ReleasePipeline]]: quality filter →
  * exact-dup demotion → MinHash-LSH near-dedup → representative
  * selection → eval-split decontamination → temperature mixture
  * sampling → per-language stats, with the final corpus written both
  * as parquet and as a graftkv sorted log keyed by doc_id (the
  * serving-side handoff). Every stage checkpoints to parquet so a
  * restart resumes at stage granularity, exactly like the release
  * build. Composed entirely from the public library surface
  * (Graft facade + CorpusOps). Run: `graft.CorpusPipeline <sfDir>
  * <outDir>`.
  */
object CorpusPipeline {

  private val ShingleN = 5
  private val MinhashK = 16
  private val Bands = 8
  private val BucketCap = 64   // witness-pool width per band bucket: a
                               // verbatim template pins every band, so
                               // uncapped buckets go quadratic in its
                               // share; the pool keeps hot buckets
                               // linear while its lowest-id witnesses
                               // still connect the whole cluster, so
                               // components drop every template copy
  private val Jacc = 0.5
  private val SpanW = 10       // repeated-substring seed width
  private val EvalLo = 230     // hash byte >= 230 → held-out split
  private val DeconThresh = 0.2

  private def hashByte(salt: String) =
    TextOps.hexByteValue(md5(concat(lit(s"$salt:"), col("doc_id").cast("string"))))

  /** Returns per-stage row counts, in build order. */
  def build(spark: SparkSession, sfDir: String, outDir: String): Seq[(String, Long)] = {
    def checkpoint(name: String, df: DataFrame): DataFrame = {
      df.write.mode("overwrite").parquet(s"$outDir/$name")
      spark.read.parquet(s"$outDir/$name")
    }
    val stages = Seq.newBuilder[(String, Long)]
    def stage(name: String)(df: DataFrame): DataFrame = {
      val out = checkpoint(name, df)
      stages += name -> out.count()
      out
    }

    val raw0 = Tables.documents(spark, sfDir)
    stages += "corpus_raw" -> raw0.count()

    // 0. canonical normalization (NFC compose via the native
    //    expression, unicode lowercase, whitespace collapse) — run
    //    FIRST so every downstream key (fingerprints, shingles,
    //    spans) sees canonically-equal text as equal. Per-row, rides
    //    the scan.
    val raw = stage("corpus_normalized")(
      raw0.withColumn("text", Graft.normalizeText(col("text")))
        .withColumn("n_chars", length(col("text")).cast("long")))

    // 1. composed quality filter (length prior, stopword density,
    //    quality score, exact-dup demotion) — the oracle-checked
    //    text_filter_pipeline decision applied to the corpus
    val decisions = harness.TextQueries.queries("text_filter_pipeline")(spark, sfDir)
    val filtered = stage("corpus_filtered")(
      raw.join(decisions.filter(col("keep")).select(col("doc_id")), Seq("doc_id")))

    // 2. near-dedup: shingle → signature → LSH candidates → exact
    //    Jaccard verify → connected components → keep one
    //    representative per component
    val toks = filtered
      .select(col("doc_id"), TextOps.tokens(col("text")).as("toks"))
    val sh = checkpoint("shingles",
      CorpusOps.shingleFrame(toks, "doc_id", "toks", ShingleN))
    val sig = CorpusOps.minhashSignatures(sh, "doc_id", MinhashK)
    val pairs = stage("neardup_pairs")(
      CorpusOps.jaccardVerify(sh,
        CorpusOps.lshCandidates(sig, "doc_id", Bands, MinhashK / Bands,
          BucketCap),
        "doc_id", Jacc))
    val comps = Graft.connectedComponents(
      pairs.select(col("da"), col("db")), "da", "db")
    val kept = stage("corpus_deduped")(
      Graft.keepRepresentatives(filtered, "doc_id", comps))

    // 3. decontamination: drop train-split docs sharing too many
    //    shingles with the held-out split (the eval side broadcasts)
    val tagged = sh.withColumn("hv", hashByte("split1"))
    val contaminated = stage("contaminated")(
      Graft.decontaminate(
          tagged.filter(col("hv") < EvalLo).select(col("doc_id"), col("s")),
          tagged.filter(col("hv") >= EvalLo).select(col("s")),
          "doc_id", "s")
        .filter(col("contamination") >= DeconThresh))
    // the held-out split itself must ALSO leave the training corpus —
    // dropping only the overlapping train docs while serving the
    // benchmark documents verbatim would be the exact contamination
    // this stage exists to prevent
    val clean = stage("corpus_clean")(
      kept.filter(hashByte("split1") < EvalLo)
        .join(contaminated.select(col("doc_id")), Seq("doc_id"), "left_anti"))

    // 3b. cut globally-repeated token spans out of the survivors (the
    //     suffix-array-style pass); a doc emptied by the cut drops out
    val cleanToks = clean
      .select(col("doc_id"), TextOps.tokens(col("text")).as("toks"))
    val rewrites = Graft.removeSpans(cleanToks, "doc_id", "toks",
      Graft.substringSpans(cleanToks, "doc_id", "toks", SpanW))
    val rewritten = stage("corpus_rewritten")(
      clean.join(rewrites.select(col("doc_id"), col("new_text")), Seq("doc_id"))
        .withColumn("text", col("new_text")).drop("new_text")
        .withColumn("n_chars", length(col("text")).cast("long"))
        .filter(length(col("text")) > 0))

    // 4. temperature mixture sampling over languages
    val sampled = stage("corpus_sampled")(
      Graft.temperatureSample(rewritten, "lang", hashByte("mix1"))
        .drop("hv", "thresh"))

    // 5. per-language report: doc counts + exact length quantiles +
    //    mean repetition signals over the FINAL corpus. Left join: a
    //    language whose surviving docs all have < 3 tokens has no
    //    repetition rows, but must keep its count/quantile row.
    val rep = Graft.repetitionSignals(
      sampled.select(col("doc_id"), col("lang"),
        TextOps.tokens(col("text")).as("toks")), "doc_id", "toks")
    val quantiles = CorpusOps.rankQuantiles(sampled, "lang", "n_chars",
        Seq(("p50_chars", 1, 2), ("p90_chars", 9, 10)))
      .withColumnRenamed("n", "n_docs")
    stage("corpus_stats")(
      quantiles.join(
        sampled.select(col("doc_id"), col("lang"))
          .join(rep, Seq("doc_id"))
          .groupBy(sampled("lang"))
          .agg(round(avg(col("dup_tok_frac")), 6).as("mean_dup_tok_frac"),
            round(avg(col("top2_frac")), 6).as("mean_top2_frac")),
        Seq("lang"), "left_outer"))

    // 5b. deterministic training shuffle: every surviving doc gets a
    //     (shard, pos) assignment — the layout the trainer consumes.
    stage("corpus_shards")(
      Graft.shuffleShards(sampled, "doc_id", 8))

    // 6. serving handoff: the final corpus as a graftkv sorted log
    //    keyed by doc_id (point lookups prune to one bucket)
    // the first column is the graftkv sort/index key (string-typed;
    // zero-pad so lexicographic bucket ranges follow numeric id order)
    sampled.select(lpad(col("doc_id").cast("string"), 12, "0").as("k"),
        col("text"), col("lang"), col("source"))
      .write.format("graftkv").option("bucketsize", 1024)
      .mode("overwrite").save(s"$outDir/corpus_kv")
    stages += "corpus_kv" ->
      spark.read.format("graftkv").load(s"$outDir/corpus_kv").count()

    // 7. trainer handoff: the final corpus as gzip JSONL shard
    //    directories (the sink_jsonl_shards surface) — each shard a
    //    parallel write keyed by the stage-5b assignment; the count
    //    comes from a READ-BACK of the written files, certifying the
    //    round trip inside the envelope
    spark.read.parquet(s"$outDir/corpus_shards")
      .select(col("doc_id"), col("shard"), col("pos"))
      .join(sampled.select(col("doc_id"), col("text"), col("lang")),
        Seq("doc_id"))
      .write.mode("overwrite").partitionBy("shard")
      .option("compression", "gzip").json(s"$outDir/corpus_jsonl")
    stages += "corpus_jsonl" ->
      spark.read.json(s"$outDir/corpus_jsonl").count()

    stages.result()
  }

  def main(args: Array[String]): Unit =
    SparkLocal.pipelineMain("corpus", args, build)
}
