package graft

import graft.Chains.Format._
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
  * serving-side handoff). Every stage is written and read back
  * certified ([[Chains.Stages]]), parquet between stages so a restart
  * resumes at stage granularity, exactly like the release build, and
  * like it the stages run as a DAG ([[Chains]]): each
  * declares the stages it reads and starts as soon as they are done,
  * so dedup and decontamination overlap, as do the final exports.
  * Composed entirely from the public library surface
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

  /** Returns per-stage row counts, in declared order. */
  def build(spark: SparkSession, sfDir: String, outDir: String): Seq[(String, Long)] = {
    val st = new Chains.Stages(spark, outDir)
    def stage(name: String, after: String*)(df: => DataFrame): Chains.Step =
      st.stage(name, Parquet(), after: _*)(df)

    val steps = Seq(
      st.count("corpus_raw")(Tables.documents(spark, sfDir).count()),

      // 0. canonical normalization (NFC compose via the native
      //    expression, unicode lowercase, whitespace collapse) — run
      //    FIRST so every downstream key (fingerprints, shingles,
      //    spans) sees canonically-equal text as equal. Per-row, rides
      //    the scan.
      stage("corpus_normalized")(
        Tables.documents(spark, sfDir)
          .withColumn("text", Graft.normalizeText(col("text")))
          .withColumn("n_chars", length(col("text")).cast("long"))),

      // 1. composed quality filter (length prior, stopword density,
      //    quality score, exact-dup demotion) — the oracle-checked
      //    text_filter_pipeline decision applied to the corpus
      stage("corpus_filtered", "corpus_normalized") {
        val decisions = harness.TextQueries.queries("text_filter_pipeline")(spark, sfDir)
        st("corpus_normalized")
          .join(decisions.filter(col("keep")).select(col("doc_id")), Seq("doc_id"))
      },

      // 2. near-dedup: shingle → signature → LSH candidates → exact
      //    Jaccard verify → connected components → keep one
      //    representative per component
      stage("shingles", "corpus_filtered")(
        CorpusOps.shingleFrame(
          st("corpus_filtered")
            .select(col("doc_id"), TextOps.tokens(col("text")).as("toks")),
          "doc_id", "toks", ShingleN)),
      stage("neardup_pairs", "shingles") {
        val sh = st("shingles")
        val sig = CorpusOps.minhashSignatures(sh, "doc_id", MinhashK)
        CorpusOps.jaccardVerify(sh,
          CorpusOps.lshCandidates(sig, "doc_id", Bands, MinhashK / Bands, BucketCap),
          "doc_id", Jacc)
      },
      stage("corpus_deduped", "neardup_pairs", "corpus_filtered") {
        val comps = Graft.connectedComponents(
          st("neardup_pairs").select(col("da"), col("db")), "da", "db")
        Graft.keepRepresentatives(st("corpus_filtered"), "doc_id", comps)
      },

      // 3. decontamination: drop train-split docs sharing too many
      //    shingles with the held-out split (the eval side broadcasts)
      stage("contaminated", "shingles") {
        val tagged = st("shingles").withColumn("hv", hashByte("split1"))
        Graft.decontaminate(
            tagged.filter(col("hv") < EvalLo).select(col("doc_id"), col("s")),
            tagged.filter(col("hv") >= EvalLo).select(col("s")),
            "doc_id", "s")
          .filter(col("contamination") >= DeconThresh)
      },
      // the held-out split itself must ALSO leave the training corpus —
      // dropping only the overlapping train docs while serving the
      // benchmark documents verbatim would be the exact contamination
      // this stage exists to prevent
      stage("corpus_clean", "corpus_deduped", "contaminated")(
        st("corpus_deduped").filter(hashByte("split1") < EvalLo)
          .join(st("contaminated").select(col("doc_id")), Seq("doc_id"), "left_anti")),

      // 3b. cut globally-repeated token spans out of the survivors (the
      //     suffix-array-style pass); a doc emptied by the cut drops out
      stage("corpus_rewritten", "corpus_clean") {
        val clean = st("corpus_clean")
        val cleanToks = clean
          .select(col("doc_id"), TextOps.tokens(col("text")).as("toks"))
        val rewrites = Graft.removeSpans(cleanToks, "doc_id", "toks",
          Graft.substringSpans(cleanToks, "doc_id", "toks", SpanW))
        clean.join(rewrites.select(col("doc_id"), col("new_text")), Seq("doc_id"))
          .withColumn("text", col("new_text")).drop("new_text")
          .withColumn("n_chars", length(col("text")).cast("long"))
          .filter(length(col("text")) > 0)
      },

      // 4. temperature mixture sampling over languages
      stage("corpus_sampled", "corpus_rewritten")(
        Graft.temperatureSample(st("corpus_rewritten"), "lang", hashByte("mix1"))
          .drop("hv", "thresh")),

      // 5. per-language report: doc counts + exact length quantiles +
      //    mean repetition signals over the FINAL corpus. Left join: a
      //    language whose surviving docs all have < 3 tokens has no
      //    repetition rows, but must keep its count/quantile row.
      stage("corpus_stats", "corpus_sampled") {
        val sampled = st("corpus_sampled")
        val rep = Graft.repetitionSignals(
          sampled.select(col("doc_id"), col("lang"),
            TextOps.tokens(col("text")).as("toks")), "doc_id", "toks")
        val quantiles = CorpusOps.rankQuantiles(sampled, "lang", "n_chars",
            Seq(("p50_chars", 1, 2), ("p90_chars", 9, 10)))
          .withColumnRenamed("n", "n_docs")
        quantiles.join(
          sampled.select(col("doc_id"), col("lang"))
            .join(rep, Seq("doc_id"))
            .groupBy(sampled("lang"))
            .agg(round(avg(col("dup_tok_frac")), 6).as("mean_dup_tok_frac"),
              round(avg(col("top2_frac")), 6).as("mean_top2_frac")),
          Seq("lang"), "left_outer")
      },

      // 5b. deterministic training shuffle: every surviving doc gets a
      //     (shard, pos) assignment — the layout the trainer consumes.
      stage("corpus_shards", "corpus_sampled")(
        Graft.shuffleShards(st("corpus_sampled"), "doc_id", 8)),

      // 6. serving handoff: the final corpus as a graftkv sorted log
      //    keyed by doc_id (point lookups prune to one bucket)
      // the first column is the graftkv sort/index key (string-typed;
      // zero-pad so lexicographic bucket ranges follow numeric id order)
      st.stage("corpus_kv", GraftKv(1024), "corpus_sampled")(
        st("corpus_sampled")
          .select(lpad(col("doc_id").cast("string"), 12, "0").as("k"),
            col("text"), col("lang"), col("source"))),

      // 7. trainer handoff: the final corpus as gzip JSONL shard
      //    directories (the sink_jsonl_shards surface) — each shard a
      //    parallel write keyed by the stage-5b assignment
      st.stage("corpus_jsonl", Json(Seq("shard")), "corpus_shards", "corpus_sampled")(
        st("corpus_shards")
          .select(col("doc_id"), col("shard"), col("pos"))
          .join(st("corpus_sampled").select(col("doc_id"), col("text"), col("lang")),
            Seq("doc_id"))))

    Chains.run(spark, steps)
    // the shingles are a checkpoint the build reads, not a stage it reports
    steps.map(_.name).filter(_ != "shingles").map(name => name -> st.rows(name))
  }

  /** The rows of a gzip JSONL shard directory, read back and certified
    * as the `corpus_jsonl` stage reads its output. */
  private[graft] def jsonlRows(spark: SparkSession, dir: String): Long =
    Chains.fingerprint(Chains.read(spark, Json(), harness.SinkQueries.JsonlShardSchema, dir))._1

  def main(args: Array[String]): Unit =
    SparkLocal.pipelineMain("corpus", args, build)
}
