package graft

import graft.Chains.Format._
import graft.sources.VectorIndex
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** The embedding-serving build as one Spark application — the vector
  * counterpart of [[CorpusPipeline]] (and the reference's
  * lookup-store build posture, interpro/lookup.py:18-101: precompute
  * a sharded store once, then serve point queries from the shards
  * they route to):
  *
  *   1. index the FIRST GENERATION of the corpus (train coarse cells
  *      + int8-quantize + write the centroid sidecar and the
  *      cell-partitioned layout — sources/VectorIndex.centroids and
  *      assign, the steps of VectorIndex.build);
  *   2. APPEND the second generation O(batch) against the standing
  *      sidecar (no retrain — VectorIndex.assign, as in append);
  *   3. SEARCH a query batch with partition-pruned probes;
  *   4. measure RECALL@5 in-engine against the exhaustive int8
  *      ranking over the same layout — the gauge that decides nprobe.
  *
  * Every stage count comes from reading the artifacts back, certified
  * ([[Chains.Stages]]), so the one-line JSON certifies the on-disk
  * layout, not just the plan. The stages run as a DAG ([[Chains]]):
  * index → append → search → recall beside inbox → stream re-rank →
  * re-rank recall.
  * Run: `graft.RetrievalPipeline <sfDir> <outDir>`.
  */
object RetrievalPipeline {

  private val NCells = 8
  private val NProbe = 2
  private val TopK = 5
  private val NQueries = 50

  def build(spark: SparkSession, sfDir: String, outDir: String)
      : Seq[(String, Long)] = {
    val st = new Chains.Stages(spark, outDir)
    val emb = Tables.embeddings(spark, sfDir)
    def generation(first: Boolean): DataFrame = {
      val half = st.rows("embeddings_raw") / 2
      emb.filter(if (first) col("vec_id") < half else col("vec_id") >= half)
    }
    val queries = emb.filter(col("vec_id") < NQueries)
    val cells = Parquet(Seq("cell"))

    // 4. recall@5 vs the exhaustive int8 ranking over the SAME stored
    //    codes: the same search probing every cell
    def exhaustive: DataFrame = VectorIndex.search(spark, s"$outDir/index", queries,
      "vec_id", "embedding", NCells, TopK)
    // 6. re-rank recall@5 vs the exact double-precision L2 truth over
    //    the raw corpus — the gauge the shortlist size (25) answers to
    def truth: DataFrame = {
      val rawQ = queries.select(col("vec_id").as("qid"),
        graft.ops.VectorOps.asDouble(col("embedding")).as("qv"))
      val rawE = emb.select(col("vec_id"),
        graft.ops.VectorOps.asDouble(col("embedding")).as("v"))
      graft.ops.VectorOps.l2TopK(rawE.join(broadcast(rawQ), col("vec_id") =!= col("qid")), TopK)
        .select(col("qid"), col("vec_id"))
    }
    // the (qid, vec_id) pairs of `expected` that `served` returned
    def hits(expected: DataFrame, served: DataFrame): Long =
      expected.join(served.select(col("qid"), col("vec_id")), Seq("qid", "vec_id")).count()

    val steps = Seq(
      st.count("embeddings_raw")(emb.count()),

      // 1. first generation: train the coarse cells on it, then assign
      //    + quantize it into the cell-partitioned layout
      Chains.step("index_built", "index_cells")(st.write("index_built", cells, "index/cells")(
        VectorIndex.assign(generation(first = true), "vec_id", "embedding", st("index_cells")))),
      Chains.step("index_cells", "embeddings_raw")(
        st.write("index_cells", Parquet(), "index/centroids")(
          VectorIndex.centroids(generation(first = true), "vec_id", "embedding", NCells))),

      // 2. second generation: O(batch) append on the standing sidecar
      Chains.step("index_after_append", "index_built")(
        st.write("index_after_append", cells.copy(append = true), "index/cells")(
          VectorIndex.assign(generation(first = false), "vec_id", "embedding",
            st("index_cells")))),

      // 3. serve a query batch (partition-pruned probes)
      Chains.step("search_results", "index_after_append")(
        st.write("search_results", Parquet(), "results")(
          VectorIndex.search(spark, s"$outDir/index", queries, "vec_id", "embedding",
            NProbe, TopK))),

      st.count("recall_expected", "index_after_append")(exhaustive.count()),
      st.count("recall_hits", "index_after_append", "search_results")(
        hits(exhaustive, st("search_results"))),

      // 5. ONLINE serving end-to-end on the same artifact: the query
      //    batch arrives as a FILE STREAM and every micro-batch runs
      //    the two-stage serve — int8-IVF shortlist (25 candidates,
      //    partition-pruned probes) + exact double-L2 re-rank to top-5
      //    of only the shortlisted pairs (VectorIndex.searchRerank) —
      //    the stream_ann_rerank query's stage run against THIS build.
      st.stage("query-inbox", Parquet())(queries),
      Chains.step("stream_rerank_results", "query-inbox", "index_after_append") {
        val rrOut = s"$outDir/rerank"
        // fresh serve dir: the sink appends and the checkpoint persists,
        // so a re-run with the same outDir would replay the inbox (new
        // part filenames) on top of last run's rows — inflating
        // stream_rerank_results and pushing the recall gauge past 1.0.
        // Overwrite discipline, same as every other stage.
        val rrPath = new org.apache.hadoop.fs.Path(rrOut)
        rrPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
          .delete(rrPath, true)
        st.certified("stream_rerank_results", graft.streaming.Drain.foreachBatch(spark,
            "retrieval_rerank", spark.readStream.schema(emb.schema).parquet(s"$outDir/query-inbox"),
            s"$rrOut/data", s"$rrOut/ckpt")(batch =>
          VectorIndex.searchRerank(batch.sparkSession, s"$outDir/index",
            batch, "vec_id", "embedding",
            Tables.embeddings(batch.sparkSession, sfDir),
            NProbe, shortK = 25, k = TopK)))
      },

      st.count("rerank_recall_expected")(truth.count()),
      st.count("rerank_recall_hits", "stream_rerank_results")(
        hits(truth, st("stream_rerank_results"))))

    Chains.run(spark, steps)
    // the inbox is the stream's source, not a stage the build reports
    steps.map(_.name).filter(_ != "query-inbox").map(name => name -> st.rows(name))
  }

  def main(args: Array[String]): Unit =
    SparkLocal.pipelineMain("retrieval", args, build, m => {
      def ratio(hits: String, expected: String): Double =
        if (m(expected) == 0) 0.0 else m(hits).toDouble / m(expected)
      Seq(s"recall_at_$TopK" -> ratio("recall_hits", "recall_expected"),
        s"rerank_recall_at_$TopK" ->
          ratio("rerank_recall_hits", "rerank_recall_expected"))
    })
}
