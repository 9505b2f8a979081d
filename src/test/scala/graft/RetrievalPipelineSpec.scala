package graft

/** End-to-end retrieval envelope (graft.RetrievalPipeline): build the
  * persisted index on the first half, append the second, serve, and
  * gauge recall — stage counts must be consistent and the appended
  * generation must be searchable.
  */
class RetrievalPipelineSpec extends SparkSpec {

  test("retrieval pipeline builds, appends, serves, and measures recall") {
    val out = java.nio.file.Files.createTempDirectory("graft-retrieval-")
      .toString
    val built = RetrievalPipeline.build(spark, sf, out)
    // the whole sf0.001 stage map, in declared order, whatever order
    // the concurrent stages finished in: the first generation is half
    // the corpus in 8 cells, the append adds the other half, 50 queries
    // get 5 results each, online and offline
    assert(built === Seq("embeddings_raw" -> 500L, "index_built" -> 250L,
      "index_cells" -> 8L, "index_after_append" -> 500L, "search_results" -> 250L,
      "recall_expected" -> 250L, "recall_hits" -> 135L, "stream_rerank_results" -> 250L,
      "rerank_recall_expected" -> 250L, "rerank_recall_hits" -> 134L))
  }
}
