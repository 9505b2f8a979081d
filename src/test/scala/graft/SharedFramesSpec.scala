package graft

import graft.harness.SharedFrames
import org.apache.spark.rdd.GraftRddBridge
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, Generate, Join, Window}
import org.apache.spark.sql.execution.LogicalRDD

/** Shared frames change where a family's work runs, never what its
  * queries return. Per family with a frame preamble: the preamble
  * builds exactly its declared key set, every query run cold (cache
  * released just before it) builds no key outside that set, and every
  * query that reads a shared frame returns the same rows warm (after
  * the preamble, unswept and after Bench's between-row sweep) as cold.
  * A cached frame keeps its data only, stored once: its plan holds
  * none of its build's operators, and its checkpoint no blocks.
  */
class SharedFramesSpec extends SparkSpec {

  /** The keys each frame preamble caches. */
  private val preambleKeys = Map(
    "agg" -> Set("taxa_lineage"),
    "kernel" -> Set("taxa_lineage"),
    "dedup" -> Set("shingles", "shingle_counts", "posting_candidates",
      "pair_overlap", "verified_pairs", "dedup_components", "minhash_sig",
      "lsh_candidates", "lsh_verified", "simhash_sig", "hamming_pairs",
      "substring_spans"),
    "taxamart" -> Set("mart_proteins", "mart_match_nodes",
      "mart_node_structures", "mart_protein_nodes", "mart_node_protein_stats"),
    "vector" -> Set("ivf_kmeans_centroids", "pq_codebook", "pq_codes",
      "pca_gram", "bf_cos_top5"),
    "text" -> Set("text_bigram_model"),
    "graph" -> Set("graph_sym_dst"))

  /** Frames one query builds and reads itself, so no preamble warms
    * them and their cost belongs on that query's row:
    * `text_quality_classifier` rereads its feature frame on each of
    * its training passes.
    */
  private val queryLocal = Map("text" -> Set("clf_feats"))

  private def rows(q: (SparkSession, String) => DataFrame): Seq[String] =
    q(spark, sf).collect().toSeq.map(show).sorted

  // Row.toString prints a binary cell as an array identity
  private def show(r: Row): String = r.toSeq.map {
    case b: Array[Byte] => b.mkString("[", ",", "]")
    case v => String.valueOf(v)
  }.mkString("|")

  /** Bench's and WarmBench's between-row sweep, blocking: drops every
    * locally checkpointed RDD's blocks, so a frame that still needed
    * them fails its next read.
    */
  private def sweepLocalCheckpoints(): Unit =
    spark.sparkContext.getPersistentRDDs.values
      .filter(GraftRddBridge.isLocallyCheckpointed)
      .foreach(_.unpersist(blocking = true))

  for ((family, keys) <- preambleKeys.toSeq.sortBy(_._1))
    test(s"$family: the preamble's frames, and the same rows warm and cold") {
      val queries = SparkEntry.modules.find(_._1 == family).get._2.toSeq.sortBy(_._1)
      try {
        SharedFrames.release(spark)
        SparkEntry.preambles(family)(spark, sf)
        assert(SharedFrames.keys(spark) === keys)

        val cold = queries.map { case (name, q) =>
          SharedFrames.release(spark)
          val out = rows(q)
          (name, out, SharedFrames.keys(spark))
        }
        val extra = cold.map { case (name, _, built) => name -> (built -- keys) }
          .filter(_._2.nonEmpty)
        assert(extra.flatMap(_._2).toSet === queryLocal.getOrElse(family, Set.empty),
          s"frames built outside the preamble's list: $extra")
        val readers = cold.filter(_._3.intersect(keys).nonEmpty)
        assert(readers.nonEmpty, s"no $family query reads a shared frame")

        // warm as a library caller reads (no sweep), then as Bench does
        SharedFrames.release(spark)
        SparkEntry.preambles(family)(spark, sf)
        for (swept <- Seq(false, true)) {
          if (swept) sweepLocalCheckpoints()
          readers.foreach { case (name, out, _) =>
            assert(rows(SparkEntry.queries(name)) === out,
              s"$name: warm rows differ from cold${if (swept) " after a sweep" else ""}")
          }
        }
      } finally SharedFrames.release(spark)
    }

  test("every preamble frame keeps its data, not the plan that built it") {
    try preambleKeys.toSeq.sortBy(_._1).foreach { case (family, keys) =>
      SharedFrames.release(spark)
      SparkEntry.preambles(family)(spark, sf)
      keys.toSeq.sorted.foreach { key =>
        val frame = SharedFrames.cachedFrame(spark, sf, key)(fail(s"$key is not cached"))
        val kept = frame.queryExecution.logical.collectWithSubqueries {
          case p @ (_: Join | _: Aggregate | _: Window | _: Generate) => p.nodeName
        }
        assert(kept.isEmpty, s"$family/$key keeps its build plan: ${kept.distinct}")
        // stored once, before any sweep: the checkpoint holds no blocks
        // beside the persisted copy
        val checkpoint = frame.queryExecution.analyzed.collect { case r: LogicalRDD => r.rdd.id }
        assert(checkpoint.nonEmpty && checkpoint.forall(id =>
          !spark.sparkContext.getPersistentRDDs.contains(id)),
          s"$family/$key: its checkpoint still holds blocks")
      }
    } finally SharedFrames.release(spark)
  }
}
