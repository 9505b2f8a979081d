package graft

import graft.Chains.Format._
import graft.harness.{AggQueries, KernelQueries, SinkQueries, XrefQueries}
import graft.sources.Sinks
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** The reference's release build collapsed into one Spark application
  * (SURVEY.md §3.1: ~70 scheduler tasks with file handoffs →
  * checkpointed DataFrame stages). Each stage writes its output and
  * reads it back certified — the same restart-at-task-granularity the reference
  * gets from its workflow DB, with lineage truncation for free. Like
  * the reference's runner, which starts every task whose inputs are
  * ready, each stage declares the stages it reads and starts as soon
  * as they are done ([[Chains]]). Run: `graft.ReleasePipeline <sfDir> <outDir>`.
  */
object ReleasePipeline {

  /** Returns per-stage row counts, in declared order. */
  def build(spark: SparkSession, sfDir: String, outDir: String): Seq[(String, Long)] = {
    // the stages run in any order, and the XML stage stages its DTD
    // into outDir before any Spark write would have created it
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(outDir))
    val st = new Chains.Stages(spark, outDir)
    val parquet = Parquet()

    val stages = Seq(
      // 1. protein2matches: the K1-K3 merge kernel output
      //    (export-matches, SURVEY.md §3.2)
      st.stage("protein2matches", parquet)(KernelQueries.mergedMatches(spark, sfDir)),

      // 1b. the §3.2 KVStore handoff: merged matches into the graftkv
      //     sorted log keyed by protein accession — the writer's
      //     RequiresDistributionAndOrdering makes Catalyst plan the
      //     cluster-wide shuffle+sort the reference's KVStoreBuilder
      //     hand-rolls through temp files — then read back through the
      //     footer index (a consumer fetching one protein's matches
      //     prunes to one file + one gzip bucket).
      st.stage("protein2matches_kv", GraftKv(1024), "protein2matches")(st("protein2matches")),

      // 2. entry2xrefs: the flagship inverted aggregation (§3.3), plus
      //    domain organisations and the ancestor rollup
      st.stage("entry2xrefs", parquet)(XrefQueries.queries("xref_entry_bundle")(spark, sfDir)),
      st.stage("domain_orgs", parquet)(XrefQueries.queries("xref_domorg")(spark, sfDir)),
      st.stage("taxa_rollup", parquet)(XrefQueries.queries("agg_rollup_salted")(spark, sfDir)),

      // 3. webfront marts: counts-JSON per entry + release stats +
      //    release-notes diff + per-entry taxonomy distribution trees +
      //    clan relationship graphs + the signature hierarchy check
      st.stage("webfront_entry", parquet, "entry2xrefs")(
        XrefQueries.queries("mart_entry_counts")(spark, sfDir)
          .join(st("entry2xrefs").select(col("entry_acc"), col("n_matches")),
            Seq("entry_acc"), "left")),
      st.stage("release_stats", parquet)(AggQueries.queries("agg_release_stats")(spark, sfDir)),
      st.stage("release_notes_diff", parquet)(AggQueries.queries("agg_release_diff")(spark, sfDir)),
      st.stage("entry_taxa_trees", parquet)(AggQueries.queries("agg_tree_ranks")(spark, sfDir)),
      st.stage("clan_graphs", parquet)(AggQueries.queries("agg_clan_graph")(spark, sfDir)),
      st.stage("signature_hierarchy", parquet)(KernelQueries.queries("sig_hierarchy")(spark, sfDir)),

      // 4. FTP exports: gzip TSV flat file + stitched XML, whose count
      //    is the one whole document
      st.stage("protein2ipr", Tsv)(SinkQueries.flatfileRows(spark, sfDir)),
      st.count("match_complete.xml") {
        Sinks.stageDtd("match_complete.dtd", outDir)
        Sinks.writeXml(
          SinkQueries.queries("sink_xml_fragments")(spark, sfDir),
          s"$outDir/xml_parts", s"$outDir/match_complete.xml",
          "<?xml version=\"1.0\" encoding=\"UTF-8\"?>\n" +
            "<!DOCTYPE interpromatch SYSTEM \"match_complete.dtd\">\n" +
            "<interpromatch><release>" +
            "<dbinfo dbname=\"INTERPRO\" version=\"100.0\"/></release>\n",
          "</interpromatch>\n")
        if (new java.io.File(s"$outDir/match_complete.xml").length() > 0) 1L else 0L
      },

      // 5. search-index docs, then the completion sentinel
      Chains.step("es_docs") {
        st.write("es_docs", Json(), "es_docs")(SinkQueries.queries("fanout_docs")(spark, sfDir))
        Sinks.markDone(s"$outDir/es_docs")
      })

    Chains.run(spark, stages)
    stages.map(s => s.name -> st.rows(s.name))
  }

  def main(args: Array[String]): Unit =
    SparkLocal.pipelineMain("release", args, build)
}
