package graft

import graft.harness.{KernelQueries, SinkQueries, XrefQueries}
import graft.sources.Sinks
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** The reference's release build collapsed into one Spark application
  * (SURVEY.md §3.1: ~70 scheduler tasks with file handoffs →
  * checkpointed DataFrame stages). Each stage writes its output and
  * reads it back — the same restart-at-task-granularity the reference
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
    val counts = scala.collection.concurrent.TrieMap.empty[String, Long]
    // a parquet stage's read-back, which the stages that read it reuse
    val outputs = scala.collection.concurrent.TrieMap.empty[String, DataFrame]
    // a stage writes its output, then records the rows read back from it
    def stage(name: String, after: String*)(write: => Unit)(readBack: => Long): Chains.Step =
      Chains.step(name, after: _*) { write; counts(name) = readBack }
    // read back with the schema just written: no schema-inference job
    def parquet(name: String, after: String*)(df: => DataFrame): Chains.Step =
      Chains.step(name, after: _*) {
        val written = df
        written.write.mode("overwrite").parquet(s"$outDir/$name")
        outputs(name) = spark.read.schema(written.schema).parquet(s"$outDir/$name")
        counts(name) = outputs(name).count()
      }

    val stages = Seq(
      // 1. protein2matches: the K1-K3 merge kernel output
      //    (export-matches, SURVEY.md §3.2)
      parquet("protein2matches")(KernelQueries.mergedMatches(spark, sfDir)),

      // 1b. the §3.2 KVStore handoff: merged matches into the graftkv
      //     sorted log keyed by protein accession — the writer's
      //     RequiresDistributionAndOrdering makes Catalyst plan the
      //     cluster-wide shuffle+sort the reference's KVStoreBuilder
      //     hand-rolls through temp files — then read back through the
      //     footer index (a consumer fetching one protein's matches
      //     prunes to one file + one gzip bucket).
      stage("protein2matches_kv", "protein2matches")(
        outputs("protein2matches").write.format("graftkv").option("bucketsize", 1024)
          .mode("overwrite").save(s"$outDir/protein2matches_kv"))(
        spark.read.format("graftkv").load(s"$outDir/protein2matches_kv").count()),

      // 2. entry2xrefs: the flagship inverted aggregation (§3.3), plus
      //    domain organisations and the ancestor rollup
      parquet("entry2xrefs")(XrefQueries.queries("xref_entry_bundle")(spark, sfDir)),
      parquet("domain_orgs")(XrefQueries.queries("xref_domorg")(spark, sfDir)),
      parquet("taxa_rollup")(XrefQueries.queries("agg_rollup_salted")(spark, sfDir)),

      // 3. webfront marts: counts-JSON per entry + release stats +
      //    release-notes diff + per-entry taxonomy distribution trees +
      //    clan relationship graphs + the signature hierarchy check
      parquet("webfront_entry", "entry2xrefs")(
        XrefQueries.queries("mart_entry_counts")(spark, sfDir)
          .join(outputs("entry2xrefs").select(col("entry_acc"), col("n_matches")),
            Seq("entry_acc"), "left")),
      parquet("release_stats")(harness.AggQueries.queries("agg_release_stats")(spark, sfDir)),
      parquet("release_notes_diff")(harness.AggQueries.queries("agg_release_diff")(spark, sfDir)),
      parquet("entry_taxa_trees")(harness.AggQueries.queries("agg_tree_ranks")(spark, sfDir)),
      parquet("clan_graphs")(harness.AggQueries.queries("agg_clan_graph")(spark, sfDir)),
      parquet("signature_hierarchy")(KernelQueries.queries("sig_hierarchy")(spark, sfDir)),

      // 4. FTP exports: gzip TSV flat file + stitched XML
      stage("protein2ipr")(
        Sinks.writeTsvGz(
          SinkQueries.queries("sink_flatfile_tsv")(spark, sfDir),
          s"$outDir/protein2ipr"))(
        spark.read.text(s"$outDir/protein2ipr").count()),
      stage("match_complete.xml") {
        Sinks.stageDtd("match_complete.dtd", outDir)
        Sinks.writeXml(
          SinkQueries.queries("sink_xml_fragments")(spark, sfDir),
          s"$outDir/xml_parts", s"$outDir/match_complete.xml",
          "<?xml version=\"1.0\" encoding=\"UTF-8\"?>\n" +
            "<!DOCTYPE interpromatch SYSTEM \"match_complete.dtd\">\n" +
            "<interpromatch><release>" +
            "<dbinfo dbname=\"INTERPRO\" version=\"100.0\"/></release>\n",
          "</interpromatch>\n")
      }(if (new java.io.File(s"$outDir/match_complete.xml").length() > 0) 1L else 0L),

      // 5. search-index docs with completion sentinel
      stage("es_docs")(
        Sinks.writeJsonDocsWithSentinel(
          SinkQueries.queries("fanout_docs")(spark, sfDir), s"$outDir/es_docs"))(
        spark.read.text(s"$outDir/es_docs/part-*").count()))

    Chains.run(spark, stages)
    stages.map(st => st.name -> counts(st.name))
  }

  def main(args: Array[String]): Unit =
    SparkLocal.pipelineMain("release", args, build)
}
