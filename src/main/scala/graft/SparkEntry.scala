package graft

import graft.harness._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  *
  * `queries` registers one named query per implemented operator from
  * SURVEY.md §2 (plus the LLM-pipeline operators); `oracleSql` carries
  * the equivalent DuckDB SQL the driver hash-compares against.
  */
object SparkEntry {

  /** Flagship: the protein2ipr.dat export shape (SURVEY.md §7.2;
    * reference interpro/ftp/flatfiles.py:88-122): scan the big fact
    * (matches≈lineitem), filter, broadcast-join the entry-name dimension
    * (part), project (protein, entry, name, start, end), sort per key.
    */
  def entry(spark: SparkSession): DataFrame = {
    val d = "/root/testdata/sf0.001"
    val li = Tables.lineitem(spark, d)
    val p = Tables.part(spark, d)
    li.filter(col("l_quantity") > 0)
      .join(broadcast(p), li("l_partkey") === p("p_partkey"))
      .select(
        col("l_orderkey").as("protein_acc"),
        concat(lit("IPR"), col("p_partkey").cast("string")).as("entry_acc"),
        col("p_name").as("entry_name"),
        col("l_linenumber").as("pos_start"),
        (col("l_linenumber") + floor(col("l_quantity") / 10).cast("int")).as("pos_end"))
      .orderBy(col("protein_acc"), col("entry_acc"), col("pos_start"))
  }

  /** The single module registry. `queries`/`oracleSql` AND the contract
    * spec derive from this list, so registering a new module here is the
    * one and only step — the spec previously kept its own copy of this
    * list and drifted (a registered-but-unlisted module shipped a red
    * `sbt test`).
    */
  val modules: Seq[(String, Map[String, (SparkSession, String) => DataFrame], Map[String, String])] =
    Seq(
      ("core", CoreQueries.queries, CoreQueries.oracle),
      ("join", JoinQueries.queries, JoinQueries.oracle),
      ("agg", AggQueries.queries, AggQueries.oracle),
      ("window", WindowQueries.queries, WindowQueries.oracle),
      ("text", TextQueries.queries, TextQueries.oracle),
      ("dedup", DedupQueries.queries, DedupQueries.oracle),
      ("sample", SampleQueries.queries, SampleQueries.oracle),
      ("vector", VectorQueries.queries, VectorQueries.oracle),
      ("multimodal", MultimodalQueries.queries, MultimodalQueries.oracle),
      ("kernel", KernelQueries.queries, KernelQueries.oracle),
      ("sink", SinkQueries.queries, SinkQueries.oracle),
      ("stream", StreamQueries.queries, StreamQueries.oracle),
      ("xref", XrefQueries.queries, XrefQueries.oracle),
      ("export", ExportQueries.queries, ExportQueries.oracle),
      ("taxamart", TaxaMartQueries.queries, TaxaMartQueries.oracle),
      ("goa", GoaQueries.queries, GoaQueries.oracle),
      ("interaction", InteractionQueries.queries, InteractionQueries.oracle),
      ("matchexport", MatchExportQueries.queries, MatchExportQueries.oracle),
      ("graph", GraphQueries.queries, GraphQueries.oracle),
      ("cdc", CdcQueries.queries, CdcQueries.oracle))

  /** Family preambles: materialize a family's SharedFrames BEFORE its
    * queries are timed. Bench runs the preamble as a named
    * `warm_<family>_frames` row, so the recorded census attributes
    * each shared build to its owner instead of the family's
    * alphabetically-first consumer (per-query numbers then measure
    * the query, not cache luck). Correctness paths (Verify) don't
    * need them — the frames build lazily on first use either way.
    * A frame preamble runs one step per declared frame, all at once;
    * the single-flight cache orders them (see SharedFrames.preamble).
    */
  val preambles: Map[String, (SparkSession, String) => Unit] = Map(
    "agg" -> SharedFrames.preamble(Seq(SharedFrames.taxaLineage)),
    "kernel" -> SharedFrames.preamble(Seq(SharedFrames.taxaLineage)),
    "dedup" -> SharedFrames.preamble(DedupQueries.sharedFrames),
    "text" -> SharedFrames.preamble(TextQueries.sharedFrames),
    "vector" -> SharedFrames.preamble(VectorQueries.sharedFrames),
    "stream" -> ((s, d) => { StreamQueries.annIndexDir(s, d); () }),
    "taxamart" -> SharedFrames.preamble(TaxaMartQueries.sharedFrames),
    "graph" -> SharedFrames.preamble(GraphQueries.sharedFrames))

  /** One entry per implemented operator from SURVEY.md §2 plus the
    * LLM-pipeline north-star ops (dedup / similarity / text / media). */
  def queries: Map[String, (SparkSession, String) => DataFrame] =
    modules.iterator.map(_._2).reduce(_ ++ _)

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. Omit for non-SQL-expressible ops. */
  def oracleSql: Map[String, String] =
    modules.iterator.map(_._3).reduce(_ ++ _)
}
