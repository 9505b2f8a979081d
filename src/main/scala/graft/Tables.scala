package graft

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types.StructType

/** Loaders for the harness tables (see TESTDATA.md / FIXTURES.md §A).
  *
  * Each table is a single parquet file per scale-factor directory. All
  * queries go through these so that scans stay column-prunable and
  * filter-pushdown-friendly (never cache data here; let each query's
  * plan prune its own columns).
  *
  * Only each table's schema is cached: a plain parquet read runs a
  * schema-inference Spark job every time. A cached schema is reused
  * while the path, the name, length and modification time of every
  * file under it, and the session's explicitly set
  * `spark.sql.parquet.*` / `spark.sql.legacy.parquet.*` confs (which
  * decide how a parquet type surfaces, e.g. `nanosAsLong` in
  * [[events]]) all stay the same; a change to any of them infers again.
  */
object Tables {
  val names: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  private final case class SchemaKey(path: String, files: Seq[(String, Long, Long)],
                                     confs: Seq[(String, String)])
  /** One inferred schema; concurrent loads of one key infer it once. */
  private final class Inferred(infer: => StructType) { lazy val schema: StructType = infer }
  private val schemas = scala.collection.concurrent.TrieMap.empty[SchemaKey, Inferred]

  def load(spark: SparkSession, dir: String, name: String): DataFrame = {
    val path = s"$dir/$name.parquet"
    val root = new Path(path)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val listing = fs.listFiles(root, true)
    val files = Iterator.continually(listing).takeWhile(_.hasNext).map(_.next())
      .map(f => (f.getPath.toString, f.getLen, f.getModificationTime)).toSeq.sorted
    val confs = spark.conf.getAll.toSeq.filter { case (k, _) =>
      k.startsWith("spark.sql.parquet.") || k.startsWith("spark.sql.legacy.parquet.") }.sorted
    val key = SchemaKey(path, files, confs)
    val inferred = schemas.getOrElse(key, {
      // a rewritten table's old entries can never match again
      schemas.filterInPlace { case (k, _) => k.path != path || k.files == files }
      schemas.getOrElseUpdate(key, new Inferred(spark.read.parquet(path).schema))
    })
    spark.read.schema(inferred.schema).parquet(path)
  }

  def region(s: SparkSession, d: String): DataFrame    = load(s, d, "region")
  def nation(s: SparkSession, d: String): DataFrame    = load(s, d, "nation")
  def customer(s: SparkSession, d: String): DataFrame  = load(s, d, "customer")
  def supplier(s: SparkSession, d: String): DataFrame  = load(s, d, "supplier")
  def part(s: SparkSession, d: String): DataFrame      = load(s, d, "part")
  def orders(s: SparkSession, d: String): DataFrame    = load(s, d, "orders")
  def lineitem(s: SparkSession, d: String): DataFrame  = load(s, d, "lineitem")

  /** `events.ts` has shipped in several physical encodings: parquet
    * TIMESTAMP(NANOS) (no Spark type — read nanos as long via
    * `spark.sql.legacy.parquet.nanosAsLong`, then truncate to µs, the
    * same truncation DuckDB applies casting ns to its µs TIMESTAMP)
    * and plain µs TIMESTAMP with or without the UTC annotation.
    * Branch on the LOADED schema, not an assumed encoding: with
    * nanosAsLong set, ns columns surface as LongType, µs columns as
    * TimestampType/TimestampNTZType. The loader contract is a single
    * logical type downstream — `ts: TimestampType` in µs (sessions run
    * UTC, so the NTZ cast is the identity wall-clock mapping DuckDB
    * applies to the same naive values). Integer `div` (not double /):
    * ns-since-epoch exceeds 2^53.
    */
  def events(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.types.{LongType, TimestampNTZType, TimestampType}
    s.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val raw = load(s, d, "events")
    raw.schema("ts").dataType match {
      case LongType =>
        raw.withColumn("ts",
          org.apache.spark.sql.functions.expr("timestamp_micros(ts div 1000)"))
      case TimestampNTZType =>
        raw.withColumn("ts", org.apache.spark.sql.functions.col("ts").cast(TimestampType))
      case _ => raw // already a (µs) timestamp
    }
  }
  def documents(s: SparkSession, d: String): DataFrame = load(s, d, "documents")
  def embeddings(s: SparkSession, d: String): DataFrame = load(s, d, "embeddings")

  /** Widen a narrow scan to the session's parallelism. A single
    * parquet file with one row group plans as ONE partition, which
    * serializes per-row interpreted work (higher-order-function
    * token/shingle/trigram transforms) onto one core before the first
    * shuffle; at warehouse scale the same scan has thousands of splits
    * and this is a no-op. The guard keeps the repartition off any
    * input that is already parallel — it never reshuffles a corpus
    * that arrives wide.
    */
  def widened(df: DataFrame): DataFrame = {
    val p = df.sparkSession.sparkContext.defaultParallelism
    if (df.rdd.getNumPartitions < p) df.repartition(p) else df
  }
}
