package graft.sources

import graft.Chains.Format.Parquet
import graft.ops.VectorOps
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

/** Persisted IVF-int8 vector index — the SERVING layout for the
  * embedding corpus, the lookup-store posture of the reference's
  * match-lookup service (interpro/lookup.py:18-101: a precomputed
  * store sharded by key prefix, servers attach to shards, queries
  * fan out to the shards that can contain their key) recast for
  * similarity search:
  *
  *  - `build` ([[centroids]] + [[assign]]) trains the coarse quantizer (deterministic seed
  *    centroids + one decimal-exact Lloyd round — the exact
  *    arithmetic of the in-memory IVF family, so index builds are
  *    reproducible across engines and runs), assigns every vector to
  *    its nearest cell, scalar-quantizes it to int8 codes, and
  *    writes ONE cell-partitioned parquet layout plus a tiny
  *    centroid sidecar. The cell directory IS the shard map.
  *  - `search` reads the sidecar, routes each query to its `nprobe`
  *    nearest cells, and scans ONLY those cell partitions (static
  *    partition pruning — the probed cell set is serving METADATA,
  *    bounded by nQueries x nprobe, never corpus-sized), ranking by
  *    exact integer dot products over the stored codes.
  *
  * At 100 TB the layout is the point: the corpus parquet is written
  * once, partition-pruned reads touch nprobe/nCells of it per query
  * batch, and the int8 codes cut the scanned bytes 4x on top. No
  * driver-side data path — only the centroid sidecar (nCells rows)
  * and the probed cell id list are ever collected.
  */
object VectorIndex {

  /** `emb` as (vec_id, v, nv): double vectors and their norms. */
  private def vectors(emb: DataFrame, idCol: String, vecCol: String): DataFrame =
    emb.select(col(idCol).as("vec_id"), VectorOps.asDouble(col(vecCol)).as("v"))
      .withColumn("nv", VectorOps.norm(col("v")))

  /** Each of `vectors`' rows once per cell (`cid` of `cents`) among
    * its `n` nearest by cosine, ties to the lower cell id. */
  private def nearest(vectors: DataFrame, cents: DataFrame, n: Int = 1): DataFrame =
    vectors.crossJoin(broadcast(cents))
      .withColumn("simc", round(
        VectorOps.dot(col("v"), col("cv")) / (col("nv") * col("cn")), 6))
      .withColumn("rc", row_number().over(Window.partitionBy(col("vec_id"))
        .orderBy(col("simc").desc, col("cid"))))
      .filter(col("rc") <= n)
      .select(col("vec_id"), col("v"), col("nv"), col("cid").as("cell"))

  /** Trains the coarse quantizer: the centroid sidecar (cid, cv, cn).
    * Seeds are the `nCells` SMALLEST ids (the IVF family's
    * deterministic seeding, robust to id ranges that don't start at 0
    * — a TakeOrderedAndProject top-k, never a full sort); one Lloyd
    * round with DECIMAL(18,9) component sums keeps the centroid update
    * order-independent. A batch with fewer than `nCells` vectors fails
    * fast rather than training a degenerate index.
    */
  def centroids(emb: DataFrame, idCol: String, vecCol: String, nCells: Int): DataFrame = {
    val e = vectors(emb, idCol, vecCol)
    val seed = e.orderBy(col("vec_id")).limit(nCells)
      .select(col("vec_id").as("cid"), col("v").as("cv"), col("nv").as("cn"))
    val seeded = seed.count()
    require(seeded == nCells,
      s"vector index build needs >= $nCells vectors to seed $nCells cells, found $seeded")
    nearest(e, seed)
      .select(col("cell"), posexplode(col("v")).as(Seq("pos", "val")))
      .groupBy(col("cell"), col("pos"))
      .agg((sum(col("val").cast(DecimalType(18, 9))).cast("double") /
        count(lit(1))).as("m"))
      .groupBy(col("cell"))
      .agg(transform(array_sort(collect_list(struct(col("pos"), col("m")))),
        x => x("m")).as("cv"))
      .select(col("cell").as("cid"), col("cv"), VectorOps.norm(col("cv")).as("cn"))
  }

  /** The layout rows (vec_id, ma, q, cell) of `emb`: each vector in its
    * nearest of `cents`' cells (in each of its `n` nearest, to probe),
    * scalar-quantized to int8 codes. */
  def assign(emb: DataFrame, idCol: String, vecCol: String, cents: DataFrame,
             n: Int = 1): DataFrame =
    nearest(vectors(emb, idCol, vecCol), cents, n)
      .withColumn("ma", array_max(transform(col("v"), x => abs(x))))
      .withColumn("q", transform(col("v"),
        x => round(x * lit(127.0) / col("ma")).cast("int")))
      .select(col("vec_id"), col("ma"), col("q"), col("cell"))

  /** Train + assign + quantize + write: the centroid sidecar, then the
    * cell-partitioned layout assigned against the sidecar as written,
    * each read back certified ([[graft.Chains.Stages]]). */
  def build(emb: DataFrame, idCol: String, vecCol: String,
            nCells: Int, outDir: String): Unit = {
    val st = new graft.Chains.Stages(emb.sparkSession, outDir)
    st.write("centroids", Parquet(), "centroids")(centroids(emb, idCol, vecCol, nCells))
    st.write("cells", Parquet(Seq("cell")), "cells")(assign(emb, idCol, vecCol, st("centroids")))
  }

  /** O(batch) incremental ingest: assign a NEW vector batch to the
    * existing centroids (no retrain — the IVF serving contract:
    * centroids are versioned with the index build, appends ride the
    * standing cell map), quantize, and append into the cell
    * partitions. Nothing corpus-sized is touched: the only reads are
    * the sidecar (nCells rows) and the batch itself, and the write
    * appends files inside existing cell directories — the
    * dedup_incremental posture for the vector store.
    */
  def append(spark: SparkSession, indexDir: String, emb: DataFrame,
             idCol: String, vecCol: String): Unit =
    assign(emb, idCol, vecCol, spark.read.parquet(s"$indexDir/centroids"))
      .write.mode("append").partitionBy("cell").parquet(s"$indexDir/cells")

  /** Probe-and-rank over the persisted layout. `queries` carries
    * (idCol, vecCol) float/double vectors; results are
    * (qid, vec_id, cell, idot, rk) with rk <= k, ranked by
    * idot x corpus scale desc (the int8 family's ordering — the
    * query's own scale is constant per group and drops out).
    */
  def search(spark: SparkSession, indexDir: String, queries: DataFrame,
             idCol: String, vecCol: String, nprobe: Int, k: Int): DataFrame = {
    val probed = assign(queries, idCol, vecCol, spark.read.parquet(s"$indexDir/centroids"), nprobe)
      .select(col("vec_id").as("qid"), col("cell"), col("q").as("qq"))

    // the probed cell ids are routing metadata (<= nQueries x nprobe
    // longs) — collecting them turns the cell read into a STATIC
    // partition-pruned scan, the serving contract of the layout
    val cellIds = probed.select(col("cell")).distinct()
      .collect().map(_.getLong(0)).sorted
    val cells = spark.read.parquet(s"$indexDir/cells")
      .filter(col("cell").isin(cellIds: _*))

    cells.join(probed, Seq("cell"))
      .filter(col("vec_id") =!= col("qid"))
      // native fused integer dot (functions/ArrayDotInt; sessions run
      // with graft.plans.GraftExtensions)
      .withColumn("idot", call_function("array_dot_int", col("qq"), col("q")))
      .withColumn("rk", row_number().over(Window.partitionBy(col("qid"))
        .orderBy((col("idot").cast("double") * col("ma")).desc,
          col("vec_id"))))
      .filter(col("rk") <= k)
      // partition-column type is directory-name inference (int for
      // small ids) — pin it to the family's long cell ids
      .select(col("qid"), col("vec_id"), col("cell").cast("long").as("cell"),
        col("idot"), col("rk"))
  }

  /** Two-stage serve against the persisted layout — candidate
    * generation + re-ranking, the shape every production retrieval
    * stack runs (ann_pq_rerank's serving twin on THIS artifact): the
    * int8-IVF [[search]] produces a cheap `shortK` shortlist per
    * query from partition-pruned probes over the stored codes, then
    * ONLY the shortlisted pairs fetch raw vectors from `corpus` for
    * an exact double-precision L2 re-rank to top `k`. The re-rank
    * join broadcasts the |queries|·shortK shortlist onto the corpus
    * scan, so raw vectors stream exactly once and only shortlisted
    * rows compute the exact distance.
    */
  def searchRerank(spark: SparkSession, indexDir: String, queries: DataFrame,
                   idCol: String, vecCol: String, corpus: DataFrame,
                   nprobe: Int, shortK: Int, k: Int): DataFrame = {
    val shortlist = search(spark, indexDir, queries, idCol, vecCol,
        nprobe, shortK)
      .select(col("qid"), col("vec_id"))
    val qv = vectors(queries, idCol, vecCol).select(col("vec_id").as("qid"), col("v").as("qv"))
    VectorOps.l2TopK(vectors(corpus, idCol, vecCol)
        .join(broadcast(shortlist.join(qv, Seq("qid"))), Seq("vec_id")), k)
      .select(col("qid"), col("vec_id"), col("dd"), col("rk"))
  }
}
