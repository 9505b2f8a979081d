package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Embedding-similarity primitives (ANN / near-dup, north-star ops).
  *
  * All arithmetic is element-wise double with an ascending-index
  * single-accumulator loop, so the result is bit-identical to any
  * engine that evaluates the same IEEE-754 sequence (DuckDB's
  * list_cosine_similarity over DOUBLE[]).
  *
  * The dot product is the native codegen expression
  * `graft.functions.ArrayDot` (registered by GraftExtensions); norms
  * are computed ONCE per input row before any join — never inside the
  * pair loop — which is what makes the all-pairs/top-k shapes hold up
  * at scale.
  */
object VectorOps {

  def asDouble(v: Column): Column = transform(v, _.cast("double"))

  def dot(a: Column, b: Column): Column = call_function("array_dot", a, b)

  def norm(a: Column): Column = sqrt(dot(a, a))

  def cosine(a: Column, b: Column): Column = dot(a, b) / (norm(a) * norm(b))

  /** Deterministic ±1 random-hyperplane components, derived from md5
    * so the identical constants are embeddable in DuckDB oracle SQL
    * (no shared RNG needed). Shared by the ANN queries and the
    * embedding near-dup blocking.
    */
  def planeSign(p: Int, i: Int): Double = {
    val d = java.security.MessageDigest.getInstance("MD5")
      .digest(s"plane$p:$i".getBytes("UTF-8"))
    if ((d(0) & 1) == 1) 1.0 else -1.0
  }

  def hyperplanes(nPlanes: Int, dim: Int): Seq[Seq[Double]] =
    (0 until nPlanes).map(p => (0 until dim).map(i => planeSign(p, i)))

  /** Sign-bit LSH bucket key of a DOUBLE vector column: one '0'/'1'
    * character per hyperplane. Bucket population halves per plane (in
    * expectation), so plane count is the knob that keeps bucket sizes
    * bounded as the corpus grows.
    */
  def lshBucket(vecDouble: Column, planes: Seq[Seq[Double]]): Column =
    concat(planes.map { pl =>
      val plane = array(pl.map(lit): _*)
      when(dot(vecDouble, plane) >= 0, "1").otherwise("0")
    }: _*)

  /** Brute-force cosine top-k: every query row (small side, broadcast)
    * against the full corpus — the correctness baseline. Scale path:
    * block the corpus (e.g. coarse quantization / LSH buckets) so each
    * query only meets its bucket, then apply the same ranking; see
    * `blockedPairs` and the LSH bucketing in VectorQueries.
    *
    * Vectors are cast to double and norms precomputed per input row
    * (cast+norm run below the join, once per row, not once per pair).
    * Similarity is rounded to 6 dp *before* ranking and tie-broken by
    * corpus id, so the top-k set is stable across engines.
    */
  def bruteForceTopK(queries: DataFrame, corpus: DataFrame, qId: String,
                     cId: String, qVec: String, cVec: String, k: Int): DataFrame = {
    val q = queries
      .withColumn("__qv", asDouble(col(qVec)))
      .withColumn("__qn", norm(col("__qv")))
      .drop(qVec)
    val c = corpus
      .withColumn("__cv", asDouble(col(cVec)))
      .withColumn("__cn", norm(col("__cv")))
      .drop(cVec)
    val joined = c.crossJoin(broadcast(q))
      .filter(col(qId) =!= col(cId))
      // same FP sequence as cosine(): dot / (norm_q * norm_c)
      .withColumn("sim",
        round(dot(col("__qv"), col("__cv")) / (col("__qn") * col("__cn")), 6))
    val w = Window.partitionBy(col(qId)).orderBy(col("sim").desc, col(cId))
    joined.withColumn("rk", row_number().over(w)).filter(col("rk") <= k)
      .drop("__qv", "__qn", "__cv", "__cn")
  }

  // ---- product quantization (PQ) ----------------------------------
  // Parameterized library form of the memory-compression ANN index:
  // nSub per-subspace codebooks of nCodes centroids each; vectors
  // become nSub small codes and search scores against per-query
  // lookup tables (asymmetric distance computation). The query
  // harness instantiates these with (4, 16, 16) — see
  // harness/VectorQueries.scala for the oracle-mirrored pipeline.

  /** L2² between equal-length double arrays as one left-to-right
    * fold — bit-identical to a DuckDB list_reduce over the same
    * element order (0 + e1 ≡ e1, so the differing seeds agree).
    */
  def l2sq(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => (x - y) * (x - y)), lit(0.0d),
      (acc, x) => acc + x)

  /** The `k` nearest of each query's candidate `pairs` (qid, vec_id,
    * qv, v) by exact L2² over double vectors, rounded to 6 dp (`dd`)
    * and tie-broken by `vec_id`, ranked as `rk` from 1. */
  def l2TopK(pairs: DataFrame, k: Int): DataFrame =
    pairs.withColumn("dd", round(l2sq(col("qv"), col("v")), 6))
      .withColumn("rk", row_number().over(Window.partitionBy(col("qid"))
        .orderBy(col("dd"), col("vec_id"))))
      .filter(col("rk") <= k)

  /** (id, m, sv): every vector split into nSub contiguous subvectors —
    * a narrow explode, no shuffle.
    */
  def pqSubvectors(emb: DataFrame, idCol: String, vecCol: String,
                   nSub: Int, subDim: Int): DataFrame =
    emb.select(col(idCol), explode(array((0 until nSub).map(m =>
        struct(lit(m).as("m"),
          slice(asDouble(col(vecCol)), m * subDim + 1, subDim).as("sv"))): _*))
        .as("s"))
      .select(col(idCol), col("s.m").as("m"), col("s.sv").as("sv"))

  /** Distance of every subvector to every code centroid of its
    * subspace: a broadcast join against the nSub×nCodes codebook,
    * d2 rounded to 6 dp before any argmin/sum so engines rank
    * identical values.
    */
  def pqAssign(sub: DataFrame, codebook: DataFrame): DataFrame =
    sub.join(broadcast(codebook), Seq("m"))
      .withColumn("d2", round(l2sq(col("sv"), col("cv")), 6))

  /** Train the codebook: `seeds` (nCodes rows of (m, code, cv)) plus
    * one Lloyd round — every subvector joins its argmin seed code
    * (min(struct), map-side combinable; tie → lowest code), then
    * per-(subspace, code, position) DECIMAL-exact means update the
    * centroids; a code attracting no subvectors drops out. At corpus
    * scale, train on a hash-sampled slice — the codebook never needs
    * the full data.
    */
  def pqTrainCodebook(sub: DataFrame, seeds: DataFrame,
                      idCol: String): DataFrame = {
    import org.apache.spark.sql.types.DecimalType
    pqAssign(sub, seeds)
      .groupBy(col(idCol), col("m"))
      .agg(min(struct(col("d2"), col("code"), col("sv"))).as("mc"))
      .select(col("m"), col("mc.code").as("code"), col("mc.sv").as("sv"))
      .select(col("m"), col("code"), posexplode(col("sv")).as(Seq("pos", "val")))
      .groupBy(col("m"), col("code"), col("pos"))
      .agg((sum(col("val").cast(DecimalType(18, 9))).cast("double") /
        count(lit(1))).as("mu"))
      .groupBy(col("m"), col("code"))
      .agg(transform(array_sort(collect_list(struct(col("pos"), col("mu")))),
        x => x("mu")).as("cv"))
  }

  /** Encode: (id, m, code) — each subvector's argmin codebook entry. */
  def pqEncode(sub: DataFrame, codebook: DataFrame, idCol: String): DataFrame =
    pqAssign(sub, codebook)
      .groupBy(col(idCol), col("m"))
      .agg(min(struct(col("d2"), col("code"))).as("mc"))
      .select(col(idCol), col("m"), col("mc.code").as("code"))

  /** ADC search: the encoded corpus equi-joins each query's broadcast
    * (m, code) → d2 lookup table and sums nSub DECIMAL-exact
    * contributions per (query, vector); top-k per query by (distance,
    * id). One shuffle (the pair groupBy) + one window.
    */
  def pqSearchTopK(encoded: DataFrame, queryTables: DataFrame,
                   idCol: String, k: Int): DataFrame = {
    import org.apache.spark.sql.types.DecimalType
    encoded.join(broadcast(queryTables), Seq("m", "code"))
      .filter(col(idCol) =!= col("qid"))
      .groupBy(col("qid"), col(idCol))
      .agg(sum(col("d2").cast(DecimalType(18, 9))).cast("double").as("dist"))
      .withColumn("rk", row_number().over(
        Window.partitionBy(col("qid")).orderBy(col("dist"), col(idCol))))
      .filter(col("rk") <= k)
      .select(col("qid"), col(idCol), col("dist"), col("rk"))
  }

  /** Blocked all-pairs similarity: equi-join on a blocking key (label,
    * LSH bucket, coarse centroid id) turns the quadratic cross join
    * into a per-block join — the shape that survives 100 TB. Pairs are
    * emitted once (leftId < rightId).
    *
    * `leftCap` is the hot-block witness pool (the lshCandidates
    * posture, r17 — previously callers DROPPED over-cap blocks): the
    * left side of each block's self-join is restricted to the block's
    * `leftCap` lowest ids via the bounded-heap top-k operator, the
    * right side stays the full membership. Under-cap blocks emit every
    * pair bit-identically to the uncapped join; a hot near-identical
    * point (whose block no extra hyperplane can split) emits ≤
    * leftCap·|block| pairs instead of |block|², and its cluster still
    * collapses downstream because every member pairs with the lowest-
    * id witnesses.
    */
  def blockedPairs(df: DataFrame, id: String, vec: String, block: String,
                   leftCap: Int = Int.MaxValue): DataFrame = {
    val prepped = df
      .withColumn("__v", asDouble(col(vec)))
      .withColumn("__n", norm(col("__v")))
    val left =
      if (leftCap == Int.MaxValue) prepped
      else RelOps.topKPerGroupExact(prepped, Seq(col(block)),
        Seq(col(id)), leftCap).drop("rk")
    val a = left.select(col(block), col(id).as("ida"),
      col("__v").as("va"), col("__n").as("na"))
    val b = prepped.select(col(block).as("__blk"), col(id).as("idb"),
      col("__v").as("vb"), col("__n").as("nb"))
    a.join(b, a(block) === b("__blk") && col("ida") < col("idb"))
      .withColumn("sim",
        round(dot(col("va"), col("vb")) / (col("na") * col("nb")), 6))
      .drop("__blk", "va", "vb", "na", "nb")
  }
}
