package graft.harness

import graft.Tables
import graft.ops.{TextOps, VectorOps}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType
import graft.ops.Loops.LoopOps

/** Similarity search over the `embeddings` table (north-star ops):
  * brute-force cosine top-k as the correctness baseline, with
  * `VectorOps.blockedPairs` as the bucketed scale path (exercised by
  * `dedup_embedding`). Cosine arithmetic is a left-to-right double
  * fold, bit-identical to DuckDB's list_cosine_similarity.
  */
object VectorQueries {
  type Q = (SparkSession, String) => DataFrame

  private[harness] val Dim = 64
  private val KmCells = 8  // embed_kmeans clusters (seed = smallest ids)
  private val KmRounds = 3 // embed_kmeans Lloyd iterations
  private val Planes = 4

  // deterministic md5-derived hyperplanes, shared with dedup_embedding
  // (graft.ops.VectorOps.hyperplanes)
  private val planes: Seq[Seq[Double]] =
    graft.ops.VectorOps.hyperplanes(Planes, Dim)

  /** Shared pieces of the IVF pipeline. `assign` attaches each
    * vector's `n` nearest cells (argmax rounded cosine, tie → lowest
    * cell id) from a broadcast centroid frame — the |corpus| × cells
    * cross join is linear and broadcastable.
    */
  private def embFrame(s: SparkSession, d: String): DataFrame =
    Tables.embeddings(s, d)
      .withColumn("v", VectorOps.asDouble(col("embedding")))
      .withColumn("nv", VectorOps.norm(col("v")))
      .select("vec_id", "v", "nv")

  private def assign(e: DataFrame, cents: DataFrame, nprobe: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    e.crossJoin(broadcast(cents))
      .withColumn("simc",
        round(VectorOps.dot(col("v"), col("cv")) / (col("nv") * col("cn")), 6))
      .withColumn("rc", row_number().over(
        Window.partitionBy(col("vec_id")).orderBy(col("simc").desc, col("cid"))))
      .filter(col("rc") <= nprobe)
      .select(col("vec_id"), col("v"), col("nv"), col("cid").as("cell"),
        col("rc"), col("simc"))
  }

  /** The REFINED centroids (8 rows) after the Lloyd round — computed
    * once per (session, sf) and shared: `ann_ivf_kmeans_topk` and
    * `ann_ivf_recall` both consume them (the recall gauge previously
    * re-ran the whole seed→assign→update pipeline). Only the tiny
    * centroid frame is cached — the corpus-wide assignment stays lazy
    * and pipelines into each consumer's join, because materializing
    * the 64-double vector columns into the columnar cache costs more
    * than recomputing the broadcast cross join (measured: caching the
    * full assignment frame was ~3× slower than this).
    *
    * The centroid update must be bit-identical across engines, but
    * double summation is order-dependent; so per-component means are
    * computed as DECIMAL(18,9) sums (exact, order-independent) cast to
    * double for the single final division — one deterministic FP op.
    */
  private val ivfCentroids = SharedFrames.Frame("ivf_kmeans_centroids") { (s, d) =>
    val emb = embFrame(s, d)
    val cents0 = emb.filter(col("vec_id") < 8)
      .select(col("vec_id").as("cid"), col("v").as("cv"), col("nv").as("cn"))
    val asg0 = assign(emb, cents0, 1)
    val comp = asg0
      .select(col("cell"), posexplode(col("v")).as(Seq("pos", "val")))
      .groupBy(col("cell"), col("pos"))
      .agg((sum(col("val").cast(DecimalType(18, 9))).cast("double") /
        count(lit(1))).as("m"))
    comp.groupBy(col("cell"))
      .agg(transform(array_sort(collect_list(struct(col("pos"), col("m")))),
        x => x("m")).as("cv"))
      .select(col("cell").as("cid"), col("cv"),
        VectorOps.norm(col("cv")).as("cn"))
  }

  /** IVF with one Lloyd refinement round: queries probe their
    * `nprobe` nearest refined cells, the corpus lives in one. More
    * rounds = loop the same assign+update stages over [[ivfCentroids]].
    */
  private def ivfKmeansTopk(s: SparkSession, d: String,
                            nprobe: Int = 2): DataFrame =
    ivfSearch(assign(embFrame(s, d), ivfCentroids(s, d), nprobe), nprobe)

  /** The cell-blocked search half of [[ivfKmeansTopk]] over a prebuilt
    * assignment frame (rows with rc ≤ some bound ≥ nprobe): filtering
    * `rc` from a wider assignment reproduces the narrower one exactly
    * (same row_number window), which lets ann_ivf_nprobe_recall share
    * ONE materialized assignment across its probe levels (§2.4).
    */
  private def ivfSearch(a1: DataFrame, nprobe: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val corpus = a1.filter(col("rc") === 1)
      .select(col("vec_id"), col("v"), col("nv"), col("cell"))
    val qp = a1.filter(col("vec_id") < 50 && col("rc") <= nprobe)
      .select(col("vec_id").as("qid"), col("v").as("qv"),
        col("nv").as("qn"), col("cell"))
    // a corpus vector lives in exactly one cell and the two probed
    // cells are distinct, so each (query, corpus) pair meets at most
    // once — no dedup needed
    corpus.join(qp, Seq("cell"))
      .filter(col("vec_id") =!= col("qid"))
      .withColumn("sim",
        round(VectorOps.dot(col("qv"), col("v")) / (col("qn") * col("nv")), 6))
      .withColumn("rk", row_number().over(
        Window.partitionBy(col("qid")).orderBy(col("sim").desc, col("vec_id"))))
      .filter(col("rk") <= 5)
      .select("qid", "vec_id", "cell", "sim", "rk")
  }

  /** The cell-probed int8 search — the serving composition of the two
    * halves the family already had: IVF cells bound WHICH vectors a
    * query meets (nprobe of the refined k-means cells, reusing the
    * shared centroid frame), int8 codes bound WHAT each meeting costs
    * (an exact integer dot over 4x-compressed codes). The quantizer
    * runs on the assignment frame's own double vectors, so no second
    * corpus-wide join is needed: one broadcast centroid cross for the
    * assignment, one cell-blocked equi-join for the search — no BNLJ
    * anywhere in the plan, unlike the exhaustive `ann_int8_topk`
    * ranking-kernel demo this supersedes at serving time.
    */
  /** The exhaustive int8 ranking (50 broadcast queries × streaming
    * corpus): the exact search the probed variant approximates — the
    * ranking-kernel demo AND the recall ground truth.
    */
  private def int8ExhaustiveTopk(s: SparkSession, d: String,
                                 excludeSelf: Boolean = false): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val emb = Tables.embeddings(s, d)
    def quantized(df: DataFrame) = df
      .withColumn("ma", array_max(transform(col("embedding"),
        x => abs(x.cast("double")))))
      .withColumn("q", transform(col("embedding"),
        x => round(x.cast("double") * lit(127.0) / col("ma")).cast("int")))
    val corpus = quantized(emb).select(col("vec_id"), col("ma"), col("q"))
    val qs = quantized(emb.filter(col("vec_id") < 50))
      .select(col("vec_id").as("qid"), col("q").as("qq"))
    val pairs = qs.crossJoin(corpus)
    (if (excludeSelf) pairs.filter(col("vec_id") =!= col("qid")) else pairs)
      // native fused integer dot (functions/ArrayDotInt) — bit-equal
      // to the aggregate(zip_with(...)) fold, no per-pair array alloc
      .withColumn("idot", call_function("array_dot_int", col("qq"), col("q")))
      .withColumn("rk", row_number().over(Window.partitionBy(col("qid"))
        .orderBy((col("idot").cast("double") * col("ma")).desc,
          col("vec_id"))))
      .filter(col("rk") <= 5)
      .select(col("qid"), col("vec_id"), col("idot"), col("rk"))
  }

  private def int8IvfTopk(s: SparkSession, d: String,
                          nprobe: Int = 2): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val a1 = assign(embFrame(s, d), ivfCentroids(s, d), nprobe)
      .withColumn("ma", array_max(transform(col("v"), x => abs(x))))
      .withColumn("q", transform(col("v"),
        x => round(x * lit(127.0) / col("ma")).cast("int")))
    val corpus = a1.filter(col("rc") === 1)
      .select(col("vec_id"), col("cell"), col("ma"), col("q"))
    val qp = a1.filter(col("vec_id") < 50)
      .select(col("vec_id").as("qid"), col("cell"), col("q").as("qq"))
    // corpus vector in exactly one cell, probed cells distinct → each
    // (query, corpus) pair meets at most once (the ivfKmeansTopk rule)
    corpus.join(qp, Seq("cell"))
      .filter(col("vec_id") =!= col("qid"))
      .withColumn("idot", call_function("array_dot_int", col("qq"), col("q")))
      .withColumn("rk", row_number().over(Window.partitionBy(col("qid"))
        .orderBy((col("idot").cast("double") * col("ma")).desc,
          col("vec_id"))))
      .filter(col("rk") <= 5)
      .select("qid", "vec_id", "cell", "idot", "rk")
  }

  // ---- product quantization (PQ) ----------------------------------
  // The memory-compression ANN path: each 64-dim vector becomes NSub=4
  // codes into 16-entry per-subspace codebooks (16 bytes → 4 codes),
  // and search scores against code lookup tables instead of raw
  // vectors (asymmetric distance computation). At 100 TB this is the
  // index that makes an embedding corpus fit executor memory: 256 B of
  // floats → 4 B of codes per vector, and the per-pair cost is NSub
  // table adds. Codebooks seed deterministically from the first
  // NCodes vectors' subvectors and take one Lloyd refinement round per
  // subspace (decimal-exact means, the ivfCentroids discipline) before
  // encoding.

  private val SubDim = 16
  private val NSub = 4 // NSub * SubDim == Dim
  private val NCodes = 16

  // semantic-dedup cosine threshold (dedup_semantic): within-cluster
  // pairs at or above it collapse onto their lowest-id member
  private val SemTau = 0.4

  // dedup_semantic witness-pool backstop: each member is compared to
  // at most the SemWitPool LOWEST-id members of its cell, making the
  // per-cell term |cell| x min(|cell|, pool) instead of |cell|^2.
  // SemDeDup's scale posture — cluster count grows with the corpus so
  // cells stay bounded — fails for a HOT NEAR-IDENTICAL POINT (the
  // zipfdoc rehearsal shape): identical vectors land in one cell no
  // matter how many centroids exist, so that cell grows linearly with
  // the corpus and the pair join quadratically. The pool keeps the
  // hot cell linear and exact (every member matches the lowest-id
  // pool members at sim~1); keep/witness change ONLY for a dup whose
  // every matching lower-id witness ranks beyond the pool, while
  // max_sim is pool-relative — it can shrink whenever ANY matching
  // lower-id member ranks beyond the pool (the oracle models the same
  // pool, so gates stay consistent). At or under the pool size,
  // output is bit-identical to the uncapped form (all tested SFs: max
  // cell 7.5k at sf3).
  private val SemWitPool = 16384

  // The harness instantiates the parameterized VectorOps.pq* library
  // operators with (NSub, SubDim, NCodes) and this table's column
  // names; the DuckDB oracle below mirrors the pipeline stage by
  // stage (see VectorOps scaladoc for the determinism discipline).

  private def subFrame(s: SparkSession, d: String): DataFrame =
    VectorOps.pqSubvectors(Tables.embeddings(s, d), "vec_id", "embedding",
      NSub, SubDim)

  /** The refined codebook: seeds = first NCodes vectors' subvectors +
    * one Lloyd round (VectorOps.pqTrainCodebook). Cached per
    * (session, sf): the frame is ≤64 rows. Carrying sv through the
    * argmin struct makes this one build a SortAggregate — acceptable
    * because it runs once over the training pass; at 100 TB the
    * codebook trains on a hash-sampled slice (standard PQ practice),
    * not the full corpus, so this stage never scales with the data.
    */
  private val pqCodebook = SharedFrames.Frame("pq_codebook") { (s, d) =>
    val seed = subFrame(s, d).filter(col("vec_id") < NCodes)
      .select(col("m"), col("vec_id").as("code"), col("sv").as("cv"))
    VectorOps.pqTrainCodebook(subFrame(s, d), seed, "vec_id")
  }

  /** The encoded corpus (vec_id, m, code) against the refined
    * codebook — 4 small ints per vector, the cheapest frame in the
    * family to pin; both PQ queries consume it.
    */
  private val pqEncoded = SharedFrames.Frame("pq_codes") { (s, d) =>
    VectorOps.pqEncode(subFrame(s, d), pqCodebook(s, d), "vec_id")
  }

  /** ADC search: per query, a NSub×NCodes distance lookup table
    * (3 200 rows for 50 queries — broadcast) fed to
    * VectorOps.pqSearchTopK.
    */
  private def pqTopk(s: SparkSession, d: String): DataFrame = {
    val dtab = VectorOps.pqAssign(
        subFrame(s, d).filter(col("vec_id") < 50), pqCodebook(s, d))
      .select(col("vec_id").as("qid"), col("m"), col("code"), col("d2"))
    VectorOps.pqSearchTopK(pqEncoded(s, d), dtab, "vec_id", 5)
  }

  /** The corpus gram matrix (d(d+1)/2 rows — metadata-sized at any
    * corpus scale while its build is a full corpus pass): embed_gram
    * reports it and embed_corr assembles the correlation matrix from
    * it, so computing it once per (session, sf) halves the family's
    * full-corpus moment passes (§2.4 — a real pipeline runs PCA and
    * the redundancy report off ONE gram).
    */
  private val gramFrame = SharedFrames.Frame("pca_gram") { (s, d) =>
    graft.ops.Pca.gram(Tables.embeddings(s, d), "embedding", Dim)
  }

  /** The exact cosine top-5 ground truth for the 50 eval queries —
    * a 250-row frame whose build is a 50×corpus broadcast-streamed
    * ranking pass. Shared (§2.4): `ann_cosine_topk` reports it,
    * `ann_ivf_recall` scores against it, and `ann_ivf_nprobe_recall`'s
    * three union arms each re-ran the whole pass before this frame
    * existed (5 builds per census → 1).
    */
  private val bfCos5Frame = SharedFrames.Frame("bf_cos_top5") { (s, d) =>
    val emb = Tables.embeddings(s, d)
    val q = emb.filter(col("vec_id") < 50)
      .select(col("vec_id").as("qid"), col("embedding").as("qe"))
    VectorOps.bruteForceTopK(q, emb, "qid", "vec_id", "qe", "embedding", 5)
      .select(col("qid"), col("vec_id"), col("sim"), col("rk"))
  }

  private[graft] val sharedFrames: Seq[SharedFrames.Frame] = Seq(
    ivfCentroids, pqCodebook, pqEncoded, gramFrame, bfCos5Frame)

  val queries: Map[String, Q] = Map(
    // Raw second-moment (gram) matrix of the embedding corpus — the
    // distributed half of PCA (ops/Pca.scala: Jacobi eigensolver +
    // projection are driver-side on the d x d collect, PcaSpec).
    // Upper-triangle products are generated PER ROW with nested array
    // transforms (no self-join, no pair shuffle); the groupBy reduces
    // map-side, so d(d+1)/2 rows per partition reach the exchange
    // regardless of corpus size. 12dp-rounded terms summed as
    // DECIMAL(38,12) make every cell bit-reproducible in DuckDB.
    "embed_gram" -> ((s, d) => gramFrame(s, d)),

    // Pearson correlation matrix of the embedding dimensions — the
    // feature-redundancy report a curation pipeline prints next to
    // PCA. Assembled ENTIRELY from the exact scaled sums (Pca.gram +
    // columnMoments): every input to the corr formula is a
    // deterministic double, the formula is the same IEEE op sequence
    // in both engines, and the final 6dp round is the pure-IEEE
    // floor(x*1e6+0.5)/1e6. The joins are broadcasts of d- and
    // d(d+1)/2-row frames — metadata-sized at any corpus scale.
    "embed_corr" -> ((s, d) => {
      val g = gramFrame(s, d)
      val m = graft.ops.Pca.columnMoments(Tables.embeddings(s, d),
        "embedding")
      val diag = g.filter(col("i") === col("j"))
        .select(col("i").as("k"), col("gram").as("gkk"))
      g.join(broadcast(m.select(col("i"), col("sx").as("si"), col("n"))),
          Seq("i"))
        .join(broadcast(m.select(col("i").as("j"), col("sx").as("sj"))),
          Seq("j"))
        .join(broadcast(diag.select(col("k").as("i"), col("gkk").as("gii"))),
          Seq("i"))
        .join(broadcast(diag.select(col("k").as("j"), col("gkk").as("gjj"))),
          Seq("j"))
        .select(col("i"), col("j"),
          (floor(((col("n") * col("gram") - col("si") * col("sj")) /
            sqrt((col("n") * col("gii") - col("si") * col("si")) *
              (col("n") * col("gjj") - col("sj") * col("sj")))) *
            lit(1e6) + lit(0.5)) / lit(1e6)).as("corr"))
    }),

    // First-class k-means over the embedding corpus: KmRounds Lloyd
    // iterations (the IVF family runs one refinement; SemDeDup blocks
    // on these cells — clustering itself is a curation deliverable:
    // topic buckets, diversity sampling strata). Each round is one
    // broadcast assignment cross (centroids are metadata-sized) + one
    // DECIMAL-exact component mean, so the whole trajectory is
    // bit-reproducible and the DuckDB oracle replays all rounds
    // UNROLLED, pinning every intermediate centroid through the final
    // assignment hash. Per-round centroids localCheckpoint (8 rows)
    // so Catalyst re-plans a flat cross join per round, not a growing
    // lineage.
    "embed_kmeans" -> ((s, d) => {
      val emb = embFrame(s, d)
      var cents = emb.filter(col("vec_id") < KmCells)
        .select(col("vec_id").as("cid"), col("v").as("cv"),
          col("nv").as("cn"))
      for (_ <- 1 to KmRounds) {
        val comp = assign(emb, cents, 1)
          .select(col("cell"), posexplode(col("v")).as(Seq("pos", "val")))
          .groupBy(col("cell"), col("pos"))
          .agg((sum(col("val").cast(DecimalType(18, 9))).cast("double") /
            count(lit(1))).as("m"))
        cents = comp.groupBy(col("cell"))
          .agg(transform(array_sort(collect_list(struct(col("pos"), col("m")))),
            x => x("m")).as("cv"))
          .select(col("cell").as("cid"), col("cv"),
            VectorOps.norm(col("cv")).as("cn"))
          .loopCheckpoint()
      }
      assign(emb, cents, 1).select(col("vec_id"), col("cell"))
    }),

    // Scalar int8 quantization of the embedding column — the storage
    // path for a 100 TB vector corpus (4x smaller than float32, 1.6x
    // smaller than PQ codes at these dims, and dot products stay
    // SIMD-able): per-vector symmetric scale q_i = round(127·x_i /
    // max|x|), emitted with the scale and a reconstruction-error
    // bracket the oracle pins (|x_i − q_i·s| <= max|x|/253 by
    // construction, slack over the tight /254 for fp noise). Purely
    // per-row; the projection rides the scan.
    "vector_quantize_int8" -> ((s, d) => {
      val emb = Tables.embeddings(s, d)
      val maxabs = array_max(transform(col("embedding"),
        x => abs(x.cast("double"))))
      val q = transform(col("embedding"),
        x => round(x.cast("double") * lit(127.0) / col("maxabs"))
          .cast("int"))
      val err = array_max(zip_with(col("embedding"), col("q"),
        (x, qi) => abs(x.cast("double") -
          qi.cast("double") * col("maxabs") / lit(127.0))))
      emb.select(col("vec_id"), col("embedding"), maxabs.as("maxabs"))
        .withColumn("q", q)
        .select(col("vec_id"),
          round(col("maxabs"), 6).as("scale_maxabs"),
          concat_ws(",", transform(col("q"), _.cast("string"))).as("q_csv"),
          (err <= col("maxabs") / lit(253.0)).as("quant_ok"))
    }),

    // Search over the QUANTIZED corpus — the serving half of the int8
    // story: integer dot products (exact Longs, SIMD-able at scale)
    // ranked by idot·scale_c (the query's own scale is constant per
    // group and drops out of the ordering). The emitted columns are
    // the exact integer dot and the rank — no rounded double ever
    // reaches the hash compare (the SCALE.md r9 determinism rule).
    // Shape matches the float brute-force baseline: 50 quantized
    // queries broadcast, corpus streams.
    "ann_int8_topk" -> ((s, d) =>
      int8ExhaustiveTopk(s, d).select("qid", "vec_id", "idot", "rk")),

    // The int8 SERVING plan: quantized codes ranked by exact integer
    // dot, but only within the query's nprobe=2 refined IVF cells —
    // the composition that makes int8 usable at 100 TB (the
    // exhaustive ann_int8_topk demo scans the whole corpus per
    // query; this scans the probed fraction, via plain equi-joins).
    "ann_int8_ivf_topk" -> ((s, d) => int8IvfTopk(s, d)),

    // Recall@5 of the cell-probed int8 search against the exhaustive
    // int8 ranking it approximates — isolates the probe loss (the
    // quantization loss is ann_pq_recall's jurisdiction; here both
    // sides rank with the same integer dots).
    "ann_int8_ivf_recall" -> ((s, d) => {
      val bf = int8ExhaustiveTopk(s, d, excludeSelf = true)
        .select(col("qid"), col("vec_id"))
      val iv = int8IvfTopk(s, d)
        .select(col("qid").as("__q"), col("vec_id").as("__v"))
      bf.join(iv, col("qid") === col("__q") && col("vec_id") === col("__v"),
          "left_outer")
        .agg(countDistinct(col("qid")).as("n_queries"),
          count(lit(1)).as("n_expected"),
          sum(when(col("__v").isNotNull, 1L).otherwise(0L)).as("n_hit"))
        .select(col("n_queries"), col("n_expected"), col("n_hit"),
          round(col("n_hit").cast("double") / col("n_expected"), 6)
            .as("recall"))
    }),

    // ANN baseline: 50 query vectors against the full corpus, top-5
    // by (rounded cosine desc, vec_id) — the query side is broadcast,
    // the corpus streams, so the plan scales with corpus size only.
    "ann_cosine_topk" -> ((s, d) =>
      // reads the shared ground-truth frame (§2.4) — same expression
      // as before, built once per (session, sf)
      bfCos5Frame(s, d).select("qid", "vec_id", "sim", "rk")),

    // Retrieval-quality evaluation over the label column: MRR and
    // hit@5 of the cosine top-10 where "relevant" = shares the query
    // vector's class label — the eval every embedding-curation loop
    // runs after re-training (recall gauges above measure the INDEX
    // against exact search; this measures the EMBEDDING against
    // ground-truth classes). Reciprocal rank ships as floor(1e9/rank)
    // — an exact integer for integer ranks — so the hash gate holds;
    // the per-rank label join touches only the 50xK shortlist.
    "ann_mrr" -> ((s, d) => {
      val emb = Tables.embeddings(s, d)
      val labels = emb.select(col("vec_id"), col("label"))
      val q = emb.filter(col("vec_id") < 50)
        .select(col("vec_id").as("qid"), col("embedding").as("qe"))
      val top = VectorOps
        .bruteForceTopK(q, emb, "qid", "vec_id", "qe", "embedding", 10)
        .select(col("qid"), col("vec_id"), col("rk").cast("long").as("rk"))
        .join(broadcast(labels.select(col("vec_id").as("qid"),
          col("label").as("qlab"))), Seq("qid"))
        .join(labels.select(col("vec_id"), col("label").as("nlab")),
          Seq("vec_id"))
      val firstHit = min(when(col("nlab") === col("qlab"), col("rk")))
      top.groupBy(col("qid"))
        .agg(coalesce(firstHit, lit(0L)).as("first_hit_rank"),
          coalesce(floor(lit(1e9) / firstHit).cast("long"), lit(0L))
            .as("rr_nano"),
          (coalesce(firstHit, lit(999L)) <= 5).as("hit_at_5"))
    }),

    // ANN scale path: random-hyperplane LSH buckets (sign bits of 4
    // fixed ±1 planes), then top-k *within the bucket only* — each
    // query meets ~1/16 of the corpus instead of all of it, and the
    // bucket join is a plain shuffled equi-join that scales out.
    "ann_lsh_topk" -> ((s, d) => {
      import org.apache.spark.sql.expressions.Window
      val b = Tables.embeddings(s, d)
        .withColumn("v", VectorOps.asDouble(col("embedding")))
        .withColumn("nv", VectorOps.norm(col("v")))
        .withColumn("bk", concat(planes.map { pl =>
          val plane = array(pl.map(lit): _*)
          when(VectorOps.dot(col("v"), plane) >= 0, "1").otherwise("0")
        }: _*))
        .select("vec_id", "v", "nv", "bk")
      val q = b.filter(col("vec_id") < 50)
        .select(col("vec_id").as("qid"), col("v").as("qv"),
          col("nv").as("qn"), col("bk"))
      b.join(q, Seq("bk"))
        .filter(col("vec_id") =!= col("qid"))
        .withColumn("sim",
          round(VectorOps.dot(col("qv"), col("v")) / (col("qn") * col("nv")), 6))
        .withColumn("rk", row_number().over(
          Window.partitionBy(col("qid")).orderBy(col("sim").desc, col("vec_id"))))
        .filter(col("rk") <= 5)
        .select("qid", "vec_id", "bk", "sim", "rk")
    }),

    // ANN scale path #2, IVF-style: coarse cells from deterministic
    // seed centroids (first 8 vectors), every vector assigned to its
    // nearest centroid (argmax cosine, tie → lowest cell id), queries
    // probe their own cell only (nprobe=1). The assignment cross join
    // is |corpus| × n_cells — linear, broadcastable; the search join
    // is cell-blocked.
    "ann_ivf_topk" -> ((s, d) => {
      import org.apache.spark.sql.expressions.Window
      val emb = Tables.embeddings(s, d)
        .withColumn("v", VectorOps.asDouble(col("embedding")))
        .withColumn("nv", VectorOps.norm(col("v")))
        .select("vec_id", "v", "nv")
      val cents = emb.filter(col("vec_id") < 8)
        .select(col("vec_id").as("cid"), col("v").as("cv"), col("nv").as("cn"))
      val assigned = emb.crossJoin(broadcast(cents))
        .withColumn("simc",
          round(VectorOps.dot(col("v"), col("cv")) / (col("nv") * col("cn")), 6))
        .withColumn("rc", row_number().over(
          Window.partitionBy(col("vec_id")).orderBy(col("simc").desc, col("cid"))))
        .filter(col("rc") === 1)
        .select(col("vec_id"), col("v"), col("nv"), col("cid").as("cell"))
      val q = assigned.filter(col("vec_id") < 50)
        .select(col("vec_id").as("qid"), col("v").as("qv"),
          col("nv").as("qn"), col("cell"))
      assigned.join(q, Seq("cell"))
        .filter(col("vec_id") =!= col("qid"))
        .withColumn("sim",
          round(VectorOps.dot(col("qv"), col("v")) / (col("qn") * col("nv")), 6))
        .withColumn("rk", row_number().over(
          Window.partitionBy(col("qid")).orderBy(col("sim").desc, col("vec_id"))))
        .filter(col("rk") <= 5)
        .select("qid", "vec_id", "cell", "sim", "rk")
    }),

    // IVF with a k-means refinement round and nprobe=2 (the honest
    // IVF build: seed → assign → update → reassign → probe 2 cells).
    "ann_ivf_kmeans_topk" -> ((s, d) => ivfKmeansTopk(s, d)),

    // Recall@5 of the refined IVF against the brute-force ground
    // truth — the measurement that decides whether an ANN index is
    // usable, computed in-engine (no notebook step): fraction of
    // brute-force top-5 pairs the IVF search also returns.
    "ann_ivf_recall" -> ((s, d) => {
      val bf = bfCos5Frame(s, d).select(col("qid"), col("vec_id"))
      val ivf = ivfKmeansTopk(s, d)
        .select(col("qid").as("__q"), col("vec_id").as("__v"))
      bf.join(ivf, col("qid") === col("__q") && col("vec_id") === col("__v"),
          "left_outer")
        .agg(countDistinct(col("qid")).as("n_queries"),
          count(lit(1)).as("n_expected"),
          sum(when(col("__v").isNotNull, 1L).otherwise(0L)).as("n_hit"))
        .select(col("n_queries"), col("n_expected"), col("n_hit"),
          round(col("n_hit").cast("double") / col("n_expected"), 6).as("recall"))
    }),

    // The nprobe tuning curve: recall@5 at nprobe ∈ {1, 2, 4} in one
    // pass — the measurement that picks an IVF operating point at
    // scale (recall rises with probes, so does the probed fraction of
    // the corpus). Brute-force ground truth computes ONCE; the three
    // probe levels share the cached refined centroids, so each added
    // level costs one cell-blocked search join, nothing else.
    "ann_ivf_nprobe_recall" -> ((s, d) => {
      // §2.4 twice over: the ground truth reads the shared frame
      // (three union arms previously re-ran the whole brute-force
      // pass each), and the corpus-wide IVF assignment materializes
      // ONCE at the widest probe level — filtering rc ≤ np from it
      // reproduces each narrower level exactly (same row_number
      // window), so the three arms share one assignment build where
      // the r16 plan ran it six times (corpus + query side per arm).
      val bf = bfCos5Frame(s, d).select(col("qid"), col("vec_id"))
      val a4 = assign(embFrame(s, d), ivfCentroids(s, d), 4)
        .loopCheckpoint()
      Seq(1, 2, 4).map { np =>
        val ivf = ivfSearch(a4, np)
          .select(col("qid").as("__q"), col("vec_id").as("__v"))
        bf.join(ivf,
            col("qid") === col("__q") && col("vec_id") === col("__v"),
            "left_outer")
          .agg(countDistinct(col("qid")).as("n_queries"),
            count(lit(1)).as("n_expected"),
            sum(when(col("__v").isNotNull, 1L).otherwise(0L)).as("n_hit"))
          .select(lit(np).as("nprobe"), col("n_queries"), col("n_expected"),
            col("n_hit"),
            round(col("n_hit").cast("double") / col("n_expected"), 6)
              .as("recall"))
      }.reduce(_ unionByName _)
    }),

    // PQ/ADC top-5: the compressed-index search (codes + lookup
    // tables, no raw vectors at search time).
    "ann_pq_topk" -> ((s, d) => pqTopk(s, d)),

    // Recall@5 of PQ against the exact L2² ground truth (the metric
    // ADC approximates) — the gauge that decides codebook size.
    "ann_pq_recall" -> ((s, d) => {
      val e = Tables.embeddings(s, d)
        .withColumn("v", VectorOps.asDouble(col("embedding")))
        .select(col("vec_id"), col("v"))
      val q = e.filter(col("vec_id") < 50)
        .select(col("vec_id").as("qid"), col("v").as("qv"))
      val bf = VectorOps.l2TopK(e.crossJoin(broadcast(q)).filter(col("vec_id") =!= col("qid")), 5)
        .select(col("qid"), col("vec_id"))
      val pq = pqTopk(s, d)
        .select(col("qid").as("__q"), col("vec_id").as("__v"))
      bf.join(pq, col("qid") === col("__q") && col("vec_id") === col("__v"),
          "left_outer")
        .agg(countDistinct(col("qid")).as("n_queries"),
          count(lit(1)).as("n_expected"),
          sum(when(col("__v").isNotNull, 1L).otherwise(0L)).as("n_hit"))
        .select(col("n_queries"), col("n_expected"), col("n_hit"),
          round(col("n_hit").cast("double") / col("n_expected"), 6)
            .as("recall"))
    }),

    // Two-stage retrieval — the standard serving pattern a compressed
    // index exists FOR: the PQ/ADC index generates a cheap top-25
    // SHORTLIST per query (codes + lookup tables, no raw vectors),
    // then ONLY the shortlist pairs fetch raw vectors for an exact-L2
    // re-rank to top-5. The re-rank join broadcasts the 50x25-row
    // shortlist onto the corpus scan, so raw vectors stream exactly
    // once and only shortlisted rows compute the exact distance — at
    // 100 TB this is candidate-generation + re-ranking, the shape
    // every production retrieval stack runs.
    "ann_pq_rerank" -> ((s, d) => {
      val dtab = VectorOps.pqAssign(
          subFrame(s, d).filter(col("vec_id") < 50), pqCodebook(s, d))
        .select(col("vec_id").as("qid"), col("m"), col("code"), col("d2"))
      val shortlist = VectorOps
        .pqSearchTopK(pqEncoded(s, d), dtab, "vec_id", 25)
        .select(col("qid"), col("vec_id"))
      val e = Tables.embeddings(s, d)
        .withColumn("v", VectorOps.asDouble(col("embedding")))
        .select(col("vec_id"), col("v"))
      val q = e.filter(col("vec_id") < 50)
        .select(col("vec_id").as("qid"), col("v").as("qv"))
      VectorOps.l2TopK(e.join(broadcast(shortlist.join(q, Seq("qid"))), Seq("vec_id")), 5)
        .select(col("qid"), col("vec_id"), col("dd"), col("rk"))
    }),

    // Semantic dedup, SemDeDup-style (cluster, then within-cluster
    // cosine; Abbas et al. 2023, arXiv:2303.09540): every vector lands
    // in its refined k-means cell, and is DROPPED iff a lower-id
    // vector in the same cell sits at cosine ≥ SemTau — keep-first-
    // wins, the dedup family's standing tie policy. Output is the
    // full corpus with the keep flag plus, for dropped rows, the
    // lowest such witness and the strongest similarity seen. The
    // cells ARE the blocking: pair expansion is per-cell, never
    // corpus-wide. At 100 TB the cluster count scales with the corpus
    // (the paper runs ~100k clusters on LAION) so per-cell membership
    // — and with it the quadratic term — stays bounded; k here is the
    // centroid seed count (8 at test SF), shared with the IVF family.
    "dedup_semantic" -> ((s, d) => {
      val a = assign(embFrame(s, d), ivfCentroids(s, d), 1)
        .select(col("vec_id"), col("v"), col("nv"), col("cell"))
      // witness pool: the SemWitPool lowest-id members per cell via
      // the k-heap operator (no full per-cell sort — a hot cell would
      // otherwise sort on one task before the join even starts)
      val wit = graft.ops.RelOps.topKPerGroupExact(
          a.select(col("cell"), col("vec_id"), col("v"), col("nv")),
          Seq(col("cell")), Seq(col("vec_id")), SemWitPool)
        .select(col("cell"), col("vec_id").as("wit"),
          col("v").as("wv"), col("nv").as("wn"))
      val dup = a.select(col("cell"), col("vec_id").as("dup"),
        col("v").as("dv"), col("nv").as("dn"))
      val flagged = wit.join(dup, Seq("cell"))
        .filter(col("wit") < col("dup"))
        .withColumn("sim",
          round(VectorOps.dot(col("wv"), col("dv")) / (col("wn") * col("dn")), 6))
        .filter(col("sim") >= SemTau)
        .groupBy(col("dup"))
        .agg(min(col("wit")).as("witness"), max(col("sim")).as("max_sim"))
      a.join(flagged, col("vec_id") === col("dup"), "left_outer")
        .select(col("vec_id"), col("cell"),
          col("witness").isNull.as("keep"), col("witness"), col("max_sim"))
    }),

    // Hybrid retrieval with reciprocal-rank fusion — the serving-stack
    // composition the lexical (text_bm25/text_tfidf) and vector (ann_*)
    // families exist for: each leg produces a per-query top-50, RRF
    // fuses them. The lexical score is PURE int64 — idf quantized to
    // millis (ln(N/df) at 3dp × 1000), contribution tf_q·tf_d·idf_m²
    // ≤ ~1e11 per term so the BIGINT sum is exact in any engine, no
    // doubles anywhere in the leg. The vector leg is the proven
    // brute-force cosine ranking. RRF_k=60 contributions are
    // floor(1e12/(60+rank)) — one IEEE divide + floor, bit-identical
    // cross-engine — summed as BIGINT, absent legs contributing 0.
    // Shape: the lexical leg is one posting join against a broadcast
    // (5-query tokens × idf) frame; the vector leg a 5-row broadcast
    // cross; fusion a (qid, doc)-keyed full-outer of two 250-row
    // frames. At 100 TB each leg swaps in its scale path (BM25 over
    // the inverted index / IVF cells) — the fusion stays rank-only,
    // so it never touches corpus-sized data.
    "ann_hybrid_rrf" -> ((s, d) => {
      import org.apache.spark.sql.expressions.Window
      val docs = Tables.documents(s, d)
      val tf = docs
        .select(col("doc_id"),
          explode(graft.ops.TextOps.tokens(col("text"))).as("t"))
        .groupBy(col("doc_id"), col("t")).agg(count(lit(1)).as("tf"))
      val census = docs.agg(count(lit(1)).as("nd"))
      val idf = tf.groupBy(col("t")).agg(count(lit(1)).as("df"))
        .crossJoin(broadcast(census))
        .select(col("t"),
          (round(log(col("nd") / col("df")), 3).cast(DecimalType(12, 3)) *
            lit(1000)).cast("long").as("idf_m"))
      val qtf = tf.filter(col("doc_id") < 5)
        .select(col("doc_id").as("qid"), col("t"), col("tf").as("qtf"))
      val lexTop = tf
        .join(broadcast(qtf.join(idf, Seq("t"))), Seq("t"))
        .filter(col("qid") =!= col("doc_id"))
        .groupBy(col("qid"), col("doc_id"))
        .agg(sum(col("tf") * col("qtf") * col("idf_m") * col("idf_m"))
          .as("s_lex"))
        .withColumn("r_lex", row_number().over(Window.partitionBy(col("qid"))
          .orderBy(col("s_lex").desc, col("doc_id"))))
        .filter(col("r_lex") <= 50)
        .select(col("qid"), col("doc_id"), col("r_lex"))
      val emb = Tables.embeddings(s, d)
      val q = emb.filter(col("vec_id") < 5)
        .select(col("vec_id").as("qid"), col("embedding").as("qe"))
      val vecTop = VectorOps
        .bruteForceTopK(q, emb, "qid", "vec_id", "qe", "embedding", 50)
        .select(col("qid"), col("vec_id").as("doc_id"), col("rk").as("r_vec"))
      def contrib(r: Column) = when(r.isNotNull,
        floor(lit(1e12) / (lit(60) + r)).cast("long")).otherwise(lit(0L))
      lexTop.join(vecTop, Seq("qid", "doc_id"), "full_outer")
        .withColumn("rrf", contrib(col("r_lex")) + contrib(col("r_vec")))
        .withColumn("rk", row_number().over(Window.partitionBy(col("qid"))
          .orderBy(col("rrf").desc, col("doc_id"))))
        .filter(col("rk") <= 5)
        .select(col("qid"), col("doc_id"),
          coalesce(col("r_lex"), lit(-1)).as("r_lex"),
          coalesce(col("r_vec"), lit(-1)).as("r_vec"),
          col("rrf"), col("rk"))
    }),

    // Embedding-quality outlier flag — the data-cleaning pass that
    // drops mis-embedded vectors before training: every vector's
    // cosine to its refined k-means cell centroid, pinned to integer
    // micros, and a vector is an outlier iff it sits strictly below
    // its CELL's bottom-decile similarity (exact rank selection via
    // CorpusOps.rankQuantiles — no interpolation, no sketch, so the
    // threshold is bit-identical cross-engine). Per-cell thresholds,
    // not a global one: a tight cluster's outliers would hide under a
    // loose cluster's spread. The threshold table is cell-count-sized
    // (broadcast); the corpus side is one assign pass + one keyed agg.
    "embed_outliers" -> ((s, d) => {
      val a = assign(embFrame(s, d), ivfCentroids(s, d), 1)
        .select(col("vec_id"), col("cell"),
          floor(col("simc") * lit(1e6) + lit(0.5)).cast("long").as("sim_u"))
      val thr = graft.ops.CorpusOps.rankQuantiles(
          a, "cell", "sim_u", Seq(("p10", 1, 10)))
        .select(col("cell"), col("p10"))
      a.join(broadcast(thr), Seq("cell"))
        .select(col("vec_id"), col("cell"), col("sim_u"), col("p10"),
          (col("sim_u") < col("p10")).as("is_outlier"))
    }),

    // Diversity-aware subset selection: a coverage-maximizing sample
    // that takes up to K vectors per refined IVF cell instead of
    // hash-sampling the corpus blind — dense regions can't crowd out
    // sparse ones, the cheap stand-in for k-center coresets that
    // stays fully distributed (greedy k-center is sequential).
    // Within a cell the picks follow a salted content hash (the
    // sampling family's determinism rule), so reruns and engines
    // agree and growing the corpus never evicts an already-picked
    // vector from an unaffected cell. Per-cell top-K is a keyed
    // window here; a cluster-scale run swaps in the TopKPerGroup
    // native operator (adaptive partial top-K, no full sort).
    "sample_diverse" -> ((s, d) => {
      import org.apache.spark.sql.expressions.Window
      assign(embFrame(s, d), ivfCentroids(s, d), 1)
        .select(col("vec_id"), col("cell"))
        .withColumn("hb", TextOps.hexByteValue(
          md5(concat(lit("div:"), col("vec_id").cast("string")))))
        .withColumn("rk", row_number().over(
          Window.partitionBy(col("cell"))
            .orderBy(col("hb"), col("vec_id"))))
        .filter(col("rk") <= DiverseK)
        .select(col("vec_id"), col("cell"), col("hb"), col("rk"))
    }),

    // Hard-negative mining for contrastive / reranker training: for
    // each query, the most-similar corpus vectors that are NOT
    // near-duplicates — candidates come from the query's own refined
    // IVF cell (the serving index, shared with the whole ann family),
    // a similarity ceiling (0.95) cuts the positives/near-dups, and
    // the top-3 below it are the "hard" negatives (similar enough to
    // be confusing, distinct enough to be wrong). One broadcast
    // centroid assignment + one cell-keyed equi-join — candidate
    // volume is corpus/cells per query, never the full corpus, so the
    // plan scales with the index like every IVF search here.
    "ann_hard_negatives" -> ((s, d) => {
      import org.apache.spark.sql.expressions.Window
      val asg = assign(embFrame(s, d), ivfCentroids(s, d), 1)
        .select(col("vec_id"), col("v"), col("nv"), col("cell"))
      val q = asg.filter(col("vec_id") < 50)
        .select(col("vec_id").as("qid"), col("v").as("qv"),
          col("nv").as("qn"), col("cell"))
      asg.join(q, Seq("cell"))
        .filter(col("vec_id") =!= col("qid"))
        .withColumn("sim_u",
          floor(round(VectorOps.dot(col("qv"), col("v")) /
            (col("qn") * col("nv")), 6) * lit(1e6) + lit(0.5)).cast("long"))
        .filter(col("sim_u") < lit(HardNegCeil))
        .withColumn("rk", row_number().over(
          Window.partitionBy(col("qid"))
            .orderBy(col("sim_u").desc, col("vec_id"))))
        .filter(col("rk") <= 3)
        .select(col("qid"), col("vec_id"), col("cell"), col("sim_u"),
          col("rk"))
    })
  )

  /** Near-dup ceiling for hard-negative mining, integer micros. */
  private val HardNegCeil = 950000L

  /** Per-cell keep budget for diversity sampling. */
  private val DiverseK = 16

  /** Shared oracle CTEs for the k-means-refined IVF (mirrors
    * ivfKmeansTopk stage by stage; DECIMAL sums keep the centroid
    * update order-independent, matching the Spark side exactly).
    */
  private val ivfSharedCtes =
    """e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
       c0 AS (SELECT vec_id AS cid, v AS cv FROM e WHERE vec_id < 8),
       a0 AS (SELECT vec_id, v, cid,
                     row_number() OVER (PARTITION BY vec_id
                       ORDER BY round(list_cosine_similarity(v, cv), 6) DESC,
                                cid) AS rc
              FROM e CROSS JOIN c0),
       asg0 AS (SELECT vec_id, v, cid AS cell FROM a0 WHERE rc = 1),
       comp AS (SELECT cell, pos,
                       CAST(SUM(CAST(v[pos] AS DECIMAL(18,9))) AS DOUBLE)
                         / COUNT(*) AS m
                FROM asg0, UNNEST(range(1, len(v) + 1)) AS u(pos)
                GROUP BY cell, pos),
       c1 AS (SELECT cell AS cid, list(m ORDER BY pos) AS cv
              FROM comp GROUP BY cell),
       a1 AS (SELECT vec_id, v, cid,
                     row_number() OVER (PARTITION BY vec_id
                       ORDER BY round(list_cosine_similarity(v, cv), 6) DESC,
                                cid) AS rc
              FROM e CROSS JOIN c1),
       asgc AS (SELECT vec_id, v, cid AS cell FROM a1 WHERE rc = 1)"""

  /** Per-nprobe probe + search CTEs over the shared refined index;
    * CTE names carry `sfx` so several probe levels coexist in one
    * statement (the nprobe-sweep oracle).
    */
  private def ivfProbeCtes(nprobe: Int, sfx: String) =
    s"""asgq$sfx AS (SELECT vec_id AS qid, v AS qv, cid AS cell
                FROM a1 WHERE rc <= $nprobe AND vec_id < 50),
       iv$sfx AS (SELECT qid, vec_id, cell, sim, rk
              FROM (SELECT *, row_number() OVER (PARTITION BY qid
                      ORDER BY sim DESC, vec_id) AS rk
                    FROM (SELECT qid, b.vec_id, b.cell,
                                 round(list_cosine_similarity(qv, b.v), 6) AS sim
                          FROM asgq$sfx q JOIN asgc b USING (cell)
                          WHERE b.vec_id <> qid))
              WHERE rk <= 5)"""

  private val ivfKmeansCtes = s"$ivfSharedCtes,\n ${ivfProbeCtes(2, "")}"

  /** int8-over-IVF oracle: the shared refined-IVF CTEs (a1 = nprobe
    * ranks, asgc = one-cell corpus) plus the int8 quantizer applied
    * to the same double vectors, dot products exact in BIGINT.
    */
  // shared with StreamQueries: stream_ann_rerank's oracle re-ranks
  // the same int8-IVF shortlist these CTEs produce
  private[harness] val int8IvfCtes =
    s"""$ivfSharedCtes,
       qz0 AS (SELECT vec_id, v,
                      list_max(list_transform(v, x -> abs(x))) AS ma
               FROM e),
       qz AS (SELECT vec_id, ma,
                     list_transform(v,
                       x -> CAST(round(x * 127.0 / ma, 0) AS INT)) AS q
              FROM qz0),
       i8c AS (SELECT a.vec_id, a.cell, z.ma, z.q
               FROM asgc a JOIN qz z USING (vec_id)),
       i8q AS (SELECT a1.vec_id AS qid, a1.cid AS cell, z.q AS qq
               FROM a1 JOIN qz z ON a1.vec_id = z.vec_id
               WHERE a1.rc <= 2 AND a1.vec_id < 50),
       i8p AS (SELECT qid, c.vec_id, c.cell, c.ma,
                      CAST(list_dot_product(CAST(qq AS DOUBLE[]),
                                            CAST(c.q AS DOUBLE[])) AS BIGINT)
                        AS idot
               FROM i8q JOIN i8c c USING (cell)
               WHERE c.vec_id <> qid),
       i8rank AS (SELECT qid, vec_id, cell, idot,
                         CAST(row_number() OVER (PARTITION BY qid
                           ORDER BY CAST(idot AS DOUBLE) * ma DESC, vec_id)
                           AS INT) AS rk
                  FROM i8p)"""

  /** Shared PQ oracle CTEs, mirroring subFrame → pqDistances →
    * pqEncoded → pqTopk stage by stage. list_reduce is a left fold
    * over the same element order as the Spark zip_with/aggregate pair,
    * so d2 is bit-identical before its 6-dp round; the ADC sum uses
    * the same DECIMAL(18,9) exact accumulation as the Spark side.
    */
  private val pqCtes =
    s"""e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
       sub AS (SELECT vec_id, m, v[m*$SubDim+1 : m*$SubDim+$SubDim] AS sv
               FROM e, UNNEST([0,1,2,3]) AS t(m)),
       seed AS (SELECT m, vec_id AS code, sv AS cv FROM sub
                WHERE vec_id < $NCodes),
       dj0 AS (SELECT s.vec_id, s.m, seed.code, s.sv AS sv, seed.cv AS cv
               FROM sub s JOIN seed USING (m)),
       a0 AS (SELECT vec_id, m, code, sv,
                     round(list_reduce(list_transform(range(1, ${SubDim + 1}),
                       i -> (sv[i]-cv[i])*(sv[i]-cv[i])), (x,y) -> x+y), 6) AS d2
              FROM dj0),
       asg0 AS (SELECT vec_id, m, code, sv
                FROM (SELECT *, row_number() OVER (PARTITION BY vec_id, m
                        ORDER BY d2, code) AS rk FROM a0)
                WHERE rk = 1),
       comp AS (SELECT m, code, pos,
                       CAST(SUM(CAST(sv[pos] AS DECIMAL(18,9))) AS DOUBLE)
                         / COUNT(*) AS mu
                FROM asg0, UNNEST(range(1, ${SubDim + 1})) AS u(pos)
                GROUP BY m, code, pos),
       cb AS (SELECT m, code, list(mu ORDER BY pos) AS cv
              FROM comp GROUP BY m, code),
       dj AS (SELECT s.vec_id, s.m, cb.code, s.sv AS sv, cb.cv AS cv
              FROM sub s JOIN cb USING (m)),
       d0 AS (SELECT vec_id, m, code,
                     round(list_reduce(list_transform(range(1, ${SubDim + 1}),
                       i -> (sv[i]-cv[i])*(sv[i]-cv[i])), (x,y) -> x+y), 6) AS d2
              FROM dj),
       enc AS (SELECT vec_id, m, code
               FROM (SELECT vec_id, m, code,
                            row_number() OVER (PARTITION BY vec_id, m
                              ORDER BY d2, code) AS rk FROM d0)
               WHERE rk = 1),
       dtab AS (SELECT vec_id AS qid, m, code, d2 FROM d0 WHERE vec_id < 50),
       adc AS (SELECT qid, enc.vec_id,
                      CAST(SUM(CAST(d2 AS DECIMAL(18,9))) AS DOUBLE) AS dist
               FROM enc JOIN dtab USING (m, code)
               WHERE enc.vec_id <> qid
               GROUP BY qid, enc.vec_id),
       pq AS (SELECT qid, vec_id, dist, rk
              FROM (SELECT *, row_number() OVER (PARTITION BY qid
                      ORDER BY dist, vec_id) AS rk FROM adc)
              WHERE rk <= 5)"""

  val oracle: Map[String, String] = Map(
    // replay the moment matrix exactly: the per-term round is pure
    // IEEE (floor(x*1e12 + 0.5) — the same three FP ops Spark runs;
    // engine-native round() diverges by 1 ulp on rare terms), the
    // scaled integers sum exactly, one double division at the end
    "embed_gram" ->
      s"""WITH p AS (SELECT u.i AS i, w.j AS j,
                 CAST(floor(CAST(embedding[u.i + 1] AS DOUBLE) *
                            CAST(embedding[w.j + 1] AS DOUBLE) * 1e12
                            + 0.5) AS BIGINT) AS t12
          FROM embeddings,
               UNNEST(range(0, $Dim)) AS u(i),
               UNNEST(range(0, $Dim)) AS w(j)
          WHERE w.j >= u.i)
          SELECT CAST(i AS INT) AS i, CAST(j AS INT) AS j,
                 CAST(SUM(t12) AS DOUBLE) / 1e12 AS gram
          FROM p GROUP BY i, j""",
    // the corr formula runs the SAME IEEE op sequence on the same
    // exact-sum doubles as the Spark side; 6dp round is floor-based
    "embed_corr" ->
      s"""WITH p AS (SELECT u.i AS i, w.j AS j,
                 CAST(floor(CAST(embedding[u.i + 1] AS DOUBLE) *
                            CAST(embedding[w.j + 1] AS DOUBLE) * 1e12
                            + 0.5) AS BIGINT) AS t12
          FROM embeddings,
               UNNEST(range(0, $Dim)) AS u(i),
               UNNEST(range(0, $Dim)) AS w(j)
          WHERE w.j >= u.i),
          g AS (SELECT CAST(i AS INT) AS i, CAST(j AS INT) AS j,
                       CAST(SUM(t12) AS DOUBLE) / 1e12 AS gram
                FROM p GROUP BY i, j),
          m AS (SELECT CAST(u.i AS INT) AS i,
                       CAST(SUM(CAST(floor(CAST(embedding[u.i + 1] AS DOUBLE)
                                           * 1e12 + 0.5) AS BIGINT))
                            AS DOUBLE) / 1e12 AS sx,
                       COUNT(*) AS n
                FROM embeddings, UNNEST(range(0, $Dim)) AS u(i)
                GROUP BY u.i),
          dg AS (SELECT i AS k, gram AS gkk FROM g WHERE i = j)
          SELECT g.i, g.j,
                 floor(((si.n * g.gram - si.sx * sj.sx) /
                        sqrt((si.n * di.gkk - si.sx * si.sx) *
                             (si.n * dj.gkk - sj.sx * sj.sx))) * 1e6
                       + 0.5) / 1e6 AS corr
          FROM g JOIN m si ON g.i = si.i
                 JOIN m sj ON g.j = sj.i
                 JOIN dg di ON g.i = di.k
                 JOIN dg dj ON g.j = dj.k""",
    // replay ALL Lloyd rounds unrolled: every intermediate centroid is
    // decimal-exact, so the final assignment hash pins the trajectory
    "embed_kmeans" -> {
      def roundCtes(t: Int) =
        s"""a$t AS (SELECT vec_id, v, cid,
                 row_number() OVER (PARTITION BY vec_id
                   ORDER BY round(list_cosine_similarity(v, cv), 6) DESC,
                            cid) AS rc
               FROM e CROSS JOIN c${t - 1}),
          asg$t AS (SELECT vec_id, v, cid AS cell FROM a$t WHERE rc = 1),
          comp$t AS (SELECT cell, pos,
                   CAST(SUM(CAST(v[pos] AS DECIMAL(18,9))) AS DOUBLE)
                     / COUNT(*) AS m
                 FROM asg$t, UNNEST(range(1, len(v) + 1)) AS u(pos)
                 GROUP BY cell, pos),
          c$t AS (SELECT cell AS cid, list(m ORDER BY pos) AS cv
                FROM comp$t GROUP BY cell)"""
      val rounds = (1 to KmRounds).map(roundCtes).mkString(",\n")
      s"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
          c0 AS (SELECT vec_id AS cid, v AS cv FROM e WHERE vec_id < $KmCells),
          $rounds,
          fin AS (SELECT vec_id, cid AS cell,
                 row_number() OVER (PARTITION BY vec_id
                   ORDER BY round(list_cosine_similarity(v, cv), 6) DESC,
                            cid) AS rc
               FROM e CROSS JOIN c$KmRounds)
          SELECT vec_id, cell FROM fin WHERE rc = 1"""
    },
    "vector_quantize_int8" ->
      """WITH m AS (SELECT vec_id, embedding,
                list_max(list_transform(embedding,
                  x -> abs(CAST(x AS DOUBLE)))) AS maxabs
              FROM embeddings)
         SELECT vec_id, round(maxabs, 6) AS scale_maxabs,
                array_to_string(list_transform(embedding,
                  x -> CAST(CAST(round(CAST(x AS DOUBLE) * 127.0 / maxabs, 0)
                            AS INT) AS VARCHAR)), ',') AS q_csv,
                TRUE AS quant_ok
         FROM m""",
    "ann_int8_topk" ->
      """WITH m AS (SELECT vec_id, embedding,
                list_max(list_transform(embedding,
                  x -> abs(CAST(x AS DOUBLE)))) AS ma
              FROM embeddings),
          qz AS (SELECT vec_id, ma,
                list_transform(embedding,
                  x -> CAST(round(CAST(x AS DOUBLE) * 127.0 / ma, 0) AS INT))
                  AS q
              FROM m),
          pairs AS (SELECT a.vec_id AS qid, b.vec_id AS vec_id, b.ma AS ma,
                CAST(list_dot_product(CAST(a.q AS DOUBLE[]),
                                      CAST(b.q AS DOUBLE[])) AS BIGINT)
                  AS idot
              FROM qz a CROSS JOIN qz b
              WHERE a.vec_id < 50),
          ranked AS (SELECT qid, vec_id, idot,
                CAST(row_number() OVER (PARTITION BY qid
                  ORDER BY CAST(idot AS DOUBLE) * ma DESC, vec_id) AS INT)
                  AS rk
              FROM pairs)
          SELECT qid, vec_id, idot, rk FROM ranked WHERE rk <= 5""",
    "ann_int8_ivf_topk" ->
      s"""WITH $int8IvfCtes
          SELECT qid, vec_id, cell, idot, rk FROM i8rank WHERE rk <= 5""",
    "ann_int8_ivf_recall" ->
      s"""WITH $int8IvfCtes,
          i8iv AS (SELECT qid, vec_id FROM i8rank WHERE rk <= 5),
          fp AS (SELECT a.vec_id AS qid, b.vec_id AS vec_id, b.ma AS ma,
                        CAST(list_dot_product(CAST(a.q AS DOUBLE[]),
                                              CAST(b.q AS DOUBLE[])) AS BIGINT)
                          AS idot
                 FROM qz a CROSS JOIN qz b
                 WHERE a.vec_id < 50 AND b.vec_id <> a.vec_id),
          bf AS (SELECT qid, vec_id
                 FROM (SELECT *, row_number() OVER (PARTITION BY qid
                         ORDER BY CAST(idot AS DOUBLE) * ma DESC, vec_id) AS rk
                       FROM fp)
                 WHERE rk <= 5)
          SELECT COUNT(DISTINCT bf.qid) AS n_queries,
                 COUNT(*) AS n_expected,
                 CAST(SUM(CASE WHEN i8iv.vec_id IS NOT NULL THEN 1 ELSE 0 END)
                      AS BIGINT) AS n_hit,
                 round(CAST(SUM(CASE WHEN i8iv.vec_id IS NOT NULL THEN 1 ELSE 0
                                END) AS DOUBLE) / COUNT(*), 6) AS recall
          FROM bf LEFT JOIN i8iv
            ON bf.qid = i8iv.qid AND bf.vec_id = i8iv.vec_id""",
    "ann_pq_topk" ->
      s"WITH $pqCtes SELECT qid, vec_id, dist, rk FROM pq",
    "ann_pq_rerank" ->
      s"""WITH $pqCtes,
          short AS (SELECT qid, vec_id
                    FROM (SELECT *, row_number() OVER (PARTITION BY qid
                            ORDER BY dist, vec_id) AS rk FROM adc)
                    WHERE rk <= 25),
          q AS (SELECT vec_id AS qid, v AS qv FROM e WHERE vec_id < 50),
          rr AS (SELECT short.qid, short.vec_id,
                        round(list_reduce(list_transform(range(1, ${Dim + 1}),
                          i -> (qv[i]-v[i])*(qv[i]-v[i])), (x,y) -> x+y), 6)
                          AS dd
                 FROM short JOIN q ON short.qid = q.qid
                            JOIN e ON short.vec_id = e.vec_id)
          SELECT qid, vec_id, dd,
                 CAST(row_number() OVER (PARTITION BY qid
                   ORDER BY dd, vec_id) AS INT) AS rk
          FROM rr QUALIFY rk <= 5""",
    "ann_pq_recall" ->
      s"""WITH $pqCtes,
          q AS (SELECT vec_id AS qid, v AS qv FROM e WHERE vec_id < 50),
          bfs AS (SELECT qid, e.vec_id,
                         round(list_reduce(list_transform(range(1, ${Dim + 1}),
                           i -> (qv[i]-v[i])*(qv[i]-v[i])), (x,y) -> x+y), 6) AS dd
                  FROM q, e WHERE e.vec_id <> qid),
          bf AS (SELECT qid, vec_id
                 FROM (SELECT *, row_number() OVER (PARTITION BY qid
                         ORDER BY dd, vec_id) AS rk FROM bfs)
                 WHERE rk <= 5)
          SELECT COUNT(DISTINCT bf.qid) AS n_queries,
                 COUNT(*) AS n_expected,
                 CAST(SUM(CASE WHEN pq.vec_id IS NOT NULL THEN 1 ELSE 0 END)
                      AS BIGINT) AS n_hit,
                 round(CAST(SUM(CASE WHEN pq.vec_id IS NOT NULL THEN 1 ELSE 0 END)
                            AS DOUBLE) / COUNT(*), 6) AS recall
          FROM bf LEFT JOIN pq ON bf.qid = pq.qid AND bf.vec_id = pq.vec_id""",
    "ann_ivf_kmeans_topk" ->
      s"WITH $ivfKmeansCtes SELECT qid, vec_id, cell, sim, rk FROM iv",
    "ann_ivf_recall" ->
      s"""WITH $ivfKmeansCtes,
          q AS (SELECT vec_id AS qid, embedding AS qe FROM embeddings
                WHERE vec_id < 50),
          bfs AS (SELECT qid, vec_id,
                         round(list_cosine_similarity(qe::DOUBLE[],
                                                      embedding::DOUBLE[]), 6) AS sim
                  FROM q, embeddings WHERE vec_id <> qid),
          bf AS (SELECT qid, vec_id
                 FROM (SELECT *, row_number() OVER (PARTITION BY qid
                         ORDER BY sim DESC, vec_id) AS rk FROM bfs)
                 WHERE rk <= 5)
          SELECT COUNT(DISTINCT bf.qid) AS n_queries,
                 COUNT(*) AS n_expected,
                 CAST(SUM(CASE WHEN iv.vec_id IS NOT NULL THEN 1 ELSE 0 END)
                      AS BIGINT) AS n_hit,
                 round(CAST(SUM(CASE WHEN iv.vec_id IS NOT NULL THEN 1 ELSE 0 END)
                            AS DOUBLE) / COUNT(*), 6) AS recall
          FROM bf LEFT JOIN iv ON bf.qid = iv.qid AND bf.vec_id = iv.vec_id""",
    "ann_ivf_nprobe_recall" -> {
      val bfCtes =
        """q AS (SELECT vec_id AS qid, embedding AS qe FROM embeddings
                 WHERE vec_id < 50),
           bfs AS (SELECT qid, vec_id,
                          round(list_cosine_similarity(qe::DOUBLE[],
                                                       embedding::DOUBLE[]), 6) AS sim
                   FROM q, embeddings WHERE vec_id <> qid),
           bf AS (SELECT qid, vec_id
                  FROM (SELECT *, row_number() OVER (PARTITION BY qid
                          ORDER BY sim DESC, vec_id) AS rk FROM bfs)
                  WHERE rk <= 5)"""
      def leg(np: Int) =
        s"""SELECT $np AS nprobe,
                   COUNT(DISTINCT bf.qid) AS n_queries, COUNT(*) AS n_expected,
                   CAST(SUM(CASE WHEN iv.vec_id IS NOT NULL THEN 1 ELSE 0 END)
                        AS BIGINT) AS n_hit,
                   round(CAST(SUM(CASE WHEN iv.vec_id IS NOT NULL THEN 1 ELSE 0 END)
                              AS DOUBLE) / COUNT(*), 6) AS recall
            FROM bf LEFT JOIN iv_n$np iv
              ON bf.qid = iv.qid AND bf.vec_id = iv.vec_id"""
      s"""WITH $ivfSharedCtes,
          ${ivfProbeCtes(1, "_n1")}, ${ivfProbeCtes(2, "_n2")},
          ${ivfProbeCtes(4, "_n4")}, $bfCtes
          ${leg(1)} UNION ALL ${leg(2)} UNION ALL ${leg(4)}"""
    },
    "ann_cosine_topk" ->
      """WITH q AS (SELECT vec_id AS qid, embedding AS qe FROM embeddings
                    WHERE vec_id < 50),
          s AS (SELECT qid, vec_id,
                       round(list_cosine_similarity(qe::DOUBLE[],
                                                    embedding::DOUBLE[]), 6) AS sim
                FROM q, embeddings WHERE vec_id <> qid)
          SELECT qid, vec_id, sim, rk
          FROM (SELECT *, row_number() OVER (PARTITION BY qid
                  ORDER BY sim DESC, vec_id) AS rk FROM s)
          WHERE rk <= 5""",
    "ann_mrr" ->
      """WITH q AS (SELECT vec_id AS qid, embedding AS qe, label AS qlab
                    FROM embeddings WHERE vec_id < 50),
          s AS (SELECT qid, qlab, e.vec_id, e.label AS nlab,
                       round(list_cosine_similarity(qe::DOUBLE[],
                                                    e.embedding::DOUBLE[]), 6)
                         AS sim
                FROM q, embeddings e WHERE e.vec_id <> qid),
          t AS (SELECT qid, qlab, nlab,
                       row_number() OVER (PARTITION BY qid
                         ORDER BY sim DESC, vec_id) AS rk
                FROM s
                QUALIFY rk <= 10),
          f AS (SELECT qid,
                       MIN(CASE WHEN nlab = qlab THEN rk END) AS fh
                FROM t GROUP BY qid)
          SELECT qid,
                 CAST(COALESCE(fh, 0) AS BIGINT) AS first_hit_rank,
                 COALESCE(CAST(floor(1e9 / fh) AS BIGINT), 0)
                   AS rr_nano,
                 COALESCE(fh, 999) <= 5 AS hit_at_5
          FROM f""",
    "ann_lsh_topk" -> {
      val bkExpr = planes.map { pl =>
        val lits = pl.map(v => if (v > 0) "1.0" else "-1.0").mkString(", ")
        s"(CASE WHEN list_dot_product(v, [$lits]) >= 0 THEN '1' ELSE '0' END)"
      }.mkString(" || ")
      s"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
          b AS (SELECT vec_id, v, $bkExpr AS bk FROM e),
          q AS (SELECT vec_id AS qid, v AS qv, bk FROM b WHERE vec_id < 50),
          s AS (SELECT qid, b.vec_id, b.bk,
                       round(list_cosine_similarity(qv, v), 6) AS sim
                FROM q JOIN b USING (bk) WHERE b.vec_id <> qid)
          SELECT qid, vec_id, bk, sim, rk
          FROM (SELECT *, row_number() OVER (PARTITION BY qid
                  ORDER BY sim DESC, vec_id) AS rk FROM s)
          WHERE rk <= 5"""
    },
    "ann_ivf_topk" ->
      """WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
          c AS (SELECT vec_id AS cid, v AS cv FROM e WHERE vec_id < 8),
          a AS (SELECT vec_id, v, cid,
                       row_number() OVER (PARTITION BY vec_id
                         ORDER BY round(list_cosine_similarity(v, cv), 6) DESC,
                                  cid) AS rc
                FROM e CROSS JOIN c),
          asg AS (SELECT vec_id, v, cid AS cell FROM a WHERE rc = 1),
          q AS (SELECT vec_id AS qid, v AS qv, cell FROM asg WHERE vec_id < 50),
          s AS (SELECT qid, b.vec_id, b.cell,
                       round(list_cosine_similarity(qv, b.v), 6) AS sim
                FROM q JOIN asg b USING (cell) WHERE b.vec_id <> qid)
          SELECT qid, vec_id, cell, sim, rk
          FROM (SELECT *, row_number() OVER (PARTITION BY qid
                  ORDER BY sim DESC, vec_id) AS rk FROM s)
          WHERE rk <= 5""",
    "dedup_semantic" ->
      s"""WITH $ivfSharedCtes,
          pool AS (SELECT cell, vec_id, v FROM
                     (SELECT cell, vec_id, v,
                             row_number() OVER (PARTITION BY cell
                               ORDER BY vec_id) AS pr FROM asgc)
                   WHERE pr <= $SemWitPool),
          prs AS (SELECT b.vec_id AS dup, a.vec_id AS wit,
                         round(list_cosine_similarity(a.v, b.v), 6) AS sim
                  FROM pool a JOIN asgc b
                    ON a.cell = b.cell AND a.vec_id < b.vec_id),
          fl AS (SELECT dup, MIN(wit) AS witness, MAX(sim) AS max_sim
                 FROM prs WHERE sim >= $SemTau GROUP BY dup)
          SELECT asgc.vec_id, asgc.cell, fl.witness IS NULL AS keep,
                 fl.witness, fl.max_sim
          FROM asgc LEFT JOIN fl ON asgc.vec_id = fl.dup""",
    "ann_hybrid_rrf" ->
      """WITH tf AS (SELECT doc_id, u.t, COUNT(*) AS tf
                     FROM documents, UNNEST(string_split(text, ' ')) AS u(t)
                     GROUP BY doc_id, u.t),
          census AS (SELECT COUNT(*) AS nd FROM documents),
          idf AS (SELECT t,
                    CAST(CAST(round(ln(CAST(nd AS DOUBLE) / df), 3)
                           AS DECIMAL(12,3)) * 1000 AS BIGINT) AS idf_m
                  FROM (SELECT t, COUNT(*) AS df FROM tf GROUP BY t)
                  CROSS JOIN census),
          qtf AS (SELECT doc_id AS qid, t, tf AS qtf FROM tf
                  WHERE doc_id < 5),
          lex AS (SELECT qid, tf.doc_id,
                         CAST(SUM(tf.tf * qtf * idf_m * idf_m) AS BIGINT)
                           AS s_lex
                  FROM tf JOIN qtf USING (t) JOIN idf USING (t)
                  WHERE tf.doc_id <> qid GROUP BY qid, tf.doc_id),
          lt AS (SELECT qid, doc_id, r_lex
                 FROM (SELECT qid, doc_id, row_number() OVER (
                         PARTITION BY qid ORDER BY s_lex DESC, doc_id)
                         AS r_lex FROM lex)
                 WHERE r_lex <= 50),
          e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
          qv AS (SELECT vec_id AS qid, v AS qv FROM e WHERE vec_id < 5),
          vs AS (SELECT qid, vec_id AS doc_id,
                        round(list_cosine_similarity(qv, v), 6) AS sim
                 FROM qv, e WHERE vec_id <> qid),
          vt AS (SELECT qid, doc_id, r_vec
                 FROM (SELECT qid, doc_id, row_number() OVER (
                         PARTITION BY qid ORDER BY sim DESC, doc_id)
                         AS r_vec FROM vs)
                 WHERE r_vec <= 50),
          f AS (SELECT COALESCE(lt.qid, vt.qid) AS qid,
                       COALESCE(lt.doc_id, vt.doc_id) AS doc_id,
                       r_lex, r_vec,
                       (CASE WHEN r_lex IS NOT NULL
                             THEN CAST(floor(1e12 / (60 + r_lex)) AS BIGINT)
                             ELSE 0 END +
                        CASE WHEN r_vec IS NOT NULL
                             THEN CAST(floor(1e12 / (60 + r_vec)) AS BIGINT)
                             ELSE 0 END) AS rrf
                FROM lt FULL OUTER JOIN vt
                  ON lt.qid = vt.qid AND lt.doc_id = vt.doc_id)
          SELECT qid, doc_id, COALESCE(r_lex, -1) AS r_lex,
                 COALESCE(r_vec, -1) AS r_vec, rrf, rk
          FROM (SELECT *, row_number() OVER (PARTITION BY qid
                  ORDER BY rrf DESC, doc_id) AS rk FROM f)
          WHERE rk <= 5""",
    "embed_outliers" ->
      s"""WITH $ivfSharedCtes,
          sims AS (SELECT asgc.vec_id, asgc.cell,
                     CAST(floor(round(list_cosine_similarity(asgc.v, c1.cv),
                       6) * 1e6 + 0.5) AS BIGINT) AS sim_u
                   FROM asgc JOIN c1 ON asgc.cell = c1.cid),
          r AS (SELECT cell, sim_u,
                       row_number() OVER (PARTITION BY cell
                         ORDER BY sim_u) AS rn,
                       COUNT(*) OVER (PARTITION BY cell) AS n
                FROM sims),
          p AS (SELECT cell, MAX(CASE WHEN rn = (n + 9) // 10
                                      THEN sim_u END) AS p10
                FROM r GROUP BY cell)
          SELECT vec_id, sims.cell, sim_u, p10, sim_u < p10 AS is_outlier
          FROM sims JOIN p ON sims.cell = p.cell""",
    "ann_hard_negatives" ->
      s"""WITH $ivfSharedCtes,
          qs AS (SELECT vec_id AS qid, v AS qv, cell
                 FROM asgc WHERE vec_id < 50),
          cand AS (SELECT qid, b.vec_id, b.cell,
                          CAST(floor(round(list_cosine_similarity(qv, b.v),
                            6) * 1e6 + 0.5) AS BIGINT) AS sim_u
                   FROM qs q JOIN asgc b USING (cell)
                   WHERE b.vec_id <> qid),
          r AS (SELECT qid, vec_id, cell, sim_u,
                       row_number() OVER (PARTITION BY qid
                         ORDER BY sim_u DESC, vec_id) AS rk
                FROM cand WHERE sim_u < 950000)
          SELECT qid, vec_id, cell, sim_u, rk FROM r WHERE rk <= 3""",
    "sample_diverse" ->
      s"""WITH $ivfSharedCtes,
          h AS (SELECT vec_id, cell,
                       md5('div:' || CAST(vec_id AS VARCHAR)) AS hh
                FROM asgc),
          hb AS (SELECT vec_id, cell,
                        CAST((instr('0123456789abcdef', substr(hh, 1, 1))
                                - 1) * 16 +
                             (instr('0123456789abcdef', substr(hh, 2, 1))
                                - 1) AS INT) AS hb
                 FROM h),
          r AS (SELECT vec_id, cell, hb,
                       row_number() OVER (PARTITION BY cell
                         ORDER BY hb, vec_id) AS rk
                FROM hb)
          SELECT vec_id, cell, hb, rk FROM r WHERE rk <= 16"""
  )
}
