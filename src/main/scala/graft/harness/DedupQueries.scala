package graft.harness

import graft.Tables
import graft.ops.{TextOps, VectorOps}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Deduplication operators for training-data pipelines (north-star):
  * exact (normalized-fingerprint groups), word-n-gram Jaccard,
  * MinHash+LSH (shingle → signature → band → bucket-join → verify),
  * SimHash clustering, and embedding-cosine near-dup with label
  * blocking. Every stage is a shuffled group/join — no driver-side
  * state — so the shapes hold at 100 TB (the LSH band join in
  * particular replaces the quadratic all-pairs comparison).
  */
object DedupQueries {
  type Q = (SparkSession, String) => DataFrame

  private val N = 5           // shingle width (words)
  private val K = 16          // minhash signature size
  private val BANDS = 8       // LSH bands (of K/BANDS rows each)
  private val JACC = 0.5      // near-dup verification threshold
  private val CONT = 0.9      // containment (doc-in-doc) threshold
  private val DfCap = 64      // max document frequency of a shingle
                              // allowed to generate candidate pairs
  private val LshBucketCap = 64 // witness-pool width per LSH band
                              // bucket: each bucket's lowest-cap ids
                              // join against the FULL membership, so
                              // a hot bucket costs cap·|bucket|
                              // instead of |bucket|² — a verbatim
                              // -shared template pins every band to
                              // one bucket (more bands/planes cannot
                              // split identical signatures), so an
                              // uncapped band join goes quadratic in
                              // the template's corpus share, while
                              // DROPPING the bucket (the pre-r16
                              // posture) silently passed the whole
                              // template cluster through the
                              // pipeline's dedup stage. Witness pairs
                              // keep components collapsing the
                              // cluster; what the cap still trades
                              // (non-witness×non-witness pairs inside
                              // hot buckets) is what dedup_lsh_eval
                              // gauges
  private val SimBits = 64    // simhash signature width: wide enough
                              // that 16-bit blocks give 65536 bucket
                              // values (4-bit blocks of a 16-bit sig
                              // collapse to 16 buckets → quadratic)
  private val SimBlocks = 4   // hamming-search bit blocks; exact for
  private val SimRadius = 3   //   radius <= SimBlocks - 1 (pigeonhole)
  private val SimBlockCap = 1024 // max members of a simhash bit block
                              // allowed to generate candidates: a
                              // template shared by a corpus slice
                              // collapses the slice onto ONE signature
                              // — all four of its blocks go hot and
                              // the block join goes quadratic in the
                              // slice (measured: 15% of a 50k corpus =
                              // 32.5M of 38.6M candidate pairs from
                              // over-cap blocks). The pigeonhole
                              // exactness becomes "exact unless every
                              // agreeing block is over the cap" —
                              // template mass, which dedup_simhash
                              // (exact-signature groups) still reports
                              // linearly
  private val BlockCap = 1024 // max docs per edit-distance block
  private val LevMax = 12     // max head edit distance for a near-dup
  private val TrainHi = 204   // hash-split byte bounds shared with
  private val EvalLo = 230    //   SampleQueries' split_train_eval:
                              //   train = hv<204, eval/test = hv>=230
  private val SpanW = 10      // repeated-substring seed width (tokens)
  private val IncomingLo = 224 // hash byte >= 224 → the "incoming
                               // batch" of the incremental-dedup split
  private val BloomM = 4194304 // decontamination bloom bits (512 KiB
                               //   broadcast regardless of eval size;
                               //   sized for the 30x eval shingle set
                               //   ~730k keys -> ~7% fp, sf1 ~0.4%)
  private val BloomK = 3       // probes per shingle id

  /** Distinct (doc_id, shingle-id) pairs for docs with >= N tokens.
    * Shingles are HASHED to 52-bit ints at the source (Broder's
    * original minhash operates on hashed shingles): the distinct
    * shuffle, the posting-list joins, and the verification joins all
    * move 8-byte ints instead of ~40-byte shingle strings, and the
    * minhash signature consumes the id directly with no re-digest.
    * Both engines derive the id from the same md5 prefix, so hash
    * collisions (~n²/2^52 — negligible) are shared deterministically.
    */
  private val shingleFrame = SharedFrames.Frame("shingles") { (s, d) =>
    // tokens materialize as a column BEFORE the shingle lambda
    // (inlining the split into the transform() re-evaluates it per
    // shingle position — O(tokens^2) per doc, profiled 3x slower);
    // the op itself lives in CorpusOps.shingleFrame
    graft.ops.CorpusOps.shingleFrame(
      Tables.widened(Tables.documents(s, d))
        .select(col("doc_id"), TextOps.tokens(col("text")).as("toks")),
      "doc_id", "toks", N)
  }

  /** Candidate (da, db) pairs from the shingle inverted index, with a
    * document-frequency cap: shingles present in more than DfCap
    * documents never generate candidates. Without the cap one
    * boilerplate shingle in M documents yields M^2 candidate rows —
    * the quadratic scale-killer at corpus scale. A true near-dup pair
    * always shares rare shingles too (a pair sharing ONLY
    * above-the-cap shingles is boilerplate, not duplication), and the
    * exact-Jaccard verification still runs over the full shingle sets.
    */
  private def postingCandidates(sh: DataFrame): DataFrame = {
    // ONE bounded shuffle instead of the r16 join cascade (df census +
    // rare-filter join + posting self-join = the shingle frame crossing
    // an exchange three times): a bounded-heap head of each posting
    // list (TopKPerGroupExec — O(groups·(cap+1)) memory, so a
    // boilerplate shingle in 1M docs never materializes as a mega-row)
    // arrives complete for df ≤ cap shingles and as exactly cap+1 rows
    // for over-cap ones, which the size filter drops — the same
    // "above-cap shingles never generate candidates" semantics, then
    // the ordered_pairs generator streams each rare list's pairs with
    // no self-join at all. Sorted lists make pa < pb by construction.
    // The generator is called directly, NOT via RelOps.orderedPairs:
    // the size filter already bounds every list to <= DfCap elements,
    // and orderedPairs' over-cap branch (posexplode self-join) plans a
    // keyless BroadcastNestedLoopJoin when keys is empty — a dead
    // subtree here, but PlanGuardSpec rightly rejects un-allowlisted
    // BNLJs from executed plans.
    val heads = graft.ops.RelOps.topKPerGroupExact(sh,
      Seq(col("s")), Seq(col("doc_id")), DfCap + 1)
    heads.groupBy(col("s"))
      .agg(sort_array(collect_list(col("doc_id"))).as("ds"))
      .filter(size(col("ds")).between(2, DfCap))
      .select(call_function("ordered_pairs", col("ds")))
      .select(col("pa").as("da"), col("pb").as("db")).distinct()
  }

  /** The df-capped candidate pair set, cached once per (session, sf):
    * the self-join over the posting lists is the single most expensive
    * candidate build in the family, and BOTH exact verifiers consume
    * it — `pairsFrame` (Jaccard) and `dedup_containment` (asymmetric
    * overlap). Before r13 containment re-ran the whole build (3.3 s at
    * sf0.1, the costliest non-preamble dedup row); one cached frame
    * serves both. Pair-count-sized, so safe to pin.
    */
  private val candidatesFrame = SharedFrames.Frame("posting_candidates") { (s, d) =>
    postingCandidates(shingleFrame(s, d))
  }

  /** (doc_id, __n) — per-doc distinct shingle counts, computed once
    * per (session, sf) and shared by all THREE exact verifiers
    * (verified_pairs, lsh_verified, containment): the census is a full
    * aggregation pass over the shingle frame that each verify
    * re-ran before r18 (§2.4 — at corpus scale that is a full pass
    * over the inverted index per verify).
    */
  private val shingleCountsFrame = SharedFrames.Frame("shingle_counts") { (s, d) =>
    graft.ops.CorpusOps.docSetSizes(shingleFrame(s, d), "doc_id")
  }

  /** (da, db, nab, na, nb, jaccard) for the given candidate pairs,
    * verified exactly over the full (uncapped) shingle frame
    * (CorpusOps.jaccardVerify at this module's threshold).
    */
  private def jaccardPairs(s: SparkSession, d: String,
                           cand: DataFrame): DataFrame =
    graft.ops.CorpusOps.jaccardVerify(shingleFrame(s, d), cand, "doc_id",
      JACC, counts = Some(shingleCountsFrame(s, d)))

  /** (da, db, nab, na, nb) — ONE exact intersection pass over the
    * df-capped candidates, shared by BOTH measures (§2.4): the Jaccard
    * verify (pairsFrame) and the containment verify (dedup_containment)
    * previously each ran the full pairOverlap — candidate expansion
    * against the inverted index twice per census, a full corpus-index
    * pass each at scale — when only the final arithmetic differs.
    * Candidate-pair-sized, so safe to pin.
    */
  private val pairOverlapFrame = SharedFrames.Frame("pair_overlap") { (s, d) =>
    graft.ops.CorpusOps.pairOverlap(shingleFrame(s, d),
      candidatesFrame(s, d), "doc_id",
      counts = Some(shingleCountsFrame(s, d)))
  }

  /** The verified near-dup pair set (da, db, nab, na, nb, jaccard) —
    * the df-capped exact-Jaccard ground truth, computed once per
    * (session, sf) and shared: `dedup_ngram_jaccard` reports it,
    * `dedup_components`/`keep_representatives` label over it, and
    * `dedup_lsh_eval` scores the bands against it. The frame is
    * pair-count-sized (tiny) while its build is the family's most
    * expensive verify join — exactly what SharedFrames is for.
    */
  private val pairsFrame = SharedFrames.Frame("verified_pairs") { (s, d) =>
    graft.ops.CorpusOps.jaccardFromOverlap(pairOverlapFrame(s, d), JACC)
  }

  /** (node, component) over the verified near-dup pair graph, computed
    * once per (session, sf): `dedup_components` reports it and
    * `dedup_keep_representatives` anti-joins the corpus against it —
    * in a real pipeline the CC labeling runs once and feeds both.
    */
  private val componentsFrame = SharedFrames.Frame("dedup_components") { (s, d) =>
    val pairs = pairsFrame(s, d).select(col("da"), col("db"))
    // canonicalEdges: verified pairs are DISTINCT da<db by
    // construction (ordered_pairs + distinct), so the CC skips its
    // defensive distinct over the symmetric edge set
    graft.ops.Graphs.connectedComponents(pairs, "da", "db",
      canonicalEdges = true)
  }

  /** (doc_id, minhash signature) — the K md5-min hashes over the
    * shingle ids, shared by the LSH band join and the incremental
    * ingest query. The shingle id IS the 52-bit hash — the k min
    * aggs are pure multiply-add arithmetic, no digest work at all.
    */
  private val minhashFrame = SharedFrames.Frame("minhash_sig") { (s, d) =>
    graft.ops.CorpusOps.minhashSignatures(shingleFrame(s, d), "doc_id", K)
  }

  /** The LSH band-bucket candidate pair set at this module's
    * BANDS×(K/BANDS) config, computed once per (session, sf): the
    * band self-join is the second most expensive candidate build in
    * the family and THREE queries consume exactly it —
    * `dedup_minhash_lsh` verifies it, `dedup_lsh_eval` scores it
    * against the df-capped truth, and `dedup_components_eval` labels
    * components over its verified subset. Before r17 each consumer
    * re-ran the band join (and two of them the verify join too).
    */
  private val lshCandidatesFrame = SharedFrames.Frame("lsh_candidates") { (s, d) =>
    graft.ops.CorpusOps.lshCandidates(minhashFrame(s, d), "doc_id",
      BANDS, K / BANDS, LshBucketCap)
  }

  /** The exact-Jaccard-verified LSH pair set (da, db, nab, na, nb,
    * jaccard) — `dedup_minhash_lsh`'s result frame, shared with
    * `dedup_components_eval` (which re-ran the whole band+verify
    * pipeline before r17: two identical verify joins per census).
    */
  private val lshVerifiedFrame = SharedFrames.Frame("lsh_verified") { (s, d) =>
    jaccardPairs(s, d, lshCandidatesFrame(s, d))
  }

  /** Tokenized documents for the repeated-substring family (spans +
    * rewrite) — kept out of SharedFrames (one narrow scan, cheaper to
    * recompute than to cache at corpus scale).
    */
  private def spanDocs(s: SparkSession, d: String): DataFrame =
    Tables.widened(Tables.documents(s, d))
      .select(col("doc_id"), TextOps.tokens(col("text")).as("toks"))

  /** Maximal repeated-substring spans, computed once per (session, sf)
    * and shared by `dedup_substring_spans` and
    * `dedup_substring_rewrite` — the span census is the dedup family's
    * single heaviest pass (every W-token window shuffles once).
    */
  private val spansFrame = SharedFrames.Frame("substring_spans") { (s, d) =>
    graft.ops.CorpusOps.substringSpans(spanDocs(s, d), "doc_id", "toks",
      SpanW)
  }

  /** (doc_id, sig) — SimBits-wide SimHash signature per document,
    * shared by the exact-cluster and hamming-radius queries.
    */
  private val simhashFrame = SharedFrames.Frame("simhash_sig") { (s, d) =>
    // digest → 16 digit-value ints ONCE per token; the bit sums ride
    // lane-packed (4 bit-counts per int64, one agg per hex digit —
    // 16 aggs + a count instead of 64 ±1 sums)
    val tok = Tables.widened(Tables.documents(s, d))
      .select(col("doc_id"), explode(TextOps.tokens(col("text"))).as("t"))
      .select(col("doc_id") +: TextOps.hexDigitValues(md5(col("t")),
        (SimBits + 3) / 4): _*)
    val aggs = TextOps.simhashPackedAggs(SimBits)
    tok.groupBy(col("doc_id")).agg(aggs.head, aggs.tail: _*)
      .select(col("doc_id"), TextOps.simhashSigPacked(SimBits).as("sig"))
  }

  /** (doc_id, bk) — one row per (document, bit block) of the simhash
    * signature; the blocking frame for the hamming-radius join. The
    * key is one 8-byte long (xxhash64 over block index + block bits)
    * instead of the former 18-char string (§2.3 — the key crosses the
    * block top-k and both self-join sides once per (doc, block); only
    * key EQUALITY is consumed, identical up to a 2^-64 collision, the
    * same contract as the LSH band keys).
    */
  private def simBlocksFrame(sig: DataFrame): DataFrame = {
    val w = SimBits / SimBlocks
    sig.select(col("doc_id"), explode(array(
      (0 until SimBlocks).map(b =>
        xxhash64(lit(b), substring(col("sig"), 1 + b * w, w))): _*))
      .as("bk"))
  }

  /** (da, db, siga, sigb, dist) — verified hamming-radius pairs from
    * the capped per-block equi-join; shared by dedup_simhash_hamming
    * and the dedup_simhash_eval gauge. Hot-block backstop
    * (SimBlockCap) with WITNESS-POOL semantics (r17, the lshCandidates
    * posture applied here — over-cap blocks were previously dropped):
    * identical-signature template mass pins all four blocks, so the
    * LEFT side of each block's self-join is the block's SimBlockCap
    * lowest ids (bounded-heap top-k, no window sort) while the right
    * side stays the full membership — cost ≤ cap·|block| per block,
    * and every template member still pairs with the block's lowest-id
    * witnesses, so downstream components collapse the cluster; what
    * the cap trades is only non-witness×non-witness pairs, gauged by
    * dedup_simhash_eval.
    */
  /** The verified hamming-pair set as a SHARED frame: both
    * `dedup_simhash_hamming` (reports it) and `dedup_simhash_eval`
    * (its dist=0 recall gauge) consume the identical computation — the
    * capped block join + signature-attach + popcount ran twice per
    * census before r18 (§2.4). Pair-count-sized, so safe to pin; the
    * build lands on the warm_dedup_frames row.
    */
  private val hammingPairsShared = SharedFrames.Frame("hamming_pairs") { (s, d) =>
    hammingPairsFrame(simhashFrame(s, d))
  }

  private def hammingPairsFrame(sig: DataFrame): DataFrame = {
    val blocks0 = simBlocksFrame(sig)
    val wit = graft.ops.RelOps.topKPerGroupExact(blocks0,
      Seq(col("bk")), Seq(col("doc_id")), SimBlockCap)
      .select(col("doc_id"), col("bk"))
    val cand = wit.select(col("doc_id").as("da"), col("bk"))
      .join(blocks0.select(col("doc_id").as("db"), col("bk").as("__bk2")),
        col("bk") === col("__bk2") && col("da") < col("db"))
      .select("da", "db").distinct()
    // native codegen'd byte loop (graft.functions.HammingBits): one
    // expression instead of 64 Substring+If trees per candidate pair
    val dist = call_function("hamming_bits", col("siga"), col("sigb"))
    cand
      .join(sig.select(col("doc_id").as("da"), col("sig").as("siga")), Seq("da"))
      .join(sig.select(col("doc_id").as("db"), col("sig").as("sigb")), Seq("db"))
      .withColumn("dist", dist)
      .filter(col("dist") <= SimRadius)
      .select("da", "db", "siga", "sigb", "dist")
  }

  /** The frames the Bench preamble (SparkEntry.preambles) builds up
    * front: the build cost lands on one named warm row instead of
    * whichever consumer happens to run first alphabetically in the
    * census (r9's recorded dedup_incremental "regression" was exactly
    * the minhash frame build landing on it).
    */
  private[graft] val sharedFrames: Seq[SharedFrames.Frame] = Seq(
    shingleFrame, shingleCountsFrame, candidatesFrame, pairOverlapFrame,
    pairsFrame, componentsFrame, minhashFrame, lshCandidatesFrame,
    lshVerifiedFrame, spansFrame, simhashFrame, hammingPairsShared)

  val queries: Map[String, Q] = Map(
    // Exact dedup on the normalized fingerprint: one hash-shuffle
    // groupBy — the canonical exact-dedup plan at any scale.
    // Per-source dedup REPORT — the rollup a curation run publishes
    // next to its corpus (how contaminated is each upstream source?):
    // doc counts, members of exact-fingerprint clusters, and members
    // of verified near-dup components, grouped by source. Reuses the
    // family's cached frames (fingerprints are a scan; the components
    // frame is the shared CC labeling), so the marginal cost is two
    // keyed left joins and one rollup.
    "dedup_stats" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      val f = docs.select(col("doc_id"), col("source"),
        TextOps.fingerprint(col("text")).as("fp"))
      val dupFp = f.groupBy(col("fp")).agg(count(lit(1)).as("__c"))
        .filter(col("__c") > 1).select(col("fp"))
      val ex = f.join(dupFp, Seq("fp")).select(col("doc_id"))
        .withColumn("__ex", lit(1L))
      val near = componentsFrame(s, d)
        .select(col("node").as("doc_id")).withColumn("__nr", lit(1L))
      docs.select(col("doc_id"), col("source"))
        .join(ex, Seq("doc_id"), "left_outer")
        .join(near, Seq("doc_id"), "left_outer")
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_docs"),
          sum(coalesce(col("__ex"), lit(0L))).as("n_exact_dup"),
          sum(coalesce(col("__nr"), lit(0L))).as("n_near_dup"))
    }),

    "dedup_exact" -> ((s, d) =>
      Tables.documents(s, d)
        .select(col("doc_id"), TextOps.fingerprint(col("text")).as("fp"))
        .groupBy(col("fp"))
        .agg(min(col("doc_id")).as("rep"), count(lit(1)).as("n"),
          concat_ws(",", transform(sort_array(collect_list(col("doc_id"))),
            _.cast("string"))).as("ids"))
        .filter(col("n") > 1)),

    // N-gram Jaccard near-dup: df-capped shingle inverted-index
    // self-join for candidates, exact verification over full sets.
    "dedup_ngram_jaccard" -> ((s, d) => pairsFrame(s, d)),

    // Asymmetric containment over the same df-capped candidates:
    // |A∩B| / min(|A|,|B|) flags a short document embedded in a long
    // one (quoted articles, boilerplate-wrapped reuse, concatenated
    // dumps) that symmetric Jaccard scores near |A|/|B| and misses.
    // Same blocked-candidates + exact-verify posture; shares the
    // shingle frame with the whole dedup family.
    "dedup_containment" -> ((s, d) =>
      // the containment measure over the SHARED overlap pass — before
      // r18 this re-ran the whole pairOverlap expansion the Jaccard
      // verify had already paid (§2.4; same rows bit-for-bit)
      graft.ops.CorpusOps.containmentFromOverlap(pairOverlapFrame(s, d),
        CONT)),

    // MinHash + LSH: 16 md5-min hashes -> 8 bands of 2 -> bucket join
    // for candidates -> exact Jaccard verification. The band join is
    // the scale path: only documents sharing a band bucket ever meet.
    "dedup_minhash_lsh" -> ((s, d) =>
      // the verified LSH pair set is a shared frame (lshVerifiedFrame):
      // dedup_components_eval consumes the identical computation, so
      // the band join + verify join run once per census, not twice
      lshVerifiedFrame(s, d)),

    // LSH quality gauge — the band-tuning dial (the ann_ivf_recall
    // posture applied to minhash): how much of the df-capped exact
    // -Jaccard truth set do the 8x2 bands surface (recall), and what
    // fraction of surfaced candidates survive verification
    // (precision, = wasted verify work when low). Both pair sets are
    // the family's SHARED frames (shingles + signatures, built once
    // per pass); the comparison is one semi-join on (da, db) and
    // three 1-row counts — rates ship as exact integer ppm. At 100 TB
    // this is the query you run on a sample before committing a
    // band/row config to the full corpus.
    "dedup_lsh_eval" -> ((s, d) => {
      // ONE full-outer join of the two (tiny) pair sets + one agg:
      // the truth side is the family's cached verified_pairs frame —
      // never recomputed here — and the three counts fall out of one
      // pass (sum of flags), so the plan has no crossJoin and touches
      // the expensive verify pipeline zero times when warm.
      val truth = pairsFrame(s, d).select(col("da"), col("db"))
        .withColumn("t", lit(1L))
      val cand = lshCandidatesFrame(s, d).withColumn("c", lit(1L))
      truth.join(cand, Seq("da", "db"), "full_outer")
        .agg(coalesce(sum(col("t")), lit(0L)).as("n_truth"),
          coalesce(sum(col("c")), lit(0L)).as("n_cand"),
          coalesce(sum(col("t") * col("c")), lit(0L)).as("n_tp"))
        .select(col("n_truth"), col("n_cand"), col("n_tp"),
          expr("CASE WHEN n_truth = 0 THEN 0 " +
            "ELSE (n_tp * 1000000) DIV n_truth END").as("recall_ppm"),
          expr("CASE WHEN n_cand = 0 THEN 0 " +
            "ELSE (n_tp * 1000000) DIV n_cand END").as("precision_ppm"))
    }),

    // SimHash: 16-bit signature from md5-digit parities; exact-signature
    // clusters (hamming-radius neighbors: dedup_simhash_hamming).
    "dedup_simhash" -> ((s, d) =>
      simhashFrame(s, d)
        .groupBy(col("sig"))
        .agg(min(col("doc_id")).as("rep"), count(lit(1)).as("n"),
          concat_ws(",", transform(sort_array(collect_list(col("doc_id"))),
            _.cast("string"))).as("ids"))
        .filter(col("n") > 1)),

    // SimHash hamming-radius search: split the signature into
    // SimBlocks bit blocks; any pair within hamming distance
    // SimBlocks-1 must agree on at least one whole block (pigeonhole),
    // so a per-block equi-join finds radius-<=3 neighbors without an
    // all-pairs comparison — the same band trick as MinHash LSH, and
    // deterministic rather than probabilistic. The pigeonhole
    // guarantee is exact UNLESS every block a pair agrees on is over
    // SimBlockCap AND neither member is among any such block's
    // witness pool (r17: over-cap blocks keep their cap lowest ids as
    // a left-side witness pool instead of being dropped, so template
    // clusters still surface and collapse; dedup_simhash_eval gauges
    // the residual radius-0 pair recall). Verification = popcount of
    // the bit disagreement over the joined signatures.
    "dedup_simhash_hamming" -> ((s, d) => hammingPairsShared(s, d)),

    // SimBlockCap quality gauge (the dedup_lsh_eval posture applied to
    // the simhash cap): what fraction of the RADIUS-0 truth — the only
    // hamming truth countable without pair expansion, and exactly the
    // identical-signature template mass the cap bounds — does the
    // capped block join still surface? Truth pairs are an equivalence
    // class, so their count is Σ n·(n-1)/2 over signature groups: one
    // linear agg, no quadratic side anywhere. Radius ≥ 1 misses are
    // not counted here (a pair is lost only when EVERY agreeing block
    // is over cap and neither member is a witness, which at every
    // tested skew happens only for the radius-0 template slice);
    // n_hot_blocks reports how many blocks run in witness-pool mode.
    // What the pool trades at skew is non-witness×non-witness pairs —
    // the component-level collapse is gauged by dedup_components_eval.
    "dedup_simhash_eval" -> ((s, d) => {
      val sig = simhashFrame(s, d)
      val truth = sig.groupBy(col("sig")).agg(count(lit(1)).as("n"))
        .agg(coalesce(sum(expr("n * (n - 1) DIV 2")), lit(0L))
          .as("n_truth0"))
      val found = hammingPairsShared(s, d).filter(col("dist") === 0)
        .agg(count(lit(1)).as("n_found0"))
      val hot = simBlocksFrame(sig)
        .groupBy(col("bk")).agg(count(lit(1)).as("__bn"))
        .filter(col("__bn") > SimBlockCap)
        .agg(count(lit(1)).as("n_hot_blocks"))
      // three 1-row scalars — broadcast crossJoins, never a shuffle
      truth.crossJoin(broadcast(found)).crossJoin(broadcast(hot))
        .select(col("n_truth0"), col("n_found0"),
          expr("CASE WHEN n_truth0 = 0 THEN 1000000 " +
            "ELSE (n_found0 * 1000000) DIV n_truth0 END").as("recall0_ppm"),
          col("n_hot_blocks"))
    }),

    // Near-dup cluster assembly: the verified pair list becomes
    // connected components via min-label propagation (the dedup
    // endgame — pick one representative per component). O(diameter)
    // keyed shuffles, no driver-side union-find.
    "dedup_components" -> ((s, d) => componentsFrame(s, d)),

    // Post-dedup corpus assembly: drop every non-representative member
    // of a near-dup component (the representative is the min-label
    // node, i.e. the component id itself) and keep everything else.
    // One anti-join against the duplicate list — the final step every
    // dedup pipeline actually ships, producing the cleaned corpus.
    "dedup_keep_representatives" -> ((s, d) =>
      graft.ops.CorpusOps.keepRepresentatives(
        Tables.documents(s, d).select(col("doc_id"), col("source")),
        "doc_id", componentsFrame(s, d))),

    // Component-level recall gauge for the capped dedup pipeline —
    // the claim the pair-level dedup_lsh_eval recall underserves at
    // skew: what matters downstream is not "every truth PAIR
    // surfaced" but "every truth duplicate CLUSTER still collapses
    // onto one representative". For each df-capped-truth cluster
    // (the verified-pair components — the family's shared truth
    // labeling), label every member with the component it lands in
    // under the CAPPED pipeline (witness-pool LSH candidates → exact
    // Jaccard verify → connected components; members the capped
    // pipeline never pairs label themselves = kept as spurious
    // extra representatives). A cluster is INTACT when all members
    // carry ONE capped label — the capped dedup then keeps exactly
    // one representative for it. Costs one extra CC over the (tiny)
    // verified LSH pair set; both CC labelings are O(diameter) keyed
    // shuffles. At 100 TB this gauge runs on a sample next to
    // dedup_lsh_eval before committing a cap/band config.
    "dedup_components_eval" -> ((s, d) => {
      val truth = componentsFrame(s, d)
      val lshVerified = lshVerifiedFrame(s, d).select(col("da"), col("db"))
      val capped = graft.ops.Graphs
        .connectedComponents(lshVerified, "da", "db",
          canonicalEdges = true) // lshCandidates emits distinct da<db
      val labeled = truth
        .join(capped.select(col("node"), col("component").as("clabel")),
          Seq("node"), "left_outer")
        .select(col("component"),
          coalesce(col("clabel"), col("node")).as("clabel"))
      val per = labeled.groupBy(col("component"))
        .agg(count(lit(1)).as("n_members"),
          countDistinct(col("clabel")).as("n_labels"))
        .filter(col("n_members") > 1)
      per.agg(count(lit(1)).as("n_truth_clusters"),
          coalesce(sum(when(col("n_labels") === 1, 1L).otherwise(0L)),
            lit(0L)).as("n_intact"),
          coalesce(sum(col("n_members")), lit(0L)).as("n_members"))
        .select(col("n_truth_clusters"), col("n_intact"), col("n_members"),
          expr("CASE WHEN n_truth_clusters = 0 THEN 1000000 " +
            "ELSE (n_intact * 1000000) DIV n_truth_clusters END")
            .as("intact_ppm"))
    }),

    // Train/eval decontamination: flag train-split documents sharing
    // any N-token shingle with the held-out eval split (the n-gram
    // overlap check run before every pretraining launch). The eval
    // shingle set is broadcast — at corpus scale the benchmark side is
    // tiny (thousands of docs) while train is the 100 TB side, so the
    // probe rides the train scan with no shuffle; per-doc overlap
    // counts then aggregate on the already-keyed shingle frame.
    "dedup_decontaminate" -> ((s, d) => {
      val hv = TextOps.hexByteValue(
        md5(concat(lit("split1:"), col("doc_id").cast("string"))))
      val tagged = shingleFrame(s, d).withColumn("hv", hv)
      // shingleFrame rows are distinct (doc_id, s), so the probe's
      // count(*) per doc is the distinct-overlap count
      graft.ops.CorpusOps.decontaminate(
        tagged.filter(col("hv") < TrainHi).select(col("doc_id"), col("s")),
        tagged.filter(col("hv") >= EvalLo).select(col("s")),
        "doc_id", "s")
    }),

    // Decontamination via a broadcast Bloom filter — the 100-TB plan
    // when the eval shingle SET is too large to broadcast as a join
    // side: the held-out split's shingle ids fold into ONE m-bit
    // OR-mergeable array (kernels/BloomFilter — shingle ids are
    // already the 52-bit domain the sketch requires; m is sized for
    // the 30x eval load, see BloomM), and the train
    // scan probes it per shingle with pure column math. The corpus
    // side sees a scan + a one-row broadcast + a map-side-combinable
    // per-doc count — no shuffle of corpus shingles against the eval
    // set, and the sketch is ~100x smaller than the shingle set it
    // summarizes. Bits are deterministic given the public hash
    // family, so the oracle replays every membership answer — false
    // positives included. `superset_ok` pins the zero-false-negative
    // contract against the exact broadcast join (affordable at test
    // scale; at 100 TB you keep only the bloom columns).
    "dedup_decontaminate_bloom" -> ((s, d) => {
      import s.implicits._
      val M = BloomM; val K3 = BloomK
      val hv = TextOps.hexByteValue(
        md5(concat(lit("split1:"), col("doc_id").cast("string"))))
      val tagged = shingleFrame(s, d).withColumn("hv", hv)
      val ev = tagged.filter(col("hv") >= EvalLo).select(col("s")).distinct()
      val bloom = ev.as[Long]
        .select(graft.kernels.BloomFilter.sketch(M, K3).toColumn).toDF("bf")
      val inBloom = TextOps.minhashParams(K3).map { case (a, b) =>
        val bit = ((lit(a) * col("s") + lit(b)) % TextOps.MinhashP) % M
        call_function("shiftright",
          element_at(col("bf"), floor(bit / 64).cast("int") + 1),
          (bit % 64).cast("int")).bitwiseAND(lit(1L)) === 1
      }.reduce(_ && _)
      tagged.filter(col("hv") < TrainHi).select(col("doc_id"), col("s"))
        .crossJoin(broadcast(bloom))
        .withColumn("in_bloom", inBloom)
        .join(broadcast(ev.withColumn("ev_hit", lit(true))), Seq("s"),
          "left_outer")
        .groupBy(col("doc_id"))
        .agg(count(lit(1)).as("n_shingles"),
          sum(when(col("in_bloom"), 1L).otherwise(0L)).as("n_bloom_hits"),
          sum(when(col("ev_hit") && !col("in_bloom"), 1L).otherwise(0L))
            .as("__fn"))
        .select(col("doc_id"), col("n_shingles"), col("n_bloom_hits"),
          (col("n_bloom_hits") > 0).as("flagged"),
          (col("__fn") === 0).as("superset_ok"))
    }),

    // Exact repeated-substring spans (the suffix-array dedup family,
    // recast for a shuffle engine): every W-token window is a seed;
    // seeds whose hash occurs more than once globally mark their
    // window as duplicated text; per document, overlapping/adjacent
    // duplicated windows condense into maximal spans (the same
    // interval-islands sweep as `window_islands`). The global seed
    // census is one keyed agg, the hit probe one keyed join, the
    // condensation one per-doc window — nothing is pairwise, so the
    // shape is flat at corpus scale where true suffix arrays are not.
    "dedup_substring_spans" -> ((s, d) => spansFrame(s, d)),

    // Incremental dedup: a continual-ingest pipeline dedupes the
    // INCOMING batch against the existing corpus index, never
    // re-running global dedup. Existing side = hash-split "previous
    // release"; incoming docs are flagged exact (fingerprint hit) or
    // near (shared LSH band bucket with an existing doc) — both
    // probes are keyed joins against index structures the previous
    // run already materialized, so ingest cost is O(batch), not
    // O(corpus).
    "dedup_incremental" -> ((s, d) => {
      val hv = TextOps.hexByteValue(
        md5(concat(lit("inc1:"), col("doc_id").cast("string"))))
      val docs = Tables.documents(s, d).withColumn("__hv", hv)
      val existing = docs.filter(col("__hv") < IncomingLo)
      val incoming = docs.filter(col("__hv") >= IncomingLo)
      def fp(df: DataFrame) =
        df.select(col("doc_id"), TextOps.fingerprint(col("text")).as("fp"))
      val exactHit = fp(incoming)
        .join(fp(existing).select(col("fp")).distinct(), Seq("fp"))
        .select(col("doc_id"), lit("exact").as("reason"))
      val sig = minhashFrame(s, d)
      // __hv is a pure function of doc_id, so the band frame computes
      // it inline — the r16 form joined the documents scan onto the
      // bands TWICE (existing-bucket census + incoming probe) just to
      // attach a hash both sides could derive locally (§2.4: the two
      // fact-sized joins disappear outright).
      val hvOf = TextOps.hexByteValue(
        md5(concat(lit("inc1:"), col("doc_id").cast("string"))))
      val bands = sig.select(col("doc_id"),
        explode(TextOps.bandKeys(BANDS, K / BANDS)).as("bk"))
        .withColumn("__hv", hvOf)
      val exBk = bands.filter(col("__hv") < IncomingLo)
        .select(col("bk")).distinct()
      val nearHit = bands.filter(col("__hv") >= IncomingLo)
        .join(exBk, Seq("bk"))
        .select(col("doc_id"), lit("near").as("reason")).distinct()
      // exact flag wins when both fire (min over reason strings:
      // "exact" < "near" lexicographically — deterministic)
      exactHit.unionByName(nearHit)
        .groupBy(col("doc_id")).agg(min(col("reason")).as("reason"))
    }),

    // The action step of exact-substring dedup: cut every repeated
    // span out of the document. The span list folds back per doc as
    // one keyed collect_list and the cut is a per-row higher-order
    // filter over token positions — the corpus is never shuffled a
    // second time.
    "dedup_substring_rewrite" -> ((s, d) =>
      graft.ops.CorpusOps.removeSpans(spanDocs(s, d), "doc_id", "toks",
        spansFrame(s, d))),

    // Edit-distance near-dup over document heads: first-token blocking
    // (a typo'd copy almost always keeps the first word) with a
    // hot-block witness pool — a block of > BlockCap docs is template
    // mass whose uncapped self-join goes quadratic at corpus scale, so
    // it pairs only against its cap lowest ids (cappedSelfJoin r17) —
    // then exact levenshtein over the 32-char heads within each block.
    // The DP distance itself is the irreducible kernel; everything
    // around it is one keyed self-join.
    "dedup_editdistance" -> ((s, d) => {
      val docs = Tables.documents(s, d).select(col("doc_id"),
        substring(col("text"), 1, 32).as("head"),
        try_element_at(TextOps.tokens(col("text")), lit(1)).as("t1"))
      val parts = scala.util.Try(s.conf
        .get("spark.sql.shuffle.partitions").toInt).getOrElse(32)
      // block on an 8-BYTE HASH of the first token, not the token:
      // the pair join (the query's dominant shuffle — both sides
      // repartition on the block key, the r7 30x watch item) now
      // moves (id, hash) ints only; head strings attach AFTER the
      // capped pair list exists. cappedSelfJoin is the shared block/
      // cap/spread skeleton (its explicit width is load-bearing —
      // ~40 s single-core at 30x without it).
      val blocked = docs.withColumn("bk", xxhash64(col("t1")))
      graft.ops.CorpusOps.cappedSelfJoin(blocked, "doc_id", "bk",
          BlockCap, parts, payload = Seq("head", "t1"))
        // re-verify token equality EXACTLY — a 64-bit hash collision
        // can therefore only add candidate pairs that this filter and
        // the DP then reject, never change the result (the same
        // verify-after-hash posture as the substring-span census)
        .filter(col("t1_a") === col("t1_b"))
        .select(col("da"), col("db"),
          col("head_a").as("ha"), col("head_b").as("hb"))
        // banded threshold DP (returns -1 past the bound): O(len·k)
        // instead of O(len²) per pair, exact for every surviving pair.
        // Equal heads short-circuit to 0 BEFORE the DP — hot witness
        // blocks are template mass whose heads are byte-identical
        // (boilerplate is exactly what makes a block hot), so at
        // content skew most witness pairs skip the DP entirely
        // (measured at sf1zd: 74.9 → see SCALE.md r17; value
        // unchanged, the DP yields 0 on equal strings anyway)
        .withColumn("lev", when(col("ha") === col("hb"), lit(0L))
          .otherwise(levenshtein(col("ha"), col("hb"), LevMax).cast("long")))
        .filter(col("lev") >= 0)
        .select("da", "db", "ha", "hb", "lev")
    }),

    // Embedding near-dup: cosine pairs blocked on (label, banded
    // hyperplane LSH buckets). Label alone is NOT a scale-safe
    // blocking key — its cardinality is fixed, so per-block membership
    // grows linearly with the corpus and the pair join goes quadratic
    // (measured in the 30x rehearsal: 132x runtime for 30x rows).
    // Each band's sign-bit bucket splits a label's population
    // 2^planes ways (bounding block sizes; planes grow with the
    // corpus), and OR-ing EmbBands independent bands recovers the
    // recall a single band loses — the same band/row geometry as the
    // minhash LSH, tuned the same way. A pair missed by every band is
    // the residual recall trade.
    "dedup_embedding" -> ((s, d) => {
      val all = VectorOps.hyperplanes(EmbBands * EmbPlanes, EmbDim)
      val emb = Tables.embeddings(s, d)
        .withColumn("__v", VectorOps.asDouble(col("embedding")))
      val blocked0 = emb.withColumn("__bk",
        explode(array((0 until EmbBands).map(b =>
          concat(lit(s"$b/"), col("label").cast("string"), lit("/"),
            VectorOps.lshBucket(col("__v"),
              all.slice(b * EmbPlanes, (b + 1) * EmbPlanes)))): _*)))
      // hot-block backstop (BlockCap) with witness-pool semantics
      // (r17): a hot near-identical POINT gets identical sign bits
      // under EVERY hyperplane — more planes cannot split it — so its
      // (band, label, bucket) block grows with the corpus and an
      // uncapped pair join goes quadratic. The pool keeps the left
      // side at the block's BlockCap lowest ids (≤ cap·|block| pairs)
      // instead of dropping the block, so the hot point's cluster
      // still surfaces and collapses downstream.
      VectorOps.blockedPairs(blocked0, "vec_id", "embedding", "__bk",
          leftCap = BlockCap)
        .filter(col("sim") >= 0.4)
        .select(split(col("__bk"), "/").getItem(1).cast("int").as("label"),
          col("ida"), col("idb"), col("sim"))
        .distinct()
    }),

    // URL dedup — the cheapest dedup layer every crawl pipeline runs
    // BEFORE any content hashing: canonicalize (strip tracking
    // params, sort the query string — the text_url_normalize canon,
    // shared construction) and keep the lowest doc_id per canonical
    // URL. One URL-keyed window pass; at crawl scale this is a single
    // hash shuffle on the canon key, and the canon itself is pure
    // column math on the scan.
    "dedup_url" -> ((s, d) => {
      import org.apache.spark.sql.expressions.Window
      val canonQ = array_join(array_sort(filter(
        split(parse_url(col("url"), lit("QUERY")), "&"),
        p => !(p.startsWith("utm_") || p.startsWith("ref=")))), "&")
      val w = Window.partitionBy(col("canon_url"))
      Tables.documents(s, d)
        .select(col("doc_id"), TextQueries.plantedUrl.as("url"))
        .withColumn("canon_url",
          concat(lit("https://"), parse_url(col("url"), lit("HOST")),
            parse_url(col("url"), lit("PATH")),
            when(length(canonQ) > 0, concat(lit("?"), canonQ))
              .otherwise(lit(""))))
        .withColumn("witness", min(col("doc_id")).over(w))
        .withColumn("n_group", count(lit(1)).over(w))
        .select(col("doc_id"), col("canon_url"),
          (col("doc_id") === col("witness")).as("keep"),
          col("witness"), col("n_group"))
    })
  )

  private val EmbBands = 3
  private val EmbPlanes = 4
  private val EmbDim = 64

  // ---- oracle SQL (programmatically assembled where repetitive) ----

  private val fpSql =
    "md5(array_to_string(list_sort(list_distinct(string_split(text,' '))),' '))"

  /** Salted 0-255 hash byte of doc_id (mirrors TextOps.hexByteValue
    * over a salted md5 — the split/sampling primitive).
    */
  private def hvSql(salt: String) =
    s"""(instr('0123456789abcdef',
           substr(md5('$salt:' || CAST(doc_id AS VARCHAR)), 1, 1)) - 1) * 16 +
        (instr('0123456789abcdef',
           substr(md5('$salt:' || CAST(doc_id AS VARCHAR)), 2, 1)) - 1)"""

  /** Repeated-substring machinery shared by dedup_substring_spans and
    * dedup_substring_rewrite: seed census → duplicated-window hits →
    * interval-islands condensation (mirrors CorpusOps.substringSpans).
    * Defines toks/seeds/dup/hits/mk/isl; `isl` group-bys to spans.
    */
  private val spanCte = {
    val w = SpanW
    s"""toks AS (SELECT doc_id, string_split(text,' ') AS t FROM documents
                 WHERE len(string_split(text,' ')) >= $w),
        seeds AS (SELECT doc_id, i AS p,
                         array_to_string(t[i:i+${w - 1}],' ') AS g
                  FROM toks, UNNEST(range(1, len(t)-${w - 2})) AS u(i)),
        dup AS (SELECT g FROM seeds GROUP BY g HAVING COUNT(*) > 1),
        hits AS (SELECT doc_id, p FROM seeds JOIN dup USING (g)),
        mk AS (SELECT doc_id, p,
                      MAX(p + ${w - 1}) OVER (PARTITION BY doc_id ORDER BY p
                        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS prev_end
               FROM hits),
        isl AS (SELECT doc_id, p,
                       SUM(CASE WHEN prev_end IS NULL OR p > prev_end + 1
                                THEN 1 ELSE 0 END)
                         OVER (PARTITION BY doc_id ORDER BY p) AS isl
                FROM mk)"""
  }

  /** Shared CTEs: shingle set, per-doc shingle counts. */
  private val shCte =
    s"""toks AS (SELECT doc_id, string_split(text,' ') AS t FROM documents
                 WHERE len(string_split(text,' ')) >= $N),
        sh AS (SELECT DISTINCT doc_id,
                      ('0x' || substr(md5(array_to_string(t[i:i+${N - 1}],' ')), 1, 13))::BIGINT AS s
               FROM toks, UNNEST(range(1, len(t)-${N - 2})) AS u(i)),
        ns AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id)"""

  /** df-capped posting-list candidates + full-set verification join
    * (mirrors postingCandidates + jaccardPairs).
    */
  private val postingCandCte =
    s"""rare AS (SELECT sh.doc_id, sh.s FROM sh
                 JOIN (SELECT s FROM sh GROUP BY s HAVING COUNT(*) <= $DfCap) h
                 USING (s)),
        cand AS (SELECT DISTINCT a.doc_id AS da, b.doc_id AS db
                 FROM rare a JOIN rare b ON a.s = b.s AND a.doc_id < b.doc_id),
        m AS (SELECT c.da, c.db FROM cand c
              JOIN sh a ON a.doc_id = c.da
              JOIN sh b ON b.doc_id = c.db AND b.s = a.s),"""

  private def verifySql(candCte: String, from: String) =
    s"""WITH $shCte, $candCte
        pr AS (SELECT da, db, COUNT(*) AS nab FROM $from GROUP BY da, db)
        SELECT da, db, nab, x.n AS na, y.n AS nb,
               round(CAST(nab AS DOUBLE)/(x.n+y.n-nab), 6) AS jaccard
        FROM pr JOIN ns x ON da = x.doc_id JOIN ns y ON db = y.doc_id
        WHERE round(CAST(nab AS DOUBLE)/(x.n+y.n-nab), 6) >= $JACC"""

  // mirrors TextOps.minhashAggs over the 52-bit shingle id:
  // h_i = (a_i*s + b_i) mod 1e9+7 per signature row
  private val minhashCols = TextOps.minhashParams(K).zipWithIndex
    .map { case ((a, b), i) =>
      s"MIN(($a * s + $b) % ${TextOps.MinhashP}) AS h${i + 1}" }
    .mkString(", ")
  private val bandList = (0 until BANDS)
    .map(b => s"'$b:' || md5(CAST(h${2 * b + 1} AS VARCHAR) || " +
      s"CAST(h${2 * b + 2} AS VARCHAR))").mkString(", ")

  // bit i = bit (i-1)%4 of hex digit (i-1)/4 of md5(token), as digit
  // -value shift/mask arithmetic (TextOps.hexDigitValues/simhashBitAggs);
  // tok CTE must provide d1..d16
  private val simhashDigitCols = (1 to (SimBits + 3) / 4)
    .map(dd => s"instr('0123456789abcdef', substr(h, $dd, 1)) - 1 AS d$dd")
    .mkString(", ")
  // mirrors TextOps.simhashPackedAggs/simhashSigPacked: one packed
  // sum per hex digit (4 bit-counts in 16-bit lanes), sign test
  // 2*lane > ntok per bit
  private val simhashPackCols = ((1 to (SimBits + 3) / 4).map { dd =>
    val terms = (0 until 4)
      .map(b => s"((d$dd >> $b) & 1) * ${1L << (16 * b)}").mkString(" + ")
    s"CAST(SUM($terms) AS BIGINT) AS p$dd"
  } :+ "COUNT(*) AS ntok").mkString(", ")
  private val simhashBits = (1 to SimBits).map { i =>
    val dd = (i - 1) / 4 + 1
    val b = (i - 1) % 4
    s"CASE WHEN ((p$dd >> ${16 * b}) & 65535) * 2 > ntok THEN '1' ELSE '0' END"
  }.mkString(" || ")

  val oracle: Map[String, String] = Map(
    "dedup_stats" ->
      s"""WITH RECURSIVE $shCte,
          $postingCandCte
          pr AS (SELECT da, db, COUNT(*) AS nab FROM m GROUP BY da, db),
          pairs AS (SELECT da, db FROM pr
                    JOIN ns x ON da = x.doc_id JOIN ns y ON db = y.doc_id
                    WHERE round(CAST(nab AS DOUBLE)/(x.n+y.n-nab), 6) >= $JACC),
          nodes AS (SELECT DISTINCT doc_id FROM
                      (SELECT da AS doc_id FROM pairs
                       UNION ALL SELECT db AS doc_id FROM pairs)),
          f AS (SELECT doc_id, source, $fpSql AS fp FROM documents),
          dup AS (SELECT fp FROM f GROUP BY fp HAVING COUNT(*) > 1),
          ex AS (SELECT doc_id FROM f JOIN dup USING (fp))
          SELECT d2.source, CAST(COUNT(*) AS BIGINT) AS n_docs,
                 CAST(SUM(CASE WHEN ex.doc_id IS NOT NULL THEN 1 ELSE 0 END)
                      AS BIGINT) AS n_exact_dup,
                 CAST(SUM(CASE WHEN nodes.doc_id IS NOT NULL THEN 1 ELSE 0 END)
                      AS BIGINT) AS n_near_dup
          FROM documents d2
          LEFT JOIN ex ON d2.doc_id = ex.doc_id
          LEFT JOIN nodes ON d2.doc_id = nodes.doc_id
          GROUP BY d2.source""",
    "dedup_exact" ->
      s"""SELECT fp, MIN(doc_id) AS rep, COUNT(*) AS n,
                 string_agg(CAST(doc_id AS VARCHAR), ',' ORDER BY doc_id) AS ids
          FROM (SELECT doc_id, $fpSql AS fp FROM documents)
          GROUP BY fp HAVING COUNT(*) > 1""",
    "dedup_ngram_jaccard" -> verifySql(postingCandCte, "m"),
    "dedup_lsh_eval" ->
      s"""WITH $shCte,
          rare AS (SELECT sh.doc_id, sh.s FROM sh
                   JOIN (SELECT s FROM sh GROUP BY s
                         HAVING COUNT(*) <= $DfCap) h USING (s)),
          pc AS (SELECT DISTINCT a.doc_id AS da, b.doc_id AS db
                 FROM rare a JOIN rare b
                   ON a.s = b.s AND a.doc_id < b.doc_id),
          pm AS (SELECT c.da, c.db FROM pc c
                 JOIN sh a ON a.doc_id = c.da
                 JOIN sh b ON b.doc_id = c.db AND b.s = a.s),
          pr AS (SELECT da, db, COUNT(*) AS nab FROM pm GROUP BY da, db),
          truth AS (SELECT da, db FROM pr
                    JOIN ns x ON da = x.doc_id JOIN ns y ON db = y.doc_id
                    WHERE round(CAST(nab AS DOUBLE)/(x.n+y.n-nab), 6)
                          >= $JACC),
          sig AS (SELECT doc_id, $minhashCols FROM sh GROUP BY doc_id),
          bands0 AS (SELECT doc_id, unnest([$bandList]) AS bk FROM sig),
          wit AS (SELECT doc_id, bk FROM (
                    SELECT doc_id, bk,
                           ROW_NUMBER() OVER (PARTITION BY bk
                                              ORDER BY doc_id) AS rk
                    FROM bands0) z WHERE rk <= $LshBucketCap),
          lcand AS (SELECT DISTINCT w.doc_id AS da, b.doc_id AS db
                    FROM wit w JOIN bands0 b
                      ON w.bk = b.bk AND w.doc_id < b.doc_id),
          tp AS (SELECT t.da FROM truth t
                 JOIN lcand c ON t.da = c.da AND t.db = c.db),
          k AS (SELECT (SELECT CAST(COUNT(*) AS BIGINT) FROM truth)
                         AS n_truth,
                       (SELECT CAST(COUNT(*) AS BIGINT) FROM lcand)
                         AS n_cand,
                       (SELECT CAST(COUNT(*) AS BIGINT) FROM tp) AS n_tp)
          SELECT n_truth, n_cand, n_tp,
                 CASE WHEN n_truth = 0 THEN 0
                      ELSE (n_tp * 1000000) // n_truth END AS recall_ppm,
                 CASE WHEN n_cand = 0 THEN 0
                      ELSE (n_tp * 1000000) // n_cand END AS precision_ppm
          FROM k""",
    "dedup_containment" ->
      s"""WITH $shCte, $postingCandCte
          pr AS (SELECT da, db, COUNT(*) AS nab FROM m GROUP BY da, db)
          SELECT da, db, nab, x.n AS na, y.n AS nb,
                 round(CAST(nab AS DOUBLE)/least(x.n, y.n), 6) AS containment
          FROM pr JOIN ns x ON da = x.doc_id JOIN ns y ON db = y.doc_id
          WHERE round(CAST(nab AS DOUBLE)/least(x.n, y.n), 6) >= $CONT""",
    "dedup_minhash_lsh" -> verifySql(
      s"""sig AS (SELECT doc_id, $minhashCols FROM sh GROUP BY doc_id),
          bands0 AS (SELECT doc_id, unnest([$bandList]) AS bk FROM sig),
          wit AS (SELECT doc_id, bk FROM (
                    SELECT doc_id, bk,
                           ROW_NUMBER() OVER (PARTITION BY bk
                                              ORDER BY doc_id) AS rk
                    FROM bands0) z WHERE rk <= $LshBucketCap),
          cand AS (SELECT DISTINCT w.doc_id AS da, b.doc_id AS db
                   FROM wit w JOIN bands0 b
                     ON w.bk = b.bk AND w.doc_id < b.doc_id),
          m AS (SELECT c.da, c.db FROM cand c
                JOIN sh a ON a.doc_id = c.da
                JOIN sh b ON b.doc_id = c.db AND b.s = a.s),""",
      "m"),
    "dedup_simhash" ->
      s"""WITH tk AS (SELECT doc_id, md5(unnest(string_split(text,' '))) AS h FROM documents),
          tok AS (SELECT doc_id, $simhashDigitCols FROM tk),
          pk AS (SELECT doc_id, $simhashPackCols FROM tok GROUP BY doc_id),
          sig AS (SELECT doc_id, $simhashBits AS sig FROM pk)
          SELECT sig, MIN(doc_id) AS rep, COUNT(*) AS n,
                 string_agg(CAST(doc_id AS VARCHAR), ',' ORDER BY doc_id) AS ids
          FROM sig GROUP BY sig HAVING COUNT(*) > 1""",
    "dedup_simhash_hamming" -> {
      val w = SimBits / SimBlocks
      val blockList = (0 until SimBlocks)
        .map(b => s"'$b:' || substr(sig, ${1 + b * w}, $w)").mkString(", ")
      val dist = (1 to SimBits)
        .map(i => s"CASE WHEN substr(sa.sig,$i,1) = substr(sb.sig,$i,1) THEN 0 ELSE 1 END")
        .mkString(" + ")
      s"""WITH tk AS (SELECT doc_id, md5(unnest(string_split(text,' '))) AS h FROM documents),
          tok AS (SELECT doc_id, $simhashDigitCols FROM tk),
          pk AS (SELECT doc_id, $simhashPackCols FROM tok GROUP BY doc_id),
          sig AS (SELECT doc_id, $simhashBits AS sig FROM pk),
          blocks0 AS (SELECT doc_id, unnest([$blockList]) AS bk FROM sig),
          wit AS (SELECT doc_id, bk FROM (
                    SELECT doc_id, bk,
                           ROW_NUMBER() OVER (PARTITION BY bk
                                              ORDER BY doc_id) AS rk
                    FROM blocks0) z WHERE rk <= $SimBlockCap),
          cand AS (SELECT DISTINCT a.doc_id AS da, b.doc_id AS db
                   FROM wit a JOIN blocks0 b
                     ON a.bk = b.bk AND a.doc_id < b.doc_id)
          SELECT da, db, sa.sig AS siga, sb.sig AS sigb,
                 CAST($dist AS BIGINT) AS dist
          FROM cand JOIN sig sa ON da = sa.doc_id
                    JOIN sig sb ON db = sb.doc_id
          WHERE $dist <= $SimRadius"""
    },
    "dedup_simhash_eval" -> {
      val w = SimBits / SimBlocks
      val blockList = (0 until SimBlocks)
        .map(b => s"'$b:' || substr(sig, ${1 + b * w}, $w)").mkString(", ")
      val dist = (1 to SimBits)
        .map(i => s"CASE WHEN substr(sa.sig,$i,1) = substr(sb.sig,$i,1) THEN 0 ELSE 1 END")
        .mkString(" + ")
      s"""WITH tk AS (SELECT doc_id, md5(unnest(string_split(text,' '))) AS h FROM documents),
          tok AS (SELECT doc_id, $simhashDigitCols FROM tk),
          pk AS (SELECT doc_id, $simhashPackCols FROM tok GROUP BY doc_id),
          sig AS (SELECT doc_id, $simhashBits AS sig FROM pk),
          g AS (SELECT sig, COUNT(*) AS n FROM sig GROUP BY sig),
          t AS (SELECT CAST(COALESCE(SUM(n * (n - 1) // 2), 0) AS BIGINT)
                         AS n_truth0 FROM g),
          blocks0 AS (SELECT doc_id, unnest([$blockList]) AS bk FROM sig),
          wit AS (SELECT doc_id, bk FROM (
                    SELECT doc_id, bk,
                           ROW_NUMBER() OVER (PARTITION BY bk
                                              ORDER BY doc_id) AS rk
                    FROM blocks0) z WHERE rk <= $SimBlockCap),
          cand AS (SELECT DISTINCT a.doc_id AS da, b.doc_id AS db
                   FROM wit a JOIN blocks0 b
                     ON a.bk = b.bk AND a.doc_id < b.doc_id),
          f AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_found0 FROM cand
                JOIN sig sa ON da = sa.doc_id
                JOIN sig sb ON db = sb.doc_id
                WHERE $dist = 0),
          h AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_hot_blocks FROM
                (SELECT bk FROM blocks0 GROUP BY bk
                 HAVING COUNT(*) > $SimBlockCap) z)
          SELECT n_truth0, n_found0,
                 CASE WHEN n_truth0 = 0 THEN 1000000
                      ELSE (n_found0 * 1000000) // n_truth0 END
                   AS recall0_ppm,
                 n_hot_blocks
          FROM t, f, h"""
    },
    "dedup_components" ->
      s"""WITH RECURSIVE $shCte,
          $postingCandCte
          pr AS (SELECT da, db, COUNT(*) AS nab FROM m GROUP BY da, db),
          pairs AS (SELECT da, db FROM pr
                    JOIN ns x ON da = x.doc_id JOIN ns y ON db = y.doc_id
                    WHERE round(CAST(nab AS DOUBLE)/(x.n+y.n-nab), 6) >= $JACC),
          e AS (SELECT da AS a, db AS b FROM pairs
                UNION SELECT db, da FROM pairs),
          reach(a, b) AS (
            SELECT a, a FROM (SELECT DISTINCT a FROM e)
            UNION
            SELECT r.a, e.b FROM reach r JOIN e ON r.b = e.a)
          SELECT a AS node, MIN(b) AS component FROM reach GROUP BY a""",
    "dedup_keep_representatives" ->
      s"""WITH RECURSIVE $shCte,
          $postingCandCte
          pr AS (SELECT da, db, COUNT(*) AS nab FROM m GROUP BY da, db),
          pairs AS (SELECT da, db FROM pr
                    JOIN ns x ON da = x.doc_id JOIN ns y ON db = y.doc_id
                    WHERE round(CAST(nab AS DOUBLE)/(x.n+y.n-nab), 6) >= $JACC),
          e AS (SELECT da AS a, db AS b FROM pairs
                UNION SELECT db, da FROM pairs),
          reach(a, b) AS (
            SELECT a, a FROM (SELECT DISTINCT a FROM e)
            UNION
            SELECT r.a, e.b FROM reach r JOIN e ON r.b = e.a),
          comp AS (SELECT a AS node, MIN(b) AS component FROM reach GROUP BY a)
          SELECT d.doc_id, d.source FROM documents d
          WHERE NOT EXISTS (SELECT 1 FROM comp c
                            WHERE c.node = d.doc_id AND c.component <> c.node)""",
    "dedup_components_eval" ->
      s"""WITH RECURSIVE $shCte,
          $postingCandCte
          pr AS (SELECT da, db, COUNT(*) AS nab FROM m GROUP BY da, db),
          pairs AS (SELECT da, db FROM pr
                    JOIN ns x ON da = x.doc_id JOIN ns y ON db = y.doc_id
                    WHERE round(CAST(nab AS DOUBLE)/(x.n+y.n-nab), 6) >= $JACC),
          e AS (SELECT da AS a, db AS b FROM pairs
                UNION SELECT db, da FROM pairs),
          reach(a, b) AS (
            SELECT a, a FROM (SELECT DISTINCT a FROM e)
            UNION
            SELECT r.a, e.b FROM reach r JOIN e ON r.b = e.a),
          comp AS (SELECT a AS node, MIN(b) AS component FROM reach GROUP BY a),
          sig AS (SELECT doc_id, $minhashCols FROM sh GROUP BY doc_id),
          bands0 AS (SELECT doc_id, unnest([$bandList]) AS bk FROM sig),
          wit AS (SELECT doc_id, bk FROM (
                    SELECT doc_id, bk,
                           ROW_NUMBER() OVER (PARTITION BY bk
                                              ORDER BY doc_id) AS rk
                    FROM bands0) z WHERE rk <= $LshBucketCap),
          lcand AS (SELECT DISTINCT w.doc_id AS da, b.doc_id AS db
                    FROM wit w JOIN bands0 b
                      ON w.bk = b.bk AND w.doc_id < b.doc_id),
          lm AS (SELECT c.da, c.db FROM lcand c
                 JOIN sh a ON a.doc_id = c.da
                 JOIN sh b ON b.doc_id = c.db AND b.s = a.s),
          lpr AS (SELECT da, db, COUNT(*) AS nab FROM lm GROUP BY da, db),
          lpairs AS (SELECT da, db FROM lpr
                     JOIN ns x ON da = x.doc_id JOIN ns y ON db = y.doc_id
                     WHERE round(CAST(nab AS DOUBLE)/(x.n+y.n-nab), 6)
                           >= $JACC),
          le AS (SELECT da AS a, db AS b FROM lpairs
                 UNION SELECT db, da FROM lpairs),
          lreach(a, b) AS (
            SELECT a, a FROM (SELECT DISTINCT a FROM le)
            UNION
            SELECT r.a, le.b FROM lreach r JOIN le ON r.b = le.a),
          lcomp AS (SELECT a AS node, MIN(b) AS component
                    FROM lreach GROUP BY a),
          lab AS (SELECT c.component,
                         COALESCE(l.component, c.node) AS clabel
                  FROM comp c LEFT JOIN lcomp l ON c.node = l.node),
          per AS (SELECT component, COUNT(*) AS n_members,
                         COUNT(DISTINCT clabel) AS n_labels
                  FROM lab GROUP BY component HAVING COUNT(*) > 1),
          k AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_truth_clusters,
                       CAST(COALESCE(SUM(CASE WHEN n_labels = 1
                                              THEN 1 ELSE 0 END), 0)
                            AS BIGINT) AS n_intact,
                       CAST(COALESCE(SUM(n_members), 0) AS BIGINT)
                         AS n_members
                FROM per)
          SELECT n_truth_clusters, n_intact, n_members,
                 CASE WHEN n_truth_clusters = 0 THEN 1000000
                      ELSE (n_intact * 1000000) // n_truth_clusters END
                   AS intact_ppm
          FROM k""",
    "dedup_decontaminate" ->
      s"""WITH $shCte,
          tagged AS (SELECT doc_id, s, ${hvSql("split1")} AS hv FROM sh),
          ev AS (SELECT DISTINCT s FROM tagged WHERE hv >= $EvalLo),
          tr AS (SELECT doc_id, s FROM tagged WHERE hv < $TrainHi),
          nt AS (SELECT doc_id, COUNT(*) AS n_shingles FROM tr GROUP BY doc_id),
          hits AS (SELECT doc_id, COUNT(*) AS n_overlap
                   FROM tr JOIN ev USING (s) GROUP BY doc_id)
          SELECT doc_id, n_overlap, n_shingles,
                 round(CAST(n_overlap AS DOUBLE)/n_shingles, 6) AS contamination
          FROM hits JOIN nt USING (doc_id)""",
    // replay the decontamination bloom bit-for-bit from the eval
    // shingle set (public hash family): a train shingle is in_bloom
    // iff all K of its probe bits are set; false positives fall out
    // of the shared `cells` set exactly as the kernel produces them
    "dedup_decontaminate_bloom" -> {
      val p = TextOps.MinhashP
      val cellLegs = TextOps.minhashParams(BloomK).map { case (a, b) =>
        s"SELECT (($a * s + $b) % $p) % $BloomM AS bit FROM ev"
      }.mkString(" UNION ALL ")
      val probeLegs = TextOps.minhashParams(BloomK).zipWithIndex
        .map { case ((a, b), j) =>
          s"SELECT doc_id, s, $j AS j, (($a * s + $b) % $p) % $BloomM AS bit FROM tr"
        }.mkString(" UNION ALL ")
      s"""WITH $shCte,
          tagged AS (SELECT doc_id, s, ${hvSql("split1")} AS hv FROM sh),
          ev AS (SELECT DISTINCT s FROM tagged WHERE hv >= $EvalLo),
          tr AS (SELECT doc_id, s FROM tagged WHERE hv < $TrainHi),
          cells AS (SELECT DISTINCT bit FROM ($cellLegs)),
          pb AS ($probeLegs),
          ph AS (SELECT doc_id, s, COUNT(*) AS c
                 FROM pb JOIN cells USING (bit) GROUP BY doc_id, s),
          inb AS (SELECT tr.doc_id, tr.s,
                         (COALESCE(ph.c, 0) = $BloomK) AS in_bloom,
                         (ev.s IS NOT NULL) AS ev_hit
                  FROM tr LEFT JOIN ph ON tr.doc_id = ph.doc_id
                                      AND tr.s = ph.s
                          LEFT JOIN ev ON tr.s = ev.s)
          SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_shingles,
                 CAST(SUM(CASE WHEN in_bloom THEN 1 ELSE 0 END) AS BIGINT)
                   AS n_bloom_hits,
                 (SUM(CASE WHEN in_bloom THEN 1 ELSE 0 END) > 0) AS flagged,
                 (SUM(CASE WHEN ev_hit AND NOT in_bloom THEN 1 ELSE 0 END) = 0)
                   AS superset_ok
          FROM inb GROUP BY doc_id"""
    },
    "dedup_substring_spans" ->
      s"""WITH $spanCte
          SELECT doc_id, MIN(p) AS span_start, MAX(p) + ${SpanW - 1} AS span_end,
                 COUNT(*) AS n_seeds
          FROM isl GROUP BY doc_id, isl""",
    "dedup_incremental" ->
      s"""WITH $shCte,
          h AS (SELECT doc_id, ${hvSql("inc1")} AS hv FROM documents),
          fpx AS (SELECT doc_id, $fpSql AS fp FROM documents),
          fh AS (SELECT fpx.doc_id, fp, hv FROM fpx JOIN h USING (doc_id)),
          exact AS (SELECT i.doc_id, 'exact' AS reason
                    FROM fh i
                    JOIN (SELECT DISTINCT fp FROM fh WHERE hv < $IncomingLo) e
                      USING (fp)
                    WHERE i.hv >= $IncomingLo),
          sig AS (SELECT doc_id, $minhashCols FROM sh GROUP BY doc_id),
          bands AS (SELECT doc_id, unnest([$bandList]) AS bk FROM sig),
          bh AS (SELECT b.doc_id, b.bk, h.hv FROM bands b JOIN h USING (doc_id)),
          exbk AS (SELECT DISTINCT bk FROM bh WHERE hv < $IncomingLo),
          near AS (SELECT DISTINCT bh.doc_id, 'near' AS reason
                   FROM bh JOIN exbk USING (bk) WHERE hv >= $IncomingLo)
          SELECT doc_id, MIN(reason) AS reason
          FROM (SELECT * FROM exact UNION ALL SELECT * FROM near)
          GROUP BY doc_id""",
    "dedup_substring_rewrite" ->
      s"""WITH $spanCte,
          spans AS (SELECT doc_id, MIN(p) AS s, MAX(p) + ${SpanW - 1} AS e
                    FROM isl GROUP BY doc_id, isl),
          alltok AS (SELECT doc_id, CAST(u.i AS BIGINT) AS p, t[i] AS tok
                     FROM toks, UNNEST(range(1, len(t)+1)) AS u(i)),
          removed AS (SELECT DISTINCT a.doc_id, a.p
                      FROM alltok a JOIN spans sp
                        ON a.doc_id = sp.doc_id AND a.p BETWEEN sp.s AND sp.e),
          agg AS (SELECT a.doc_id,
                         SUM(CASE WHEN r.p IS NULL THEN 0 ELSE 1 END) AS n_removed,
                         string_agg(CASE WHEN r.p IS NULL THEN a.tok END,
                                    ' ' ORDER BY a.p) AS new_text
                  FROM alltok a
                  LEFT JOIN removed r ON a.doc_id = r.doc_id AND a.p = r.p
                  GROUP BY a.doc_id)
          SELECT d.doc_id, CAST(COALESCE(a.n_removed, 0) AS BIGINT) AS n_removed_tok,
                 CASE WHEN a.doc_id IS NULL THEN d.text
                      ELSE COALESCE(a.new_text, '') END AS new_text
          FROM documents d LEFT JOIN agg a USING (doc_id)""",
    "dedup_editdistance" ->
      // hot blocks keep a witness pool of the BlockCap lowest ids on
      // the LEFT join side (mirrors cappedSelfJoin's r17 semantics)
      s"""WITH h0 AS (SELECT doc_id, substr(text, 1, 32) AS head,
                             string_split(text, ' ')[1] AS t1
                      FROM documents),
          wit AS (SELECT doc_id, head, t1 FROM (
                    SELECT doc_id, head, t1,
                           ROW_NUMBER() OVER (PARTITION BY t1
                                              ORDER BY doc_id) AS rk
                    FROM h0) z WHERE rk <= $BlockCap)
          SELECT a.doc_id AS da, b.doc_id AS db, a.head AS ha, b.head AS hb,
                 CAST(levenshtein(a.head, b.head) AS BIGINT) AS lev
          FROM wit a JOIN h0 b ON a.t1 = b.t1 AND a.doc_id < b.doc_id
          WHERE levenshtein(a.head, b.head) <= $LevMax""",
    "dedup_embedding" -> {
      val all = graft.ops.VectorOps.hyperplanes(EmbBands * EmbPlanes, EmbDim)
      def bkExpr(b: Int) = all.slice(b * EmbPlanes, (b + 1) * EmbPlanes)
        .map { pl =>
          val lits = pl.map(v => if (v > 0) "1.0" else "-1.0").mkString(", ")
          s"(CASE WHEN list_dot_product(v, [$lits]) >= 0 THEN '1' ELSE '0' END)"
        }.mkString(" || ")
      val bandKeys = (0 until EmbBands)
        .map(b => s"'$b/' || CAST(label AS VARCHAR) || '/' || ${bkExpr(b)}")
        .mkString(", ")
      s"""WITH e AS (SELECT vec_id, label, embedding::DOUBLE[] AS v
                     FROM embeddings),
          b0 AS (SELECT vec_id, label, v, unnest([$bandKeys]) AS bk FROM e),
          wit AS (SELECT vec_id, label, v, bk FROM (
                    SELECT vec_id, label, v, bk,
                           ROW_NUMBER() OVER (PARTITION BY bk
                                              ORDER BY vec_id) AS rk
                    FROM b0) z WHERE rk <= $BlockCap)
          SELECT DISTINCT a.label, a.vec_id AS ida, b2.vec_id AS idb,
                 round(list_cosine_similarity(a.v, b2.v), 6) AS sim
          FROM wit a JOIN b0 b2 ON a.bk = b2.bk AND a.vec_id < b2.vec_id
          WHERE round(list_cosine_similarity(a.v, b2.v), 6) >= 0.4"""
    },
    "dedup_url" ->
      s"""WITH ${TextQueries.plantedParsedSql},
          g AS (SELECT doc_id, canon_url,
                       MIN(doc_id) OVER (PARTITION BY canon_url) AS witness,
                       CAST(COUNT(*) OVER (PARTITION BY canon_url)
                            AS BIGINT) AS n_group
                FROM canon)
          SELECT doc_id, canon_url, doc_id = witness AS keep,
                 witness, n_group
          FROM g"""
  )
}
