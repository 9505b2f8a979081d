package graft.harness

import graft.Tables
import graft.ops.TextOps
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.ops.Loops.LoopOps

/** Text-analysis operators for training-data pipelines (north-star ops
  * beyond the reference's surface): token stats, quality scoring,
  * stopword-profile language id, normalized fingerprinting. All pure
  * Catalyst expressions over the `documents` table.
  */
object TextQueries {
  type Q = (SparkSession, String) => DataFrame

  private val stop = Seq("the", "a")

  private def widened(df: DataFrame): DataFrame = Tables.widened(df)

  /** The corpus exploded into adjacent token pairs — the raw bigram
    * stream both perplexity scorers aggregate. NOT cached: it is
    * corpus-sized, and an sf1 A/B showed reading a corpus-sized cache
    * twice per query costs ~2× the codegen'd explode it would save
    * (text_perplexity 2.4 → 4.0 s steady-state) — the §5 caching rule
    * (cache only when recompute beats the memory pressure) in action.
    */
  private def bigramStream(s: SparkSession, d: String): DataFrame =
    Tables.documents(s, d)
      .select(col("doc_id"), TextOps.tokens(col("text")).as("toks"))
      .withColumn("w1s", slice(col("toks"), lit(1), size(col("toks")) - 1))
      .withColumn("w2s", slice(col("toks"), lit(2), size(col("toks")) - 1))
      .select(col("doc_id"), explode(zip_with(col("w1s"), col("w2s"),
        (x, y) => struct(x.as("w1"), y.as("w2")))).as("b"))
      .select(col("doc_id"), col("b.w1").as("w1"), col("b.w2").as("w2"))

  /** The bigram LM — c(w1,w2) over the whole corpus. Bigram-TYPE-sized
    * (bounded by vocab², orders smaller than the stream it summarizes),
    * so THIS is the frame worth sharing (§2.4): both perplexity
    * scorers join it and every KN ingredient (context / follower /
    * predecessor censuses) is a tiny regroup of it. Sharing the model
    * saves each query one full corpus explode + aggregation; the
    * per-query doc-bigram census still streams its explode directly
    * (see [[bigramStream]]).
    */
  private val bigramModelFrame = SharedFrames.Frame("text_bigram_model") { (s, d) =>
    bigramStream(s, d).groupBy(col("w1"), col("w2"))
      .agg(count(lit(1)).as("nab"))
  }

  private[graft] val sharedFrames: Seq[SharedFrames.Frame] = Seq(bigramModelFrame)

  /** Shared trigram-profile classifier: per-language top-20 trigram
    * profiles learned from `trainOn(docTris)` (the full corpus or a
    * hash split), then every document scored by folding the one-row
    * broadcast profile list — `aggregate` + `array_intersect`, zero
    * scoring shuffle. The fold seeds at (0,'und') with strict `>` and
    * the profiles iterate in lang order, reproducing the join-form
    * tie rules exactly (overlap desc, plang asc; no overlap at all
    * -> 'und'). ONE definition for both langid variants so the
    * load-bearing tie/seed semantics cannot drift between them.
    */
  private def trigramLangid(s: SparkSession, d: String,
                            trainOn: DataFrame => DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val docs = widened(Tables.documents(s, d))
    // native one-pass distinct trigrams (CharNgramsDistinct):
    // value-identical to array_distinct(transform(sequence...)) on
    // every >=3-char doc, without a lambda + substring alloc per
    // character position
    // materialized ONCE: the profile build and the scoring pass are
    // two separate plans over this frame, so a lazy docTris runs the
    // per-character extraction twice — the doubled extraction, not
    // the census groupBy, dominated the query (A/B at sf0.1: warm
    // 4.1 -> 1.4 s). The trade is corpus-sized block storage for one
    // extraction pass — the same pay-storage-over-recompute call as
    // agg_similarity's checkpointed set frame.
    val docTris = docs.select(col("doc_id"), col("lang"),
      call_function("char_ngrams_distinct", col("text"), lit(3)).as("tris"))
      .loopCheckpoint()
    val prof = trainOn(docTris)
      .select(col("lang"), explode(col("tris")).as("tri"))
      .groupBy(col("lang").as("plang"), col("tri"))
      .agg(count(lit(1)).as("df"))
      .withColumn("rk", row_number().over(
        Window.partitionBy(col("plang")).orderBy(col("df").desc, col("tri"))))
      .filter(col("rk") <= 20)
      .groupBy(col("plang"))
      .agg(sort_array(collect_list(col("tri"))).as("ptris"))
      .agg(array_sort(collect_list(struct(col("plang"), col("ptris"))))
        .as("profs"))
    docTris.crossJoin(broadcast(prof))
      .select(col("doc_id"), col("lang"),
        aggregate(col("profs"),
          struct(lit(0L).as("ov"), lit("und").as("pl")),
          (acc, p) => {
            val ov = size(array_intersect(col("tris"), p.getField("ptris")))
              .cast("long")
            when(ov > acc.getField("ov"),
              struct(ov.as("ov"), p.getField("plang").as("pl")))
              .otherwise(acc)
          }).as("b"))
      .select(col("doc_id"), col("lang"),
        col("b.pl").as("pred_lang"), col("b.ov").as("overlap"))
  }

  val queries: Map[String, Q] = Map(
    // Token counting: whitespace tokens + distinct tokens + non-space chars.
    "text_tokens" -> ((s, d) =>
      Tables.documents(s, d).select(
        col("doc_id"),
        size(TextOps.tokens(col("text"))).cast("long").as("n_tok"),
        size(array_distinct(TextOps.tokens(col("text")))).cast("long")
          .as("n_distinct_tok"),
        length(translate(col("text"), " ", "")).cast("long").as("alpha_chars"))),

    // Quality scoring: stopword ratio, mean token length, bounded
    // length prior — deterministic double arithmetic on both engines.
    "text_quality" -> ((s, d) => {
      val toks = TextOps.tokens(col("text"))
      val nTok = size(toks)
      val nStop = TextOps.stopwordCount(toks, stop)
      val alpha = length(translate(col("text"), " ", ""))
      Tables.documents(s, d).select(
        col("doc_id"),
        nTok.cast("long").as("n_tok"),
        round(nStop / nTok, 6).as("stop_ratio"),
        round(alpha / nTok, 6).as("avg_tok_len"),
        round(least(lit(1.0), nTok / lit(50.0)) * (lit(1.0) - nStop / nTok), 6)
          .as("quality"))
    }),

    // Language id: stopword-profile scores per language, argmax with a
    // fixed tie order (en > es > fr) — the n-gram-heuristic operator
    // shape, kept SQL-expressible for the oracle.
    "text_langid" -> ((s, d) => {
      val toks = TextOps.tokens(col("text"))
      val nTok = size(toks)
      val sEn = TextOps.stopwordCount(toks, Seq("the", "a", "of", "and")) / nTok
      val sEs = TextOps.stopwordCount(toks, Seq("el", "la", "de", "y")) / nTok
      val sFr = TextOps.stopwordCount(toks, Seq("le", "la", "et", "de")) / nTok
      val pred = when(sEn >= sEs && sEn >= sFr, "en")
        .when(sEs >= sFr, "es").otherwise("fr")
      Tables.documents(s, d).select(
        col("doc_id"), col("lang"),
        round(sEn, 6).as("s_en"), round(sEs, 6).as("s_es"), round(sFr, 6).as("s_fr"),
        pred.as("pred_lang"), (pred === col("lang")).as("is_match"))
    }),

    // N-gram language id, trained IN-ENGINE: per-language character
    // trigram profiles (top-20 by document frequency) learned from the
    // labeled corpus in one pass, then every document scored against
    // the broadcast profile list with a per-row array_intersect fold —
    // the corpus is exploded ONCE (training) and the scoring pass
    // never shuffles: profiles are langs x 20 trigrams regardless of
    // corpus size, so the argmax folds over a one-row broadcast.
    // Fold starts at (0,'und') with strict >, and profiles iterate in
    // lang order, reproducing the join-form tie rules exactly
    // (overlap desc, plang asc; no overlap at all -> 'und').
    "text_langid_ngram" -> ((s, d) => trigramLangid(s, d, identity)),

    // The same classifier with SAMPLED training: profiles train on a
    // deterministic 25% hash split while scoring stays full-corpus.
    // At 100 TB the profile census is the expensive half and language
    // profiles converge on a tiny fraction of the data — training on
    // a sample is what the full-scale pipeline actually does, and the
    // hash split keeps it reproducible cross-engine.
    "text_langid_sampled" -> ((s, d) =>
      trigramLangid(s, d, _.filter(TextOps.hexByteValue(
        md5(concat(lit("lid1:"), col("doc_id").cast("string")))) < 64))),

    // Document fingerprint: md5 over the sorted distinct token set.
    "text_fingerprint" -> ((s, d) =>
      Tables.documents(s, d).select(
        col("doc_id"), TextOps.fingerprint(col("text")).as("fp"))),

    // Rolling-hash fingerprint (Rabin-Karp polynomial fold over the
    // character stream, base 31 mod 1e9+7) — the streaming-friendly
    // fingerprint next to the bag-of-words md5; same left-to-right
    // fold on both engines.
    "text_rolling_hash" -> ((s, d) =>
      Tables.documents(s, d).select(
        col("doc_id"),
        aggregate(transform(split(col("text"), ""), ch => ascii(ch).cast("long")),
          lit(0L), (acc, x) => (acc * 31 + x) % 1000000007L).as("rhash"))),

    // The composed pretraining filter: every document gets a keep/drop
    // decision plus the FIRST firing drop reason — length prior,
    // stopword density, quality score, then exact-dup demotion (only
    // the first copy of a fingerprint survives). This is the operator
    // a 100 TB corpus actually runs nightly; one scan + one window
    // over the fingerprint, no self-joins.
    "text_filter_pipeline" -> ((s, d) => {
      import org.apache.spark.sql.expressions.Window
      val toks = TextOps.tokens(col("text"))
      val nTok = size(toks)
      val nStop = TextOps.stopwordCount(toks, stop)
      val quality =
        round(least(lit(1.0), nTok / lit(50.0)) * (lit(1.0) - nStop / nTok), 6)
      val scored = Tables.documents(s, d).select(
        col("doc_id"),
        nTok.cast("long").as("n_tok"),
        round(nStop / nTok, 6).as("stop_ratio"),
        quality.as("quality"),
        TextOps.fingerprint(col("text")).as("fp"))
        .withColumn("dup_rank",
          row_number().over(Window.partitionBy(col("fp")).orderBy(col("doc_id"))))
      scored.select(col("doc_id"), col("n_tok"), col("quality"),
        when(col("n_tok") < 10, "too_short")
          .when(col("stop_ratio") > 0.5, "stopword_heavy")
          .when(col("quality") < 0.3, "low_quality")
          .when(col("dup_rank") > 1, "duplicate")
          .as("drop_reason"))
        .withColumn("keep", col("drop_reason").isNull)
    }),

    // Vocabulary build: BPE-ish token frequencies with ranks — the
    // tokenizer-training precursor (explode -> one hash agg -> top-k
    // by count). orderBy+limit plans TakeOrderedAndProject (per-
    // partition heaps, no global single-partition window over the
    // full vocabulary); the rank window then runs over 100 rows only.
    "text_vocab" -> ((s, d) => {
      import org.apache.spark.sql.expressions.Window
      Tables.documents(s, d)
        .select(explode(regexp_extract_all(col("text"),
          lit(TextOps.BpeishPattern), lit(0))).as("tok"))
        .groupBy(col("tok")).agg(count(lit(1)).as("n"))
        .orderBy(col("n").desc, col("tok")).limit(100)
        .withColumn("rank", row_number().over(
          Window.orderBy(col("n").desc, col("tok"))))
    }),

    // Repetition quality signals (the Gopher-rule family): duplicate
    // -token fraction, the share of 2-gram occurrences claimed by the
    // most frequent 2-gram, and the share of 3-gram occurrences whose
    // gram repeats within the document. All three are per-doc keyed
    // aggregations over exploded n-grams — partial aggregation
    // combines map-side, and nothing ever leaves the doc_id key, so
    // the shape is flat at corpus scale.
    "text_repetition" -> ((s, d) =>
      graft.ops.CorpusOps.repetitionSignals(
        Tables.documents(s, d)
          .select(col("doc_id"), TextOps.tokens(col("text")).as("toks")),
        "doc_id", "toks")),

    // Rare-token density: mean corpus document-frequency of a doc's
    // distinct tokens (the log-prob-free analogue of LM-perplexity
    // quality filtering — OOV/rare-token-heavy docs score low and are
    // noise candidates; logs are avoided deliberately because ln() is
    // not correctly-rounded identically across engines, while integer
    // df sums and one final division are). Census is one keyed agg
    // over exploded distinct tokens; scoring is a keyed join back.
    "text_rarity" -> ((s, d) => {
      val tok = Tables.documents(s, d)
        .select(col("doc_id"),
          explode(array_distinct(TextOps.tokens(col("text")))).as("t"))
      val df = tok.groupBy(col("t")).agg(count(lit(1)).as("tdf"))
      tok.join(df, Seq("t"))
        .groupBy(col("doc_id"))
        .agg(count(lit(1)).as("n_distinct_tok"),
          round(sum(col("tdf")).cast("double") / count(lit(1)), 6)
            .as("mean_tdf"))
    }),

    // BPE-ish token counting: GPT2-style pre-tokenizer regex (letters /
    // digits / punctuation runs with leading-space absorption) next to
    // plain whitespace tokens — the cost-estimation operator of a
    // training-data pipeline.
    "text_bpe_tokens" -> ((s, d) =>
      Tables.documents(s, d).select(
        col("doc_id"),
        size(regexp_extract_all(col("text"), lit(TextOps.BpeishPattern), lit(0)))
          .cast("long").as("n_bpe"),
        size(TextOps.tokens(col("text"))).cast("long").as("n_ws"))),

    // Sliding-window chunking (the sample-prep step for RAG indexing /
    // fixed-context training): windows of ChunkW tokens at ChunkS
    // stride (ChunkW-ChunkS token overlap), tail windows kept short.
    // One posexplode of the per-doc start sequence — per-row fan-out,
    // no shuffle; at corpus scale the explode factor is n/ChunkS.
    "text_chunk_windows" -> ((s, d) =>
      Tables.documents(s, d)
        // null text would make size() = -1 and sequence(0,-2) THROW,
        // where the oracle's range() just yields no row — filter to
        // the oracle's semantics
        .filter(col("text").isNotNull)
        .select(col("doc_id"), TextOps.tokens(col("text")).as("__toks"))
        .withColumn("__n", size(col("__toks")))
        .select(col("doc_id"), col("__toks"),
          explode(sequence(lit(0), col("__n") - 1, lit(ChunkS))).as("__s"))
        .select(col("doc_id"),
          (col("__s") / ChunkS).cast("long").as("chunk_id"),
          (col("__s") + 1).cast("long").as("start_tok"),
          size(slice(col("__toks"), col("__s") + 1, lit(ChunkW)))
            .cast("long").as("n_tok"),
          concat_ws(" ", slice(col("__toks"), col("__s") + 1, lit(ChunkW)))
            .as("chunk_text"))),

    // PII redaction: emails / international phone numbers / IPv4
    // addresses counted then replaced with typed placeholders — a
    // standard corpus-curation pass before releasing training data.
    // Pure per-row regex expressions (codegen'd, no shuffle). The
    // synthetic corpus carries no PII, so deterministic specimens are
    // planted on a doc_id grid first; both engines see identical text.
    "text_pii_redact" -> ((s, d) => {
      val planted = Tables.documents(s, d).select(col("doc_id"),
        concat(col("text"),
          when(col("doc_id") % 5 === 0,
            concat(lit(" contact user"), col("doc_id").cast("string"),
              lit("@example.com now"))).otherwise(lit("")),
          when(col("doc_id") % 7 === 0,
            concat(lit(" call +1415555"),
              lpad((col("doc_id") % 10000).cast("string"), 4, "0")))
            .otherwise(lit("")),
          when(col("doc_id") % 11 === 0,
            concat(lit(" from 192.168."),
              (col("doc_id") % 255).cast("string"), lit(".17")))
            .otherwise(lit(""))).as("text"))
      planted.select(col("doc_id"),
        (regexp_count(col("text"), lit(PiiEmail)) +
          regexp_count(col("text"), lit(PiiPhone)) +
          regexp_count(col("text"), lit(PiiIp))).cast("long").as("n_pii"),
        regexp_replace(
          regexp_replace(
            regexp_replace(col("text"), lit(PiiEmail), lit("<EMAIL>")),
            lit(PiiPhone), lit("<PHONE>")),
          lit(PiiIp), lit("<IP>")).as("clean_text"))
    }),

    // Collocation mining: top-100 adjacent bigrams by lift — the
    // log-free PMI analogue (lift = P(w1w2)/(P(w1)·P(w2)) as one
    // rational of exact counts; ln() is avoided for the same
    // cross-engine reason as text_rarity). The phrase-mining pass a
    // tokenizer-vocabulary build runs over a corpus. Shape: one
    // narrow bigram explode + one pair groupBy (the only
    // corpus-scaled shuffle); unigram counts are vocab-sized →
    // broadcast; the (NT, NB) census is a single broadcast row
    // (NB = NT - n_docs exactly — no second corpus pass); final
    // top-k is TakeOrdered, never a full sort at the driver.
    "text_collocations" -> ((s, d) => {
      val toks = Tables.documents(s, d)
        .select(col("doc_id"), TextOps.tokens(col("text")).as("toks"))
      val census = toks.agg(
        sum(size(col("toks"))).as("nt"),
        (sum(size(col("toks"))) - count(lit(1))).as("nbg"))
      val uni = toks.select(explode(col("toks")).as("t"))
        .groupBy(col("t")).agg(count(lit(1)).as("n"))
      val pairs = toks
        .withColumn("w1s", slice(col("toks"), lit(1), size(col("toks")) - 1))
        .withColumn("w2s", slice(col("toks"), lit(2), size(col("toks")) - 1))
        .select(explode(zip_with(col("w1s"), col("w2s"),
          (x, y) => struct(x.as("w1"), y.as("w2")))).as("bg"))
        .select(col("bg.w1").as("w1"), col("bg.w2").as("w2"))
        .groupBy(col("w1"), col("w2")).agg(count(lit(1)).as("nab"))
        .filter(col("nab") >= 5)
      pairs
        .join(broadcast(uni.select(col("t").as("w1"), col("n").as("na"))),
          Seq("w1"))
        .join(broadcast(uni.select(col("t").as("w2"), col("n").as("nb"))),
          Seq("w2"))
        .crossJoin(broadcast(census))
        // exact integer operands, left-assoc double products, one
        // division — both engines round the identical value
        .withColumn("lift", round(
          col("nab").cast("double") * col("nt") * col("nt") /
            (col("na").cast("double") * col("nb") * col("nbg")), 6))
        .orderBy(col("lift").desc, col("w1"), col("w2"))
        .limit(100)
        .select("w1", "w2", "nab", "lift")
    }),

    // Character-distribution entropy — the classic gibberish/boiler-
    // plate signal (low entropy = repeated characters, high = noise;
    // natural text sits in a band). One char explode + two keyed aggs
    // on doc_id; per-class terms -(p ln p) round to 9dp and sum as
    // DECIMAL so the entropy is order-independent and cross-engine
    // exact.
    "text_entropy" -> ((s, d) => {
      import org.apache.spark.sql.types.DecimalType
      val ch = widened(Tables.documents(s, d))
        .select(col("doc_id"), length(col("text")).as("len"),
          explode(split(col("text"), "")).as("c"))
      ch.groupBy(col("doc_id"), col("c"))
        .agg(first(col("len")).as("len"), count(lit(1)).as("n"))
        .groupBy(col("doc_id"))
        .agg(first(col("len")).cast("long").as("n_chars"),
          count(lit(1)).as("n_distinct_chars"),
          round(sum(round(-(col("n") / col("len")) * log(col("n") / col("len")), 9)
            .cast(DecimalType(12, 9))).cast("double"), 6).as("entropy"))
    }),

    // Encoding-quality (mojibake) signal — the corrupt-decode filter
    // every web-scraped corpus runs before training: count U+FFFD
    // replacement characters (the tombstone a lossy charset decode
    // leaves behind) and C0 control characters, flag documents whose
    // ratio crosses the drop threshold. The ASCII corpus has neither,
    // so both are planted deterministically from doc_id (the PII
    // pattern); per-row regexp_count rides the scan.
    "text_mojibake" -> ((s, d) => {
      val planted = Tables.documents(s, d).select(col("doc_id"),
        concat(col("text"),
          when(col("doc_id") % 4 === 0,
            concat(lit(" br"), lit("�"), lit("ken"),
              when(col("doc_id") % 8 === 0, lit("��"))
                .otherwise(lit("")))).otherwise(lit("")),
          when(col("doc_id") % 9 === 0,
            lit(Seq(7, 1).map(_.toChar).mkString)).otherwise(lit("")))
          .as("text"))
      planted.select(col("doc_id"),
        length(col("text")).cast("long").as("n_chars"),
        regexp_count(col("text"), lit("�")).cast("long")
          .as("n_replacement"),
        regexp_count(col("text"), lit("[\\x00-\\x08\\x0B\\x0C\\x0E-\\x1F]"))
          .cast("long").as("n_control"))
        .withColumn("bad_ratio",
          round((col("n_replacement") + col("n_control")) / col("n_chars"), 6))
        .withColumn("keep", col("bad_ratio") < 0.005)
    }),

    // URL canonicalization — the C4/web-pipeline dedup key: parse
    // host/path/query with Spark's codegen'd parse_url builtin, strip
    // tracking parameters (utm_*, ref) and sort the survivors so
    // canonically-equal URLs compare equal. The corpus has no URL
    // column, so URLs are planted deterministically from doc_id (the
    // PII-query pattern); the oracle re-parses with RE2 regexes and
    // list ops. Purely per-row — the projection rides the scan.
    "text_url_normalize" -> ((s, d) => {
      val canonQ = array_join(array_sort(filter(
        split(parse_url(col("url"), lit("QUERY")), "&"),
        p => !(p.startsWith("utm_") || p.startsWith("ref=")))), "&")
      Tables.documents(s, d)
        .select(col("doc_id"), plantedUrl.as("url"))
        .select(col("doc_id"),
          parse_url(col("url"), lit("HOST")).as("host"),
          parse_url(col("url"), lit("PATH")).as("path"),
          canonQ.as("canon_query"))
        .withColumn("canon_url",
          concat(lit("https://"), col("host"), col("path"),
            when(length(col("canon_query")) > 0,
              concat(lit("?"), col("canon_query"))).otherwise(lit(""))))
    }),

    // Inverted-index build — the search-serving artifact: token →
    // document frequency + ordered posting list (A7's grouped
    // sort+concat shape on the token key). ONE distinct + ONE
    // token-keyed shuffle; posting lists stay distributed one row per
    // token. At corpus scale the known skew is the stop-word posting
    // (a single giant row) — production shards hot postings by
    // doc-range exactly like the lineage-rollup salt; the synthetic
    // vocab has no such token so the plain shape is the honest one
    // here.
    "text_inverted_index" -> ((s, d) =>
      // ONE token-keyed exchange instead of two (§2.4): the r16 form
      // ran distinct() on (token, doc_id) — a full exchange — and then
      // re-shuffled by token for the postings agg. collect_set dedups
      // doc ids inside the same token-keyed aggregation (map-side
      // partial sets merge), so the distinct's exchange disappears;
      // df = |set| is the same distinct-doc count.
      Tables.documents(s, d)
        .select(explode(TextOps.tokens(col("text"))).as("token"),
          col("doc_id"))
        .groupBy(col("token"))
        .agg(collect_set(col("doc_id")).as("ds"))
        .select(col("token"), size(col("ds")).cast("long").as("df"),
          concat_ws(",", transform(sort_array(col("ds")),
            _.cast("string"))).as("postings"))),

    // tf-idf top terms per document — the classic relevance weight,
    // computed the DSIR way for cross-engine exactness: idf =
    // ln(N/df) rounded to 6dp as DECIMAL (vocab-sized, broadcast),
    // score = tf · idf exact from there, cast to DOUBLE only at the
    // edge. Shape: one token explode feeding two keyed aggs (tf per
    // doc, df per token), the weight table broadcasts back onto the
    // tf frame, and the per-doc top-3 is a bounded window.
    "text_tfidf" -> ((s, d) => {
      import org.apache.spark.sql.expressions.Window
      import org.apache.spark.sql.types.DecimalType
      val tok = Tables.documents(s, d)
        .select(col("doc_id"), explode(TextOps.tokens(col("text"))).as("t"))
      // ONE corpus explode instead of two (§2.4): the r16 form exploded
      // the token stream separately for tf (groupBy doc,t) and df
      // (distinct + groupBy t). tf rows are already unique per (doc,t),
      // so df = tf's per-token row count — the df branch now reads the
      // materialized tf frame (checkpoint: both the weight build and
      // the scoring join consume it; blocks reclaimed by Bench's
      // ephemeral sweep) instead of re-exploding the corpus.
      val tf = tok.groupBy(col("doc_id"), col("t"))
        .agg(count(lit(1)).as("tf"))
        .loopCheckpoint()
      val census = Tables.documents(s, d).agg(count(lit(1)).as("nd"))
      val w = tf.groupBy(col("t")).agg(count(lit(1)).as("df"))
        .crossJoin(broadcast(census))
        .select(col("t"),
          round(log(col("nd") / col("df")), 6).cast(DecimalType(12, 6))
            .as("w"))
      tf.join(broadcast(w), Seq("t"))
        .withColumn("score", (col("tf") * col("w")).cast("double"))
        .withColumn("rk", row_number().over(
          Window.partitionBy(col("doc_id"))
            .orderBy(col("score").desc, col("t"))))
        .filter(col("rk") <= 3)
        .select(col("doc_id"), col("t").as("token"), col("tf"),
          col("score"))
    }),

    // Frequent tokens via the SpaceSaving sketch (kernels/
    // HeavyHitters.scala) — the mergeable frequent-items summary that
    // replaces a full token groupBy at corpus scale: every map task
    // holds <= 4096 counters and the shuffle moves ONE such summary
    // per partition, not the exploded token stream. The corpus
    // vocabulary (31 per generator word list, x the ScaleUp replica
    // factor: 310 at 10x, 930 at 30x) stays under the capacity, so
    // the sketch runs in its provably EXACT regime at every tested
    // scale and the oracle pins it to the true counts; the
    // over-capacity approximation bracket is property-tested in
    // HeavyHittersSpec.
    "text_heavy_hitters" -> ((s, d) => {
      import s.implicits._
      Tables.documents(s, d)
        .select(explode(TextOps.tokens(col("text"))).as("value")).as[String]
        .select(graft.kernels.HeavyHitters.spaceSaving(4096).toColumn).toDF("hh")
        .select(explode(col("hh")).as("e"))
        .select(col("e.token").as("token"), col("e.count").as("n"),
          col("e.err").as("err"))
        .orderBy(col("n").desc, col("token"))
        .limit(20)
    }),

    // Canonical text normalization — NFC compose + unicode lowercase
    // + whitespace collapse, the cleanup pass every dedup/fingerprint
    // stage assumes (canonically-equal strings must hash equal). The
    // NFC step is the native `nfc_normalize` expression
    // (functions/NfcNormalize.scala): codegen'd, allocation-free on
    // already-normalized text — a UDF here would break whole-stage
    // codegen on the hottest full-corpus scan there is. The corpus is
    // ASCII, so decomposed sequences (e+U+0301), precomposed É, and a
    // tab are planted deterministically from doc_id — the oracle
    // recomposes with DuckDB's utf8proc and must agree byte-for-byte.
    // Purely per-row: no shuffle, the filter-free projection rides
    // the scan at any scale.
    "text_normalize" -> ((s, d) => {
      val raw = concat(col("text"),
        when(col("doc_id") % 3 === 0, lit(" Café TABLE"))
          .otherwise(lit("")),
        when(col("doc_id") % 5 === 0, lit(" ÉLAN  spaced\tout"))
          .otherwise(lit("")))
      val nfc = call_function("nfc_normalize", col("raw"))
      Tables.documents(s, d)
        .select(col("doc_id"), raw.as("raw"))
        .select(col("doc_id"),
          trim(regexp_replace(lower(nfc), "\\s+", " ")).as("norm_text"),
          (nfc =!= col("raw")).as("recomposed"),
          length(nfc).cast("long").as("n_chars_nfc"))
    }),

    // Bigram language-model scoring — the CCNet-style perplexity
    // quality signal, with the LM trained in-engine on the corpus
    // itself: P(w2|w1) = (c(w1,w2)+1) / (c(w1)+V) (add-one smoothing
    // over the corpus vocabulary), doc score = mean −ln P over the
    // document's bigram occurrences. Plan shape at corpus scale: the
    // bigram census and the per-doc bigram counts are two keyed aggs
    // over ONE exploded bigram frame (both map-side combinable); the
    // model-apply is a keyed join on (w1,w2) — the model is
    // bigram-table-sized, NOT corpus-sized, so it shuffles as the
    // small side — the unigram history counts broadcast (vocab-
    // sized), and the V census is a single broadcast row. Per-
    // occurrence −ln P terms round to 9dp and sum as DECIMAL so the
    // mean is order-independent and cross-engine exact. Docs with <2
    // tokens have no bigrams and drop out (inner semantics, both
    // engines).
    "text_perplexity" -> ((s, d) => {
      import org.apache.spark.sql.types.DecimalType
      val toks = Tables.documents(s, d)
        .select(col("doc_id"), TextOps.tokens(col("text")).as("toks"))
      // the doc-bigram census streams its own explode (corpus-sized —
      // deliberately uncached, see bigramStream); the MODEL it joins
      // is the shared bigram-type-sized frame, saving this query the
      // second corpus explode + aggregation it previously ran
      val docBg = bigramStream(s, d)
        .groupBy(col("doc_id"), col("w1"), col("w2"))
        .agg(count(lit(1)).as("k"))
      val model = bigramModelFrame(s, d)
      val uni = toks.select(explode(col("toks")).as("t"))
        .groupBy(col("t")).agg(count(lit(1)).as("n"))
      val census = uni.agg(count(lit(1)).as("v"))
      docBg.join(model, Seq("w1", "w2"))
        .join(broadcast(uni.select(col("t").as("w1"), col("n").as("na"))),
          Seq("w1"))
        .crossJoin(broadcast(census))
        .groupBy(col("doc_id"))
        .agg(sum(col("k")).as("n_bigrams"),
          round(sum(
            round(-log((col("nab") + lit(1.0)) / (col("na") + col("v"))), 9)
              .cast(DecimalType(12, 9)) * col("k")).cast("double") /
            sum(col("k")), 6).as("avg_nll"))
    }),

    // Kneser-Ney smoothed bigram NLL per document — the LM-quality
    // scorer the add-one model above understates (KN backs off to
    // CONTINUATION probability: how many distinct contexts a word
    // follows, not how often it occurs — the canonical smoothing for
    // LM-data perplexity filters). Every ingredient is an integer
    // census over the bigram model frame: c(w1w2), c(w1·)=Σc(w1w2),
    // N1+(w1·) distinct followers, N1+(·w2) distinct predecessors,
    // N1+(··) total bigram types; the absolute discount d=0.75 keeps
    // every term an exact dyadic rational before the one shared-shape
    // IEEE chain (round(-ln(p),9) summed as DECIMAL — the
    // text_perplexity discipline). Follower/predecessor tables are
    // vocabulary-sized broadcasts; the only corpus-sized shuffles are
    // the doc-bigram and model censuses.
    "text_perplexity_kn" -> ((s, d) => {
      import org.apache.spark.sql.types.DecimalType
      // same split as text_perplexity: the doc-bigram census streams
      // its own explode, the shared bigram-type-sized MODEL is cached,
      // and every KN ingredient below is a tiny regroup of the model
      val docBg = bigramStream(s, d)
        .groupBy(col("doc_id"), col("w1"), col("w2"))
        .agg(count(lit(1)).as("k"))
      val model = bigramModelFrame(s, d)
      val ctx = model.groupBy(col("w1"))
        .agg(sum(col("nab")).as("c1"), count(lit(1)).as("n1f"))
      val pre = model.groupBy(col("w2")).agg(count(lit(1)).as("n1p"))
      val types = model.agg(count(lit(1)).as("nt"))
      // p_KN(w2|w1) = (max(c12-d,0) + d*N1+(w1.)*N1+(.w2)/N1+(..))/c(w1.)
      // — one left-associated IEEE chain, written identically in the
      // DuckDB oracle
      val p = (greatest(col("nab").cast("double") - lit(0.75), lit(0.0)) +
        lit(0.75) * col("n1f").cast("double") * col("n1p").cast("double") /
          col("nt").cast("double")) / col("c1").cast("double")
      docBg.join(model, Seq("w1", "w2"))
        .join(broadcast(ctx), Seq("w1"))
        .join(broadcast(pre), Seq("w2"))
        .crossJoin(broadcast(types))
        .groupBy(col("doc_id"))
        .agg(sum(col("k")).as("n_bigrams"),
          round(sum(round(-log(p), 9).cast(DecimalType(12, 9)) * col("k"))
            .cast("double") / sum(col("k")), 6).as("avg_nll"))
    }),

    // In-engine quality-classifier training — the fastText/CCNet-style
    // learned filter, trained AS a Spark job instead of a notebook
    // step: batch logistic regression by full-batch gradient descent
    // where each iteration is ONE exact aggregate over the feature
    // frame (per-row gradient terms rounded to 9dp and summed as
    // DECIMAL — order-independent, map-side combinable — then a
    // 4-number weight update on the driver; weights are MODEL, not
    // data). The feature frame (4 doubles/doc) persists across the
    // ClfIters+1 passes via the family cache. Scoring embeds the
    // learned weights as literals — one codegen'd projection, no
    // shuffle. At 100 TB this is exactly how a linear quality filter
    // trains: O(iters) scans, gradient state that never leaves the
    // reducers, nothing driver-side but the weight vector.
    "text_quality_classifier" -> ((s, d) => {
      import org.apache.spark.sql.types.DecimalType
      val toks = TextOps.tokens(col("text"))
      val nTok = size(toks)
      val feats = SharedFrames.cachedFrame(s, d, "clf_feats") {
        widened(Tables.documents(s, d)).select(
          col("doc_id"),
          when(col("lang") === "en", 1.0).otherwise(0.0).as("y"),
          (nTok / lit(100.0)).as("x1"),
          (TextOps.stopwordCount(toks, stop) / nTok).as("x2"),
          (length(translate(col("text"), " ", "")) / nTok / lit(10.0)).as("x3"))
      }
      def z(w: Array[Double]) =
        lit(w(0)) + lit(w(1)) * col("x1") + lit(w(2)) * col("x2") +
          lit(w(3)) * col("x3")
      var w = Array(0.0, 0.0, 0.0, 0.0)
      for (_ <- 1 to ClfIters) {
        val r = col("y") - lit(1.0) / (lit(1.0) + exp(-z(w)))
        def g(x: org.apache.spark.sql.Column) =
          sum(round(r * x, 9).cast(DecimalType(20, 9)))
        val row = feats
          .agg(g(lit(1.0)), g(col("x1")), g(col("x2")), g(col("x3")),
            count(lit(1)))
          .head()
        val n = row.getLong(4).toDouble
        w = Array.tabulate(4) { i =>
          BigDecimal(w(i) + ClfEta * row.getDecimal(i).doubleValue() / n)
            .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
        }
      }
      val p = round(lit(1.0) / (lit(1.0) + exp(-z(w))), 6)
      feats.select(col("doc_id"), col("y"), p.as("p"),
        (p >= 0.5).as("pred"))
    }),

    // BM25 ranked retrieval for a fixed query — the lexical serving
    // baseline that sits next to the ANN family (hybrid search fuses
    // the two in ann_hybrid_rrf). Everything reaching the hash gate
    // is cross-engine exact: idf = ln rounded to 6dp as DECIMAL (the
    // proven tfidf regime), the tf-saturation term is a fixed
    // left-assoc chain of IEEE double ops (bit-identical in any IEEE
    // engine), and each per-term contribution is scaled to integer
    // micros via floor(x*1e6 + 0.5) BEFORE the order-insensitive
    // BIGINT sum. Shape: the token explode feeds tf and df only for
    // the 4 query terms (everything else prunes at the scan filter),
    // idf is a 4-row broadcast, avgdl a one-row census broadcast, and
    // the global top-10 is TakeOrdered — no full-sort, no wide window.
    "text_bm25" -> ((s, d) => {
      import org.apache.spark.sql.expressions.Window
      import org.apache.spark.sql.types.DecimalType
      val docs = widened(Tables.documents(s, d))
      val toks = TextOps.tokens(col("text"))
      val census = docs.select(size(toks).as("dl"))
        .agg(count(lit(1)).as("nd"), sum(col("dl")).as("sdl"))
      // dl (doc length) is functionally dependent on doc_id, so it
      // rides the SAME scan as the term explode and survives the tf
      // aggregation as max(dl) — the r16 form joined a separate
      // corpus-sized dl frame onto the scored hits (a full-corpus
      // shuffle to attach one int per doc, §2.4/§2.3). tf rows are
      // unique per (doc, t), so df = tf's per-term row count — the idf
      // branch reads the materialized tf frame (4 query terms × docs,
      // tiny) instead of re-exploding the corpus for a distinct pass.
      // Corpus passes: 4 → 2 (census + hits), corpus-sized joins: 1 → 0.
      val tf = docs
        .select(col("doc_id"), TextOps.tokens(col("text")).as("toks"))
        .select(col("doc_id"), size(col("toks")).as("dl"),
          explode(col("toks")).as("t"))
        .filter(col("t").isin(Bm25Terms: _*))
        .groupBy(col("doc_id"), col("t"))
        .agg(count(lit(1)).as("tf"), max(col("dl")).as("dl"))
        .loopCheckpoint()
      val idf = tf.groupBy(col("t")).agg(count(lit(1)).as("df"))
        .crossJoin(broadcast(census))
        .select(col("t"),
          round(log(lit(1.0) +
            (col("nd").cast("double") - col("df").cast("double") + lit(0.5)) /
              (col("df").cast("double") + lit(0.5))), 6)
            .cast(DecimalType(12, 6)).as("idf"))
      val tfp = (col("tf").cast("double") * lit(2.2)) /
        (col("tf").cast("double") + lit(1.2) *
          (lit(0.25) + lit(0.75) *
            (col("dl").cast("double") /
              (col("sdl").cast("double") / col("nd").cast("double")))))
      val scored = tf
        .join(broadcast(idf), Seq("t"))
        .crossJoin(broadcast(census))
        .withColumn("c_micro",
          floor(col("idf").cast("double") * tfp * lit(1e6) + lit(0.5))
            .cast("long"))
        .groupBy(col("doc_id"))
        .agg(count(lit(1)).as("n_terms"), sum(col("c_micro")).as("score_micro"))
      scored.orderBy(col("score_micro").desc, col("doc_id")).limit(10)
        .withColumn("rk", row_number().over(
          Window.orderBy(col("score_micro").desc, col("doc_id"))))
        .select(col("doc_id"), col("n_terms"), col("score_micro"), col("rk"))
    })
  )

  // PII patterns restricted to syntax with identical semantics in Java
  // regex (Spark) and RE2 (DuckDB): no backrefs, no lookaround.
  private val PiiEmail = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
  private val PiiPhone = "\\+\\d{7,15}"
  private val PiiIp = "\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}"

  // chunk window / stride (16-token overlap)
  private val ChunkW = 64
  private val ChunkS = 48

  // quality-classifier training: full-batch GD iterations / step size
  private val ClfIters = 5
  private val ClfEta = 1.0

  // BM25: fixed query terms (present in the synthetic vocab) + the
  // standard k1=1.2 / b=0.75 folded into the tfp expression as
  // literals (2.2 = k1+1, 0.25 = 1-b, 0.75 = b)
  private val Bm25Terms = Seq("scan", "merge", "hash", "batch")

  // planted per-doc URL with tracking-parameter noise — shared by
  // text_url_normalize and dedup_url (both sides: Column + SQL CTEs)
  private[harness] def plantedUrl: org.apache.spark.sql.Column =
    concat(lit("https://site"), (col("doc_id") % 7).cast("string"),
      lit(".example.com/p/"), (col("doc_id") % 100).cast("string"),
      lit("?id="), (col("doc_id") % 50).cast("string"),
      when(col("doc_id") % 2 === 0, lit("&utm_source=feed&utm_campaign=x"))
        .otherwise(lit("")),
      when(col("doc_id") % 3 === 0, lit("&ref=partner")).otherwise(lit("")),
      when(col("doc_id") % 5 === 0,
        concat(lit("&page="), (col("doc_id") % 9).cast("string")))
        .otherwise(lit("")))

  private[harness] val plantedParsedSql =
    """planted AS (SELECT doc_id,
              'https://site' || CAST(doc_id % 7 AS VARCHAR) ||
              '.example.com/p/' || CAST(doc_id % 100 AS VARCHAR) ||
              '?id=' || CAST(doc_id % 50 AS VARCHAR) ||
              CASE WHEN doc_id % 2 = 0
                   THEN '&utm_source=feed&utm_campaign=x' ELSE '' END ||
              CASE WHEN doc_id % 3 = 0 THEN '&ref=partner' ELSE '' END ||
              CASE WHEN doc_id % 5 = 0
                   THEN '&page=' || CAST(doc_id % 9 AS VARCHAR) ELSE '' END
              AS url
            FROM documents),
          parsed AS (SELECT doc_id,
              regexp_extract(url, 'https?://([^/]+)', 1) AS host,
              regexp_extract(url, 'https?://[^/]+([^?]*)', 1) AS path,
              array_to_string(list_sort(list_filter(
                string_split(regexp_extract(url, '\?(.*)$', 1), '&'),
                p -> NOT (p LIKE 'utm_%' OR p LIKE 'ref=%'))), '&')
                AS canon_query
            FROM planted),
          canon AS (SELECT doc_id, host, path, canon_query,
                 'https://' || host || path ||
                 CASE WHEN length(canon_query) > 0
                      THEN '?' || canon_query ELSE '' END AS canon_url
          FROM parsed)"""

  private val sqlToks = "string_split(text, ' ')"

  val oracle: Map[String, String] = Map(
    "text_tokens" ->
      s"""SELECT doc_id,
                 len($sqlToks) AS n_tok,
                 len(list_distinct($sqlToks)) AS n_distinct_tok,
                 length(replace(text, ' ', '')) AS alpha_chars
          FROM documents""",
    "text_quality" ->
      s"""SELECT doc_id,
                 len($sqlToks) AS n_tok,
                 round(len(list_filter($sqlToks, t -> t IN ('the','a')))
                       / len($sqlToks), 6) AS stop_ratio,
                 round(length(replace(text, ' ', '')) / len($sqlToks), 6) AS avg_tok_len,
                 round(least(1.0, len($sqlToks) / 50.0) *
                       (1.0 - len(list_filter($sqlToks, t -> t IN ('the','a')))
                              / len($sqlToks)), 6) AS quality
          FROM documents""",
    "text_langid" ->
      s"""WITH sc AS (
            SELECT doc_id, lang,
                   len(list_filter($sqlToks, t -> t IN ('the','a','of','and')))
                     / len($sqlToks) AS re,
                   len(list_filter($sqlToks, t -> t IN ('el','la','de','y')))
                     / len($sqlToks) AS rs,
                   len(list_filter($sqlToks, t -> t IN ('le','la','et','de')))
                     / len($sqlToks) AS rf
            FROM documents)
          SELECT doc_id, lang, round(re,6) AS s_en, round(rs,6) AS s_es,
                 round(rf,6) AS s_fr,
                 CASE WHEN re >= rs AND re >= rf THEN 'en'
                      WHEN rs >= rf THEN 'es' ELSE 'fr' END AS pred_lang,
                 (CASE WHEN re >= rs AND re >= rf THEN 'en'
                       WHEN rs >= rf THEN 'es' ELSE 'fr' END) = lang AS is_match
          FROM sc""",
    "text_langid_ngram" ->
      """WITH dt AS (
           SELECT doc_id, lang,
                  unnest(list_distinct([substr(text, i, 3)
                                        FOR i IN range(1, len(text) - 1)])) AS tri
           FROM documents),
         prof AS (
           SELECT plang, tri FROM (
             SELECT lang AS plang, tri, COUNT(*) AS df,
                    row_number() OVER (PARTITION BY lang
                      ORDER BY COUNT(*) DESC, tri) AS rk
             FROM dt GROUP BY lang, tri)
           WHERE rk <= 20),
         sc AS (
           SELECT dt.doc_id, prof.plang, COUNT(*) AS overlap
           FROM dt JOIN prof USING (tri) GROUP BY 1, 2),
         best AS (
           SELECT doc_id, plang, overlap FROM (
             SELECT *, row_number() OVER (PARTITION BY doc_id
               ORDER BY overlap DESC, plang) AS rn FROM sc)
           WHERE rn = 1)
         SELECT d.doc_id, d.lang,
                COALESCE(best.plang, 'und') AS pred_lang,
                COALESCE(best.overlap, 0) AS overlap
         FROM documents d LEFT JOIN best USING (doc_id)""",
    "text_langid_sampled" ->
      """WITH dt AS (
           SELECT doc_id, lang,
                  (instr('0123456789abcdef',
                     substr(md5('lid1:' || CAST(doc_id AS VARCHAR)), 1, 1)) - 1) * 16 +
                  (instr('0123456789abcdef',
                     substr(md5('lid1:' || CAST(doc_id AS VARCHAR)), 2, 1)) - 1) AS hv,
                  unnest(list_distinct([substr(text, i, 3)
                                        FOR i IN range(1, len(text) - 1)])) AS tri
           FROM documents),
         prof AS (
           SELECT plang, tri FROM (
             SELECT lang AS plang, tri, COUNT(*) AS df,
                    row_number() OVER (PARTITION BY lang
                      ORDER BY COUNT(*) DESC, tri) AS rk
             FROM dt WHERE hv < 64 GROUP BY lang, tri)
           WHERE rk <= 20),
         sc AS (
           SELECT dt.doc_id, prof.plang, COUNT(*) AS overlap
           FROM dt JOIN prof USING (tri) GROUP BY 1, 2),
         best AS (
           SELECT doc_id, plang, overlap FROM (
             SELECT *, row_number() OVER (PARTITION BY doc_id
               ORDER BY overlap DESC, plang) AS rn FROM sc)
           WHERE rn = 1)
         SELECT d.doc_id, d.lang,
                COALESCE(best.plang, 'und') AS pred_lang,
                COALESCE(best.overlap, 0) AS overlap
         FROM documents d LEFT JOIN best USING (doc_id)""",
    "text_fingerprint" ->
      s"""SELECT doc_id,
                 md5(array_to_string(list_sort(list_distinct($sqlToks)), ' ')) AS fp
          FROM documents""",
    "text_rolling_hash" ->
      """SELECT doc_id,
                CAST(list_reduce([CAST(ascii(c) AS BIGINT)
                                  FOR c IN string_split(text, '')],
                                 (a, b) -> (a*31 + b) % 1000000007) AS BIGINT)
                  AS rhash
         FROM documents""",
    "text_bpe_tokens" ->
      s"""SELECT doc_id,
                 len(regexp_extract_all(text, '${TextOps.BpeishPattern}')) AS n_bpe,
                 len($sqlToks) AS n_ws
          FROM documents""",
    "text_filter_pipeline" ->
      s"""WITH scored AS (
            SELECT doc_id,
                   len($sqlToks) AS n_tok,
                   round(len(list_filter($sqlToks, t -> t IN ('the','a')))
                         / len($sqlToks), 6) AS stop_ratio,
                   round(least(1.0, len($sqlToks) / 50.0) *
                         (1.0 - len(list_filter($sqlToks, t -> t IN ('the','a')))
                                / len($sqlToks)), 6) AS quality,
                   md5(array_to_string(list_sort(list_distinct($sqlToks)), ' ')) AS fp
            FROM documents),
          ranked AS (
            SELECT *, row_number() OVER (PARTITION BY fp ORDER BY doc_id) AS dup_rank
            FROM scored)
          SELECT doc_id, n_tok, quality,
                 CASE WHEN n_tok < 10 THEN 'too_short'
                      WHEN stop_ratio > 0.5 THEN 'stopword_heavy'
                      WHEN quality < 0.3 THEN 'low_quality'
                      WHEN dup_rank > 1 THEN 'duplicate' END AS drop_reason,
                 (CASE WHEN n_tok < 10 THEN 'too_short'
                       WHEN stop_ratio > 0.5 THEN 'stopword_heavy'
                       WHEN quality < 0.3 THEN 'low_quality'
                       WHEN dup_rank > 1 THEN 'duplicate' END IS NULL) AS keep
          FROM ranked""",
    "text_rarity" ->
      s"""WITH tok AS (SELECT doc_id, unnest(list_distinct($sqlToks)) AS t
                       FROM documents),
          df AS (SELECT t, COUNT(*) AS tdf FROM tok GROUP BY t)
          SELECT doc_id, COUNT(*) AS n_distinct_tok,
                 round(CAST(SUM(tdf) AS DOUBLE) / COUNT(*), 6) AS mean_tdf
          FROM tok JOIN df USING (t) GROUP BY doc_id""",
    "text_repetition" ->
      s"""WITH toks AS (SELECT doc_id, $sqlToks AS t FROM documents
                        WHERE len($sqlToks) >= 3),
          g2 AS (SELECT doc_id, array_to_string(t[i:i+1], ' ') AS g, COUNT(*) AS c
                 FROM toks, UNNEST(range(1, len(t))) AS u(i) GROUP BY doc_id, g),
          a2 AS (SELECT doc_id, MAX(c) AS max2, SUM(c) AS n2 FROM g2 GROUP BY doc_id),
          g3 AS (SELECT doc_id, array_to_string(t[i:i+2], ' ') AS g, COUNT(*) AS c
                 FROM toks, UNNEST(range(1, len(t)-1)) AS u(i) GROUP BY doc_id, g),
          a3 AS (SELECT doc_id, SUM(CASE WHEN c > 1 THEN c ELSE 0 END) AS dup3,
                        SUM(c) AS n3 FROM g3 GROUP BY doc_id),
          tk AS (SELECT doc_id, len(t) AS n_tok,
                        len(list_distinct(t)) AS n_distinct FROM toks)
          SELECT tk.doc_id, CAST(n_tok AS BIGINT) AS n_tok,
                 round(1.0 - CAST(n_distinct AS DOUBLE)/n_tok, 6) AS dup_tok_frac,
                 round(CAST(max2 AS DOUBLE)/n2, 6) AS top2_frac,
                 round(CAST(dup3 AS DOUBLE)/n3, 6) AS dup3_frac
          FROM tk JOIN a2 USING (doc_id) JOIN a3 USING (doc_id)""",
    "text_vocab" ->
      s"""WITH f AS (
            SELECT unnest(regexp_extract_all(text, '${TextOps.BpeishPattern}')) AS tok
            FROM documents),
          c AS (SELECT tok, COUNT(*) AS n FROM f GROUP BY tok)
          SELECT tok, n, rank FROM (
            SELECT tok, n, row_number() OVER (ORDER BY n DESC, tok) AS rank FROM c)
          WHERE rank <= 100""",
    "text_chunk_windows" ->
      s"""WITH toks AS (SELECT doc_id, $sqlToks AS t FROM documents),
          st AS (SELECT doc_id, t,
                        unnest(range(0, len(t), $ChunkS)) AS s FROM toks)
          SELECT doc_id,
                 CAST(s / $ChunkS AS BIGINT) AS chunk_id,
                 CAST(s + 1 AS BIGINT) AS start_tok,
                 CAST(len(t[s+1 : s+$ChunkW]) AS BIGINT) AS n_tok,
                 array_to_string(t[s+1 : s+$ChunkW], ' ') AS chunk_text
          FROM st""",
    "text_pii_redact" ->
      s"""WITH planted AS (
            SELECT doc_id, text ||
              CASE WHEN doc_id % 5 = 0
                   THEN ' contact user' || CAST(doc_id AS VARCHAR)
                        || '@example.com now' ELSE '' END ||
              CASE WHEN doc_id % 7 = 0
                   THEN ' call +1415555'
                        || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0')
                   ELSE '' END ||
              CASE WHEN doc_id % 11 = 0
                   THEN ' from 192.168.' || CAST(doc_id % 255 AS VARCHAR)
                        || '.17' ELSE '' END AS text
            FROM documents)
          SELECT doc_id,
                 CAST(len(regexp_extract_all(text, '$PiiEmail'))
                    + len(regexp_extract_all(text, '$PiiPhone'))
                    + len(regexp_extract_all(text, '$PiiIp')) AS BIGINT) AS n_pii,
                 regexp_replace(regexp_replace(regexp_replace(text,
                   '$PiiEmail', '<EMAIL>', 'g'),
                   '$PiiPhone', '<PHONE>', 'g'),
                   '$PiiIp', '<IP>', 'g') AS clean_text
          FROM planted""",

    "text_collocations" ->
      s"""WITH tok AS (SELECT doc_id, $sqlToks AS toks FROM documents),
          census AS (SELECT CAST(SUM(len(toks)) AS BIGINT) AS nt,
                            CAST(SUM(len(toks)) - COUNT(*) AS BIGINT) AS nbg
                     FROM tok),
          uni AS (SELECT u.t AS t, COUNT(*) AS n
                  FROM tok, UNNEST(toks) AS u(t) GROUP BY u.t),
          pair AS (SELECT w1, w2, COUNT(*) AS nab
                   FROM (SELECT toks[p] AS w1, toks[p+1] AS w2
                         FROM tok, UNNEST(range(1, len(toks))) AS u(p))
                   GROUP BY w1, w2
                   HAVING COUNT(*) >= 5)
          SELECT w1, w2, nab,
                 round(CAST(nab AS DOUBLE) * nt * nt /
                       (CAST(a.n AS DOUBLE) * b.n * nbg), 6) AS lift
          FROM pair JOIN uni a ON pair.w1 = a.t
                    JOIN uni b ON pair.w2 = b.t
                    CROSS JOIN census
          ORDER BY lift DESC, w1, w2 LIMIT 100""",
    "text_entropy" ->
      """WITH ch AS (SELECT doc_id, length(text) AS len,
                            unnest(string_split(text, '')) AS c
                     FROM documents),
          cnt AS (SELECT doc_id, c, ANY_VALUE(len) AS len, COUNT(*) AS n
                  FROM ch GROUP BY doc_id, c)
          SELECT doc_id, CAST(ANY_VALUE(len) AS BIGINT) AS n_chars,
                 COUNT(*) AS n_distinct_chars,
                 round(CAST(SUM(CAST(round(-(n/len)*ln(n/len), 9)
                                     AS DECIMAL(12,9))) AS DOUBLE), 6)
                   AS entropy
          FROM cnt GROUP BY doc_id""",
    "text_mojibake" ->
      """WITH planted AS (SELECT doc_id, text ||
            CASE WHEN doc_id % 4 = 0
                 THEN ' br' || chr(65533) || 'ken' ||
                      CASE WHEN doc_id % 8 = 0
                           THEN chr(65533) || chr(65533) ELSE '' END
                 ELSE '' END ||
            CASE WHEN doc_id % 9 = 0 THEN chr(7) || chr(1) ELSE '' END
              AS text
          FROM documents),
          counted AS (SELECT doc_id,
              CAST(length(text) AS BIGINT) AS n_chars,
              CAST(len(regexp_extract_all(text, '\x{FFFD}')) AS BIGINT)
                AS n_replacement,
              CAST(len(regexp_extract_all(text,
                   '[\x00-\x08\x0B\x0C\x0E-\x1F]')) AS BIGINT) AS n_control
            FROM planted)
          SELECT doc_id, n_chars, n_replacement, n_control,
                 round((n_replacement + n_control) / CAST(n_chars AS DOUBLE), 6)
                   AS bad_ratio,
                 round((n_replacement + n_control) / CAST(n_chars AS DOUBLE), 6)
                   < CAST(0.005 AS DOUBLE) AS keep
          FROM counted""",
    "text_url_normalize" ->
      s"""WITH $plantedParsedSql
          SELECT doc_id, host, path, canon_query, canon_url FROM canon""",
    "text_inverted_index" ->
      s"""WITH t AS (SELECT DISTINCT u.t AS token, doc_id
                     FROM documents, UNNEST($sqlToks) AS u(t))
          SELECT token, CAST(COUNT(*) AS BIGINT) AS df,
                 string_agg(CAST(doc_id AS VARCHAR), ',' ORDER BY doc_id)
                   AS postings
          FROM t GROUP BY token""",
    "text_tfidf" ->
      s"""WITH tok AS (SELECT doc_id, u.t AS t
                       FROM documents, UNNEST($sqlToks) AS u(t)),
          tf AS (SELECT doc_id, t, COUNT(*) AS tf FROM tok
                 GROUP BY doc_id, t),
          census AS (SELECT COUNT(*) AS nd FROM documents),
          dfc AS (SELECT t, COUNT(DISTINCT doc_id) AS df FROM tok GROUP BY t),
          w AS (SELECT t, CAST(round(ln(CAST(nd AS DOUBLE) / df), 6)
                               AS DECIMAL(12,6)) AS w
                FROM dfc CROSS JOIN census),
          sc AS (SELECT doc_id, tf.t AS token, tf,
                        CAST(tf * w AS DOUBLE) AS score
                 FROM tf JOIN w ON tf.t = w.t)
          SELECT doc_id, token, CAST(tf AS BIGINT) AS tf, score
          FROM (SELECT *, row_number() OVER (PARTITION BY doc_id
                    ORDER BY score DESC, token) AS rk FROM sc)
          WHERE rk <= 3""",
    "text_heavy_hitters" ->
      s"""WITH tok AS (SELECT u.t AS token
                       FROM documents, UNNEST($sqlToks) AS u(t))
          SELECT token, CAST(COUNT(*) AS BIGINT) AS n,
                 CAST(0 AS BIGINT) AS err
          FROM tok GROUP BY token
          ORDER BY n DESC, token LIMIT 20""",
    "text_normalize" ->
      """WITH planted AS (SELECT doc_id, text ||
            CASE WHEN doc_id % 3 = 0
                 THEN ' Cafe' || chr(769) || ' TABLE' ELSE '' END ||
            CASE WHEN doc_id % 5 = 0
                 THEN ' ' || chr(201) || 'LAN  spaced' || chr(9) || 'out'
                 ELSE '' END AS raw
          FROM documents)
          SELECT doc_id,
                 trim(regexp_replace(lower(nfc_normalize(raw)),
                      '\s+', ' ', 'g')) AS norm_text,
                 nfc_normalize(raw) <> raw AS recomposed,
                 CAST(length(nfc_normalize(raw)) AS BIGINT) AS n_chars_nfc
          FROM planted""",
    "text_perplexity" ->
      s"""WITH tok AS (SELECT doc_id, $sqlToks AS toks FROM documents),
          bg AS (SELECT doc_id, toks[p] AS w1, toks[p+1] AS w2
                 FROM tok, UNNEST(range(1, len(toks))) AS u(p)),
          docbg AS (SELECT doc_id, w1, w2, COUNT(*) AS k
                    FROM bg GROUP BY doc_id, w1, w2),
          model AS (SELECT w1, w2, COUNT(*) AS nab FROM bg GROUP BY w1, w2),
          uni AS (SELECT u.t AS t, COUNT(*) AS n
                  FROM tok, UNNEST(toks) AS u(t) GROUP BY u.t),
          census AS (SELECT COUNT(*) AS v FROM uni)
          SELECT doc_id, CAST(SUM(k) AS BIGINT) AS n_bigrams,
                 round(CAST(SUM(CAST(round(-ln((nab + 1.0) / (n + v)), 9)
                                     AS DECIMAL(12,9)) * k) AS DOUBLE)
                       / SUM(k), 6) AS avg_nll
          FROM docbg
          JOIN model USING (w1, w2)
          JOIN uni ON docbg.w1 = uni.t
          CROSS JOIN census
          GROUP BY doc_id""",
    "text_perplexity_kn" ->
      s"""WITH tok AS (SELECT doc_id, $sqlToks AS toks FROM documents),
          bg AS (SELECT doc_id, toks[p] AS w1, toks[p+1] AS w2
                 FROM tok, UNNEST(range(1, len(toks))) AS u(p)),
          docbg AS (SELECT doc_id, w1, w2, COUNT(*) AS k
                    FROM bg GROUP BY doc_id, w1, w2),
          model AS (SELECT w1, w2, COUNT(*) AS nab FROM bg GROUP BY w1, w2),
          ctx AS (SELECT w1, CAST(SUM(nab) AS BIGINT) AS c1,
                         COUNT(*) AS n1f
                  FROM model GROUP BY w1),
          pre AS (SELECT w2, COUNT(*) AS n1p FROM model GROUP BY w2),
          types AS (SELECT COUNT(*) AS nt FROM model)
          SELECT doc_id, CAST(SUM(k) AS BIGINT) AS n_bigrams,
                 round(CAST(SUM(CAST(round(-ln(
                     (greatest(CAST(nab AS DOUBLE) - 0.75, 0.0)
                      + 0.75 * CAST(n1f AS DOUBLE) * CAST(n1p AS DOUBLE)
                        / CAST(nt AS DOUBLE))
                     / CAST(c1 AS DOUBLE)), 9)
                   AS DECIMAL(12,9)) * k) AS DOUBLE)
                       / SUM(k), 6) AS avg_nll
          FROM docbg
          JOIN model USING (w1, w2)
          JOIN ctx USING (w1)
          JOIN pre USING (w2)
          CROSS JOIN types
          GROUP BY doc_id""",
    "text_quality_classifier" -> {
      // unrolled full-batch GD: one CTE per iteration, each reading
      // the previous weight row (renamed pb/pc* to dodge lateral-alias
      // ambiguity) — the same 9dp-rounded DECIMAL gradient sums and
      // 6dp weight rounds as the Spark driver loop, op for op
      val sig = "1/(1+exp(-(pb + pc1*x1 + pc2*x2 + pc3*x3)))"
      // mean gradient component: 9dp-rounded per-row terms, exact
      // DECIMAL sum, one double division — matches the Spark agg
      def gsum(x: String) = {
        val t = if (x.isEmpty) s"(y - $sig)" else s"(y - $sig)*$x"
        s"CAST(SUM(CAST(round($t, 9) AS DECIMAL(20,9))) AS DOUBLE) / COUNT(*)"
      }
      def prev(i: Int, alias: String) =
        s"(SELECT b AS pb, c1 AS pc1, c2 AS pc2, c3 AS pc3 FROM w$i) $alias"
      // two CTEs per iteration: the aggregate-only gradient row, then
      // the weight update (a non-aggregated weight column cannot sit
      // next to SUMs in one SELECT)
      val iters = (1 to ClfIters).map { i =>
        s"""g$i AS (SELECT ${gsum("")} AS gb, ${gsum("x1")} AS g1,
                           ${gsum("x2")} AS g2, ${gsum("x3")} AS g3
                    FROM f, ${prev(i - 1, s"pg$i")}),
            w$i AS (SELECT round(pb + gb, 6) AS b, round(pc1 + g1, 6) AS c1,
                           round(pc2 + g2, 6) AS c2, round(pc3 + g3, 6) AS c3
                    FROM g$i, ${prev(i - 1, s"pw$i")})"""
      }.mkString(",\n")
      s"""WITH f AS (SELECT doc_id,
                 CASE WHEN lang = 'en' THEN 1.0 ELSE 0.0 END AS y,
                 len($sqlToks) / 100.0 AS x1,
                 len(list_filter($sqlToks, t -> t IN ('the','a')))
                   / len($sqlToks) AS x2,
                 length(replace(text, ' ', '')) / len($sqlToks) / 10.0 AS x3
               FROM documents),
          w0 AS (SELECT CAST(0.0 AS DOUBLE) AS b, CAST(0.0 AS DOUBLE) AS c1,
                        CAST(0.0 AS DOUBLE) AS c2, CAST(0.0 AS DOUBLE) AS c3),
          $iters,
          scored AS (SELECT doc_id, y, round($sig, 6) AS p
                     FROM f, ${prev(ClfIters, "pwf")})
          SELECT doc_id, y, p, p >= 0.5 AS pred FROM scored"""
    },
    "text_bm25" ->
      s"""WITH terms(t) AS (VALUES ('scan'), ('merge'), ('hash'), ('batch')),
          dl AS (SELECT doc_id, len($sqlToks) AS dl FROM documents),
          census AS (SELECT COUNT(*) AS nd, CAST(SUM(dl) AS BIGINT) AS sdl
                     FROM dl),
          hits AS (SELECT doc_id, u.t
                   FROM documents, UNNEST($sqlToks) AS u(t)
                   WHERE u.t IN (SELECT t FROM terms)),
          dfc AS (SELECT t, COUNT(DISTINCT doc_id) AS df FROM hits GROUP BY t),
          idf AS (SELECT t,
                    CAST(round(ln(1.0 +
                      (CAST(nd AS DOUBLE) - CAST(df AS DOUBLE) + 0.5) /
                        (CAST(df AS DOUBLE) + 0.5)), 6) AS DECIMAL(12,6)) AS idf
                  FROM dfc CROSS JOIN census),
          tf AS (SELECT doc_id, t, COUNT(*) AS tf FROM hits GROUP BY doc_id, t),
          sc AS (SELECT tf.doc_id,
                   CAST(floor(CAST(idf AS DOUBLE) *
                     ((CAST(tf AS DOUBLE) * CAST(2.2 AS DOUBLE)) /
                      (CAST(tf AS DOUBLE) + CAST(1.2 AS DOUBLE) *
                       (CAST(0.25 AS DOUBLE) + CAST(0.75 AS DOUBLE) *
                        (CAST(dl AS DOUBLE) /
                         (CAST(sdl AS DOUBLE) / CAST(nd AS DOUBLE)))))) *
                     1e6 + 0.5) AS BIGINT) AS c_micro
                 FROM tf JOIN idf USING (t) JOIN dl USING (doc_id)
                 CROSS JOIN census),
          agg AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_terms,
                         CAST(SUM(c_micro) AS BIGINT) AS score_micro
                  FROM sc GROUP BY doc_id)
          SELECT doc_id, n_terms, score_micro, rk
          FROM (SELECT *, row_number() OVER (ORDER BY score_micro DESC, doc_id)
                  AS rk FROM agg)
          WHERE rk <= 10"""
  )
}
