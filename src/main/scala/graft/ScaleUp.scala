package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Derive a larger scale-factor dataset from an existing one by
  * replicating every table `factor` times with shifted keys — the
  * scale-rehearsal harness (the driver only generates up to sf0.1;
  * 128 GiB of local RAM can hold a 10x derivation comfortably).
  *
  * Shape contracts preserved per replica:
  *  - every FK keeps its join partner (all key columns of a relation
  *    family shift by the same replica stride = max(key)+1 of the
  *    source), so join fan-outs and group sizes scale linearly;
  *  - dims (region, nation) stay fixed — exactly how a real corpus
  *    grows (facts 10x, vocabularies ~constant);
  *  - `documents.text` gets a per-replica token suffix for i>0,
  *    shifting EVERY shingle: the duplicate RATE stays constant
  *    instead of each dup cluster growing 10x (which would blow pair
  *    outputs quadratically and measure output explosion, not scan
  *    scaling);
  *  - `events.ts` keeps the source encoding (ns-as-long or µs
  *    timestamp — the Tables.events loader branches on the schema);
  *  - `embeddings.embedding` gets a tiny first-component nudge per
  *    replica so replicas are near but not exact neighbors.
  *
  * Usage: ScaleUp <srcDir> <outDir> [factor=10]
  *        [mode=fixed|vocab|zipf|zipfdoc]
  *
  * `vocab` mode additionally scales the documents token VOCABULARY
  * with the corpus (suffix = replica + doc_id%256, so distinct
  * tokens ~ 31 x factor x 256 instead of 31 x factor): replica 0
  * keeps the original heavy tokens while replicas i>0 contribute a
  * long tail of rare tokens, which pushes the sketch family
  * (SpaceSaving, KMV, HLL) out of its exact/under-capacity regime —
  * the stress the fixed-vocab rehearsal can never produce (31 x 30
  * = 930 < k = 4096 even at 30x).
  *
  * `zipf` mode re-routes a harmonic (zipf s=1) HEAD of the fact keys
  * onto a few hot existing keys after replication — the root-taxon /
  * mega-entry shape that melts the reference's per-entry xref pass
  * (interpro/xrefs/entries.py:387-407; SURVEY §4.6). Head masses are
  * sized by what the key feeds:
  *  - `orders.o_custkey` 50% head over 8 keys (hot1 ~18% of all
  *    orders): every consumer is LINEAR in the hot-key rows (equi
  *    joins, lineage-rollup explode, window partitionBy o_custkey),
  *    so the skew stresses shuffle placement, not output size;
  *  - `lineitem.l_orderkey` 0.18% head (hot1 ~4k rows vs ~4 uniform,
  *    a 1000x group-size skew): its consumers are QUADRATIC
  *    (join_self_pairs, per-order part-set pair expansion), so the
  *    head is capped where hot1² stays ~8M pairs — bigger heads
  *    measure output explosion, not skew handling;
  *  - `lineitem.l_partkey` 30% head: feeds only broadcast joins and
  *    (pa,pb)-keyed aggregations — demonstrates that broadcast-hash
  *    plans are skew-immune (no shuffle by the hot key at all);
  *  - `events.user_id` 20% head (hot1 ~7% of events): per-user
  *    window sorts and streaming state see one mega-user.
  * Draws are pmod(hash(stable ids, salt), 1e6) — deterministic, no
  * RNG; redirect targets are existing replica-0 keys so every FK
  * stays valid and the oracle SQL still runs on the skewed dirs.
  *
  * `zipfdoc` mode skews CONTENT, not keys — the two LLM-pipeline hot
  * shapes the key-side zipf cannot produce (r14 verdict item 2):
  *  - documents: 15% of the replicated corpus collapses onto ONE
  *    template (a 36-token body shared verbatim, plus two trailing
  *    doc-specific tokens in 320 variants — near-duplicates, not
  *    exact): every LSH band bucket of the template holds ~15% of
  *    the corpus, the minhash-signature groupBy gets one mega-group,
  *    and dedup_components receives a single giant component whose
  *    min-label propagation must converge without frontier blow-up;
  *  - embeddings: 15% of vectors re-base onto one point (base +
  *    1e-5-scale per-(vec_id, dim) hash jitter), so k-means plants a
  *    centroid there and ONE IVF cell holds 15% of the corpus —
  *    the hot-cell stress for cell-blocked joins (ann_ivf*,
  *    dedup_semantic, sample_diverse) and for int8 shortlist probes.
  *  Fact keys replicate exactly as `fixed` (content skew isolated
  *  from key skew, so regressions attribute cleanly).
  */
object ScaleUp {
  def main(args: Array[String]): Unit = {
    val src = args.headOption.getOrElse("/root/testdata/sf0.1")
    val out = args.lift(1).getOrElse("/root/repo/target/sf1")
    val factor = args.lift(2).map(_.toInt).getOrElse(10)
    val mode = args.lift(3).getOrElse("fixed")
    require(Set("fixed", "vocab", "zipf", "zipfdoc")(mode),
      s"mode must be fixed|vocab|zipf|zipfdoc, got $mode")
    val vocabMode = mode == "vocab"
    val zipfMode = mode == "zipf"
    val zipfDocMode = mode == "zipfdoc"
    // nanosAsLong: copy a TIMESTAMP(NANOS) events column through as the
    // raw long it is stored as, so the replicas keep the source encoding
    val spark = SparkLocal.session(src,
      extra = Seq("spark.sql.legacy.parquet.nanosAsLong" -> "true"))

    def stride(df: DataFrame, key: String): Long =
      df.agg(max(col(key))).head.getLong(0) + 1

    def replicate(df: DataFrame, shifts: Map[String, Long],
                  perReplica: (DataFrame, Int) => DataFrame = (d, _) => d)
    : DataFrame =
      (0 until factor).map { i =>
        val shifted = shifts.foldLeft(df) { case (d, (k, s)) =>
          d.withColumn(k, col(k) + lit(i * s))
        }
        perReplica(shifted, i)
      }.reduce(_ unionAll _)

    /** The `n` smallest existing keys of `df.key` — zipf redirect
      * targets must be real rows so FKs survive the re-route. */
    def smallestKeys(df: DataFrame, key: String, n: Int): Seq[Long] =
      df.select(col(key)).distinct().orderBy(col(key)).limit(n)
        .collect().map(_.getLong(0)).toSeq

    /** Re-route a harmonic head of rows onto `hot` keys: hot(k)
      * (1-based) receives headPpm/(H_n·k) ppm of ALL rows — a zipf
      * s=1 law over the head; the remaining rows keep their original
      * key. The draw hashes the row's stable id columns plus a
      * per-redirect salt (two redirects on one table must not
      * correlate, or the hot order's lineitems would all collapse
      * onto the hot parts and its part-SET would stay tiny). */
    def zipfHead(df: DataFrame, key: String, hot: Seq[Long], headPpm: Int,
                 salt: String, idCols: Seq[String]): DataFrame = {
      val hN = (1 to hot.size).map(1.0 / _).sum
      val cum = hot.indices.map(k => (1 to k + 1)
        .map(j => math.round(headPpm / (hN * j))).sum)
      val draw = pmod(hash(idCols.map(col) :+ lit(salt): _*), lit(1000000))
      val routed = hot.zip(cum).foldRight(col(key)) {
        case ((hk, c), tail) => when(draw < lit(c.toInt), lit(hk)).otherwise(tail)
      }
      df.withColumn(key, routed.cast(df.schema(key).dataType))
    }

    def write(name: String, df: DataFrame): Unit = {
      df.write.mode("overwrite").parquet(s"$out/$name.parquet")
      println(s"$name: ${spark.read.parquet(s"$out/$name.parquet").count()} rows")
    }

    val customer = spark.read.parquet(s"$src/customer.parquet")
    val supplier = spark.read.parquet(s"$src/supplier.parquet")
    val part = spark.read.parquet(s"$src/part.parquet")
    val orders = spark.read.parquet(s"$src/orders.parquet")
    val lineitem = spark.read.parquet(s"$src/lineitem.parquet")
    val events = spark.read.parquet(s"$src/events.parquet")
    val documents = spark.read.parquet(s"$src/documents.parquet")
    val embeddings = spark.read.parquet(s"$src/embeddings.parquet")

    val custS = stride(customer, "c_custkey")
    val suppS = stride(supplier, "s_suppkey")
    val partS = stride(part, "p_partkey")
    val ordS = stride(orders, "o_orderkey")

    // dims stay fixed
    spark.read.parquet(s"$src/region.parquet")
      .write.mode("overwrite").parquet(s"$out/region.parquet")
    spark.read.parquet(s"$src/nation.parquet")
      .write.mode("overwrite").parquet(s"$out/nation.parquet")

    write("customer", replicate(customer, Map("c_custkey" -> custS)))
    write("supplier", replicate(supplier, Map("s_suppkey" -> suppS)))
    write("part", replicate(part, Map("p_partkey" -> partS)))
    val ordersRep = replicate(orders,
      Map("o_orderkey" -> ordS, "o_custkey" -> custS))
    write("orders",
      if (!zipfMode) ordersRep
      else zipfHead(ordersRep, "o_custkey",
        smallestKeys(customer, "c_custkey", 8), 500000, "oc",
        Seq("o_orderkey")))
    val liRep = replicate(lineitem,
      Map("l_orderkey" -> ordS, "l_partkey" -> partS, "l_suppkey" -> suppS))
    write("lineitem",
      if (!zipfMode) liRep
      else {
        // l_partkey redirect FIRST: it salts on l_orderkey, so it must
        // see the PRE-rewrite (stable) orderkey — hashing the
        // post-redirect value would collapse hot-order lineitems'
        // part draws onto (l_linenumber, l_suppkey) entropy, the exact
        // cross-redirect correlation the salt exists to prevent. The
        // l_orderkey redirect never reads l_partkey, so its draws stay
        // functions of stable ids either way.
        val hotParts = zipfHead(liRep, "l_partkey",
          smallestKeys(part, "p_partkey", 8), 300000, "lp",
          Seq("l_orderkey", "l_linenumber", "l_suppkey"))
        zipfHead(hotParts, "l_orderkey",
          smallestKeys(orders, "o_orderkey", 8), 1800, "lo",
          Seq("l_orderkey", "l_linenumber", "l_suppkey"))
      })
    val eventsRep = replicate(events,
      Map("event_id" -> stride(events, "event_id"),
          "user_id" -> stride(events, "user_id")))
    write("events",
      if (!zipfMode) eventsRep
      else zipfHead(eventsRep, "user_id",
        smallestKeys(events, "user_id", 8), 200000, "eu",
        Seq("event_id")))
    val docsRep = replicate(documents,
      Map("doc_id" -> stride(documents, "doc_id")),
      (d, i) =>
        if (i == 0) d
        else {
          val suffixed =
            if (vocabMode)
              // vocab ~ corpus size: every (replica, doc_id%256) pair
              // mints its own 31-token dialect
              d.withColumn("text", regexp_replace(col("text"),
                lit("(\\S+)"), concat(lit("$1" + i.toString + "v"),
                  pmod(col("doc_id"), lit(256)).cast("string"))))
            else
              d.withColumn("text",
                regexp_replace(col("text"), "(\\S+)", "$1" + i.toString))
          suffixed.withColumn("n_chars", length(col("text")).cast("long"))
        })
    write("documents",
      if (!zipfDocMode) docsRep
      else {
        // the mega near-dup cluster: one 36-token body shared by 15%
        // of the corpus, two trailing tokens in 320 deterministic
        // variants keep the members NEAR- rather than exact duplicates
        val template = "alpha beta gamma delta epsilon zeta eta theta " +
          "iota kappa lambda mu nu xi omicron pi rho sigma tau upsilon " +
          "phi chi psi omega aleph beth gimel daleth he waw zayin heth " +
          "teth yodh kaph lamedh"
        docsRep
          .withColumn("text",
            when(pmod(hash(col("doc_id"), lit("zd")), lit(1000000))
                < lit(150000),
              concat(lit(template),
                lit(" var"),
                pmod(hash(col("doc_id"), lit("zdm")), lit(5))
                  .cast("string"),
                lit(" tail"),
                pmod(col("doc_id"), lit(64)).cast("string")))
              .otherwise(col("text")))
          .withColumn("n_chars", length(col("text")).cast("long"))
      })
    val embRep = replicate(embeddings,
      Map("vec_id" -> stride(embeddings, "vec_id")),
      (d, i) =>
        if (i == 0) d
        else d.withColumn("embedding", transform(col("embedding"),
          (x, j) => when(j === 0, (x + lit(i * 0.001f)).cast("float"))
            .otherwise(x))))
    write("embeddings",
      if (!zipfDocMode) embRep
      else
        // the hot IVF cell: 15% of vectors re-base onto one point,
        // with 1e-5-scale per-(vec_id, dim) hash jitter so members
        // are near-identical (one k-means centroid claims them all)
        // but not bit-equal
        embRep.withColumn("embedding",
          when(pmod(hash(col("vec_id"), lit("ze")), lit(1000000))
              < lit(150000),
            transform(col("embedding"), (_, j) =>
              (lit(0.25f) + j.cast("float") * lit(0.005f) +
                pmod(hash(col("vec_id"), j), lit(1000)).cast("float") *
                  lit(1e-5f)).cast("float")))
            .otherwise(col("embedding"))))

    spark.stop()
  }
}
