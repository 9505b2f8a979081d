package graft.harness

import graft.Tables
import graft.ops.{RelOps, TextOps}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType
import graft.ops.Loops.LoopOps

/** Aggregation operators (SURVEY.md §2.4 A1-A15). The reference's
  * KVStoreBuilder shuffle/spill/reduce and recursive dict merges all map
  * to Spark hash aggregation with automatic partial (map-side) combine.
  * Collected lists are sorted + stringified so the DuckDB comparison is
  * order-insensitive and exact.
  */
object AggQueries {
  type Q = (SparkSession, String) => DataFrame

  private def dec2(c: Column) = c.cast(DecimalType(12, 2))

  val queries: Map[String, Q] = Map(
    // A1: group-by-key + collect + reduce (KVStoreBuilder.build(apply=...),
    // utils/store.py:280-359). Sorted list → string for exact compare.
    "agg_group_collect" -> ((s, d) =>
      Tables.lineitem(s, d)
        .groupBy(col("l_orderkey"))
        .agg(concat_ws(",",
          transform(sort_array(collect_list(col("l_partkey"))),
            x => x.cast("string"))).as("parts"),
          count(lit(1)).as("n_items"))),

    // A3: conditional counts (proteins-per-db via seen-sets,
    // interpro/xrefs/taxa.py:51-73).
    "agg_conditional_count" -> ((s, d) =>
      Tables.lineitem(s, d)
        .groupBy(col("l_returnflag"))
        .agg(count(lit(1)).as("n"),
          sum(when(col("l_quantity") > 30, 1).otherwise(0)).as("n_hi_qty"),
          countDistinct(col("l_orderkey")).as("n_orders"),
          sum(col("l_quantity")).as("sum_qty"))),

    // A4: exact distinct-set aggregation (proteomes/taxa sets per entry,
    // interpro/xrefs/clans.py:46-81).
    "agg_distinct_set" -> ((s, d) =>
      Tables.customer(s, d)
        .groupBy(col("c_nationkey"))
        .agg(countDistinct(col("c_mktsegment")).as("n_segments"),
          concat_ws(",", sort_array(collect_set(col("c_mktsegment")))).as("segments"))),

    // A5: grouped argmin with a total order (oldest protein per domain
    // organisation, interpro/xrefs/domorgs.py:63-91) — min_by over a
    // struct gives lexicographic (price, key) ordering, so ties are
    // deterministic.
    "agg_argmin" -> ((s, d) =>
      Tables.orders(s, d)
        .groupBy(col("o_custkey"))
        .agg(min_by(col("o_orderkey"),
               struct(col("o_totalprice"), col("o_orderkey"))).as("cheapest"),
          min(col("o_totalprice")).as("min_price"))),

    // A7: per-group sorted list of records (locations sorted by
    // (start,end), interpro/oracle/matches.py:371-374).
    "agg_sorted_list" -> ((s, d) =>
      Tables.lineitem(s, d)
        .groupBy(col("l_orderkey"))
        .agg(concat_ws(";",
          transform(
            sort_array(collect_list(struct(col("l_linenumber"), col("l_partkey")))),
            r => concat_ws(":", r("l_linenumber").cast("string"),
                                r("l_partkey").cast("string")))).as("lines"))),

    // A8: min-per-pair (clan links keep min e-value per (query,target),
    // interpro/oracle/clans.py:113-126).
    "agg_min_pair" -> ((s, d) =>
      Tables.lineitem(s, d)
        .groupBy(col("l_partkey"), col("l_suppkey"))
        .agg(min(col("l_extendedprice")).as("min_price"),
             count(lit(1)).as("n"))),

    // A9: multi-level nested aggregation (taxon→db→entry counts,
    // interpro/xrefs/taxa.py:44-123): inner groupBy then per-key sorted
    // "k:v" map rendering (MapType internally; stringified for compare).
    "agg_nested_map" -> ((s, d) => {
      val inner = Tables.customer(s, d)
        .groupBy(col("c_nationkey"), col("c_mktsegment"))
        .agg(count(lit(1)).as("n"))
      inner.groupBy(col("c_nationkey"))
        .agg(concat_ws(",",
          sort_array(collect_list(
            concat(col("c_mktsegment"), lit(":"), col("n").cast("string")))))
          .as("seg_counts"))
    }),

    // A10: hierarchical rollup over a precomputed lineage
    // (per-taxon counts propagated to all ancestors,
    // interpro/xrefs/taxa.py:195-260): explode lineage + one shuffle.
    "agg_rollup_lineage" -> ((s, d) => {
      val o = Tables.orders(s, d); val c = Tables.customer(s, d)
      val n = Tables.nation(s, d)
      val fact = o.join(c, o("o_custkey") === c("c_custkey"))
        .join(broadcast(n), c("c_nationkey") === n("n_nationkey"))
        .withColumn("lineage", array(
          concat(lit("R"), col("n_regionkey").cast("string")),
          concat(lit("N"), col("c_nationkey").cast("string")),
          concat(lit("C"), col("c_custkey").cast("string"))))
      RelOps.lineageRollup(fact, col("lineage"),
        Seq(count(lit(1)).as("n_orders"),
          sum(dec2(col("o_totalprice"))).cast("double").as("total")))
    }),

    // A11/K5: tree-construction aggregation — build a JSON hierarchy
    // (region → nations with counts) entirely inside group
    // aggregations, the shape of the reference's per-entry taxonomy
    // distribution tree (interpro/xrefs/entries.py:349-466). JSON is
    // string-built so both engines render byte-identically.
    "agg_tree_json" -> ((s, d) => {
      val counts = Tables.customer(s, d)
        .groupBy(col("c_nationkey")).agg(count(lit(1)).as("cnt"))
      val n = Tables.nation(s, d)
      val r = Tables.region(s, d)
      counts
        .join(broadcast(n), col("c_nationkey") === n("n_nationkey"))
        .join(broadcast(r), n("n_regionkey") === r("r_regionkey"))
        .select(col("r_name"),
          concat(lit("{\"name\":\""), col("n_name"), lit("\",\"n\":"),
            col("cnt").cast("string"), lit("}")).as("nj"), col("n_name"))
        .groupBy(col("r_name"))
        .agg(concat(lit("{\"name\":\""), col("r_name"), lit("\",\"children\":["),
          concat_ws(",", transform(
            sort_array(collect_list(struct(col("n_name"), col("nj")))),
            x => x("nj"))),
          lit("]}")).as("tree"))
    }),

    // K5 (full): 8-rank placeholder taxonomy distribution tree
    // (interpro/xrefs/entries.py:349-466). Taxa synthesized from
    // region(domain) → nation(phylum) → customer(genus|species by
    // custkey%3) leave the kingdom/class/order/family slots empty, so
    // the placeholder-id chaining and species counting are exercised;
    // entries come from orders. The Spark side runs the generic
    // lineage-closure + rank-pivot + bottom-up-assembly operator; the
    // oracle rebuilds the same trees with static joins.
    "agg_tree_ranks" -> ((s, d) => {
      val taxa = SharedFrames.taxaDims(s, d)
      // entry-cardinality knob (spark.graft.treeEntries, default 7 =
      // the oracle-pinned census shape): the final assembly stage is
      // GROUP-BOUND at synthetic SF (7 entry groups ≤ cores), which is
      // the named cause of the flat 8→32-core row in SCALE.md. At
      // production entry counts (InterPro ships ~40k entries) the
      // stage parallelizes with the data — the knob lets the scaling
      // drill MEASURE that instead of arguing it (JAVA_TOOL_OPTIONS=
      // -Dspark.graft.treeEntries=4096 SPARK_GRAFT_DRILL=1 tools/run.sh
      // graft.WarmBench <sfDir> agg_tree_ranks). The DuckDB oracle pins
      // the default; the drill compares wall-clock, not rows. The knob
      // is honored ONLY under the explicit drill switch
      // (SPARK_GRAFT_DRILL=1): a declared query must compute exactly
      // what oracle_sql.json states, so a stray session conf must not
      // be able to silently change its result (r17 verdict nit #3).
      val entries =
        if (sys.env.contains("SPARK_GRAFT_DRILL"))
          scala.util.Try(
            s.conf.get("spark.graft.treeEntries").toInt).getOrElse(7)
        else 7
      val hits = Tables.orders(s, d)
        .groupBy(concat(lit("IPR"),
            (col("o_orderkey") % entries).cast("string")).as("entry"),
          concat(lit("C"), col("o_custkey").cast("string")).as("taxon_id"))
        .agg(count(lit(1)).as("n"))
      graft.ops.TaxaTree.entryRankTrees(hits, taxa,
        closure = Some(SharedFrames.taxaLineage(s, d)))
    }),

    // A12: filtered agg with fallback regroup (EC kept if support ≥
    // thresholds else re-tested on the 3-digit stem,
    // interpro/xrefs/entries.py:520-551). Groups with ≥12% share pass at
    // the fine level; failed rows regroup to the coarse level (flag).
    "agg_having_regroup" -> ((s, d) => {
      val li = Tables.lineitem(s, d)
      val fine = li.groupBy(col("l_returnflag"), col("l_linestatus"))
        .agg(count(lit(1)).as("n"), sum(col("l_quantity")).as("sum_qty"))
      val total = li.agg(count(lit(1)).as("total"))
      val withShare = fine.crossJoin(broadcast(total))
      val pass = withShare.filter(col("n") >= col("total") * 0.12)
        .select(concat(col("l_returnflag"), lit("/"), col("l_linestatus")).as("grp"),
          lit("fine").as("lvl"), col("n"), col("sum_qty"))
      val coarse = withShare.filter(col("n") < col("total") * 0.12)
        .groupBy(col("l_returnflag"))
        .agg(sum(col("n")).as("n"), sum(col("sum_qty")).as("sum_qty"))
        .select(col("l_returnflag").as("grp"), lit("coarse").as("lvl"),
          col("n"), col("sum_qty"))
      pass.unionByName(coarse)
    }),

    // A13: global multi-metric release stats
    // (interpro/mysql/databases.py:122-186).
    "agg_release_stats" -> ((s, d) =>
      Tables.lineitem(s, d).agg(
        count(lit(1)).as("n_li"),
        countDistinct(col("l_orderkey")).as("n_orders"),
        countDistinct(col("l_partkey")).as("n_parts"),
        sum(when(col("l_returnflag") === "R", 1).otherwise(0)).as("n_returned"),
        sum(dec2(col("l_extendedprice"))).cast("double").as("gross"))),

    // Cross-release diff (release notes, interpro/mysql/databases.py:
    // 188-295): current vs previous snapshot per member database —
    // signature/integrated counts, the recently-integrated accession
    // list (anti-join against the previous release's integrated set),
    // is_new (database absent before) and is_updated (version bumped).
    // Snapshots are derived deterministically from part: the previous
    // release lacks every 10th accession and one whole brand, and uses
    // a stricter integration cutoff, so all four diff facets are
    // exercised. One shuffle per snapshot aggregate + one anti-join.
    "agg_release_diff" -> ((s, d) => {
      val cur = Tables.part(s, d).select(col("p_partkey").as("acc"),
        col("p_brand").as("db"), (col("p_size") > 25).as("integ"))
      val prev = Tables.part(s, d)
        .filter(col("p_partkey") % 10 =!= 0 && col("p_brand") =!= "Brand#25")
        .select(col("p_partkey").as("acc"), col("p_brand").as("db"),
          (col("p_size") > 30).as("integ"))
      val prevDb = prev.groupBy(col("db"))
        .agg((max(col("acc")) % 97).cast("long").as("prev_version"))
      val recent = cur.filter(col("integ"))
        .join(prev.filter(col("integ")).select(col("acc")), Seq("acc"), "left_anti")
        .groupBy(col("db"))
        .agg(count(lit(1)).as("n_recent"),
          concat_ws(",", transform(array_sort(collect_list(col("acc"))),
            _.cast("string"))).as("recently_integrated"))
      cur.groupBy(col("db"))
        .agg((max(col("acc")) % 97).cast("long").as("version"),
          count(lit(1)).as("signatures"),
          sum(when(col("integ"), 1L).otherwise(0L)).as("n_integrated"))
        .join(recent, Seq("db"), "left_outer")
        .join(prevDb, Seq("db"), "left_outer")
        .select(col("db"), col("version"), col("signatures"),
          col("n_integrated"),
          coalesce(col("n_recent"), lit(0L)).as("n_recent"),
          coalesce(col("recently_integrated"), lit("")).as("recently_integrated"),
          col("prev_version").isNull.as("is_new"),
          (col("prev_version").isNotNull &&
            col("prev_version") =!= col("version")).as("is_updated"))
    }),

    // Clan graph document assembly (interpro/oracle/clans.py:110-162):
    // nodes = clan members with their score; links = min-evalue
    // reduction over same-clan alignment pairs, expanded through
    // RelOps.orderedPairs (in-array under the skew cap, posexplode
    // self-join above it), then both halves stringified to the
    // reference's {"nodes":[...],"links":[...]} shape. Clans are
    // supplier nations; alignments are co-supplied parts.
    "agg_clan_graph" -> ((s, d) => {
      val sup = Tables.supplier(s, d).select(
        col("s_nationkey").as("clan"), col("s_suppkey").as("acc"),
        col("s_name").as("sname"), dec2(col("s_acctbal")).as("score"))
      val nodes = sup.groupBy(col("clan")).agg(
        array_join(transform(array_sort(collect_list(struct(col("acc"),
          concat(lit("{\"accession\":"), col("acc").cast("string"),
            lit(",\"short_name\":\""), col("sname"),
            lit("\",\"type\":\"entry\",\"score\":"), col("score").cast("string"),
            lit("}")).as("js")))), x => x("js")), ",").as("nodes"))
      val hits = Tables.lineitem(s, d)
        .join(broadcast(Tables.supplier(s, d)
          .select(col("s_suppkey"), col("s_nationkey").as("clan"))),
          col("l_suppkey") === col("s_suppkey"))
        .groupBy(col("l_partkey"), col("clan"), col("l_suppkey"))
        .agg(min(dec2(col("l_extendedprice"))).as("p"))
      val sets = hits.groupBy(col("l_partkey"), col("clan"))
        .agg(array_sort(collect_list(struct(col("l_suppkey").as("k"),
          col("p")))).as("ms"))
      val links = RelOps.orderedPairs(sets, Seq("l_partkey", "clan"), "ms")
        .groupBy(col("clan"), col("pa.k").as("source"), col("pb.k").as("target"))
        .agg(min(col("pa.p") + col("pb.p")).as("ev"))
        .groupBy(col("clan")).agg(
          array_join(transform(array_sort(collect_list(struct(col("source"),
            col("target"),
            concat(lit("{\"source\":"), col("source").cast("string"),
              lit(",\"target\":"), col("target").cast("string"),
              lit(",\"score\":"), col("ev").cast("string"),
              lit("}")).as("js")))), x => x("js")), ",").as("links"))
      nodes.join(links, Seq("clan"), "left_outer")
        .select(col("clan"),
          concat(lit("{\"nodes\":["), col("nodes"), lit("],\"links\":["),
            coalesce(col("links"), lit("")), lit("]}")).as("graph"))
    }),

    // A14: histogram (entries-per-type, interpro/mysql/databases.py:251-254).
    "agg_histogram" -> ((s, d) =>
      Tables.orders(s, d).groupBy(col("o_orderpriority"))
        .agg(count(lit(1)).as("n"))),

    // Grouped mode (most frequent value, ties to the smallest value —
    // the deterministic form; engine mode()/any_value() tie behavior
    // is not portable): one count agg + one row_number window, both
    // clustered on the group key.
    "agg_mode" -> ((s, d) => {
      import org.apache.spark.sql.expressions.Window
      Tables.customer(s, d)
        .groupBy(col("c_nationkey"), col("c_mktsegment"))
        .agg(count(lit(1)).as("n"))
        .withColumn("rk", row_number().over(
          Window.partitionBy(col("c_nationkey"))
            .orderBy(col("n").desc, col("c_mktsegment"))))
        .filter(col("rk") === 1)
        .select(col("c_nationkey"), col("c_mktsegment").as("mode_segment"),
          col("n").as("n_mode"))
    }),

    // Exact per-group quantiles by explicit rank selection: the p-th
    // quantile is the value at rank ceil(p·n), computed as one sorted
    // window per group — no interpolation and no sketch, so both
    // engines return bit-identical values (percentile()'s linear
    // interpolation and t-digest approximations do not cross-engine).
    // The ceil is integer arithmetic: ceil(a·n/b) = floor((a·n+b-1)/b).
    // At scale this is a range-partitioned sort per group key — the
    // length-distribution report every corpus pipeline prints.
    "agg_quantiles" -> ((s, d) =>
      graft.ops.CorpusOps.rankQuantiles(Tables.documents(s, d),
        "lang", "n_chars",
        Seq(("p50", 1, 2), ("p90", 9, 10), ("p99", 99, 100)))),

    // agg_quantiles at 100 TB, native form: approx_percentile
    // (Greenwald-Khanna mergeable summary) next to the exact ranks.
    // The exact path sorts every group; the GK path carries a
    // bounded-size summary that combines map-side — the only
    // quantile shape that survives a 100 TB value column. Like
    // agg_hll_distinct, the engine-specific estimate collapses into
    // an oracle-pinnable contract: GK with accuracy eps guarantees a
    // value whose rank is within eps·n of the target, so the emitted
    // booleans assert the estimate lies inside the exact
    // [p-eps, p+eps] rank-quantile bracket.
    "agg_approx_quantiles" -> ((s, d) => {
      val eps = 0.05 // rank error: 1/accuracy, accuracy = 20
      val docs = Tables.documents(s, d)
      val exact = graft.ops.CorpusOps.rankQuantiles(docs, "lang", "n_chars",
        Seq(("p50_lo", 45, 100), ("p50_hi", 55, 100),
          ("p90_lo", 85, 100), ("p90_hi", 95, 100)))
      docs.groupBy(col("lang"))
        .agg(percentile_approx(col("n_chars"), lit(0.5),
            lit((1 / eps).toInt)).as("e50"),
          percentile_approx(col("n_chars"), lit(0.9),
            lit((1 / eps).toInt)).as("e90"))
        .join(exact, Seq("lang"))
        .select(col("lang"), col("n"),
          (col("e50") >= col("p50_lo") && col("e50") <= col("p50_hi"))
            .as("p50_ok"),
          (col("e90") >= col("p90_lo") && col("e90") <= col("p90_hi"))
            .as("p90_ok"))
    }),

    // §2.10 typed-Aggregator surface: the reference's copy_dict
    // recursive monoid merge (utils.py:4-18) as a case-class-buffer
    // Aggregator over a typed Dataset — counts add, decimal totals
    // add exactly, member sets union; Spark runs the same merge
    // map-side as partial aggregation. Rendered as deterministic JSON.
    "agg_typed_monoid" -> ((s, d) => {
      import s.implicits._
      Tables.customer(s, d)
        .select(col("c_nationkey"), col("c_mktsegment"),
          dec2(col("c_acctbal")))
        .as[graft.kernels.TypedAggs.In]
        .groupByKey(_._1)
        .agg(graft.kernels.TypedAggs.custDict.toColumn.name("doc"))
        .toDF("c_nationkey", "doc")
    }),

    // KMV (k-minimum-values) distinct-count sketch, fully
    // deterministic so BOTH engines produce identical estimates: keep
    // each group's k smallest 52-bit md5 hashes via the custom top-k
    // -per-group operator, whose PARTIAL pass bounds each input
    // partition to k rows map-side — essential here because the group
    // key has 3 values, so without it the heap stage would funnel the
    // whole distinct set through <= 3 reducer tasks at any cluster
    // size. Estimate |D| ≈ (k-1) · 2^52 / h_k; groups holding fewer
    // than k distinct values are exact by construction. The portable
    // form of the approx-distinct sketch family (HLL itself hashes
    // engine-privately and can never cross-check).
    "agg_kmv_distinct" -> ((s, d) => {
      val k = 256
      val hashed = Tables.lineitem(s, d).select(
          col("l_returnflag").as("g"),
          TextOps.minhashX(col("l_partkey").cast("string")).as("h"))
        .distinct()
      val kmin = RelOps.topKPerGroupExact(hashed,
        Seq(col("g")), Seq(col("h").asc), k)
      val exact = Tables.lineitem(s, d).groupBy(col("l_returnflag").as("g"))
        .agg(countDistinct(col("l_partkey")).as("n_exact"))
      kmin.groupBy(col("g"))
        .agg(max(col("h")).as("hk"), count(lit(1)).as("ku"))
        .select(col("g"), col("ku"),
          when(col("ku") < k, col("ku").cast("double"))
            .otherwise(round((col("ku") - 1) * lit(4.503599627370496e15) / col("hk"), 2))
            .as("est_distinct"))
        .join(exact, Seq("g"))
    }),

    // A4 at 100 TB, native form: HyperLogLog++ cardinality
    // (approx_count_distinct, rsd 2%) next to the exact count. The
    // exact countDistinct shuffles every distinct (g, key) pair; the
    // HLL path carries a fixed-size sketch per group that combines
    // map-side — the only cardinality shape that survives a 100 TB
    // key column. The estimate itself is engine-specific, so the
    // emitted contract is the 3·rsd error bracket as a boolean the
    // oracle pins to TRUE (plus the exact count, hash-compared).
    "agg_hll_distinct" -> ((s, d) =>
      Tables.lineitem(s, d).groupBy(col("l_returnflag").as("g"))
        .agg(countDistinct(col("l_partkey")).as("n_exact"),
          approx_count_distinct(col("l_partkey"), 0.02).as("__est"))
        .select(col("g"), col("n_exact"),
          (abs(col("__est") - col("n_exact")) <=
            col("n_exact") * lit(3 * 0.02)).as("hll_ok"))),

    // Count-Min sketch (kernels/CountMin, Cormode-Muthukrishnan 2005):
    // the point-queryable frequency summary that completes the sketch
    // family — SpaceSaving keeps top identities but evicts, CMS
    // answers est(ANY key) from fixed d x w memory, merge is
    // elementwise addition (perfectly mergeable, map-side combined).
    // Estimates are DETERMINISTIC given the public minhashParams hash
    // family, so the oracle reproduces every counter and every
    // estimate exactly: the query sketches the token stream, then
    // point-queries the exact top-20 tokens against the one-row
    // broadcast sketch and emits est + the over-estimate invariant.
    "agg_countmin_est" -> ((s, d) => {
      import s.implicits._
      val D = 4; val W = 1024
      val tok = Tables.documents(s, d)
        .select(explode(TextOps.tokens(col("text"))).as("t"))
      val cms = tok.select(TextOps.minhashX(col("t")).as("x")).as[Long]
        .select(graft.kernels.CountMin.sketch(D, W).toColumn).toDF("cms")
      val top = tok.groupBy(col("t")).agg(count(lit(1)).as("n_exact"))
        .orderBy(col("n_exact").desc, col("t")).limit(20)
      val ests = TextOps.minhashParams(D).zipWithIndex.map { case ((a, b), j) =>
        element_at(col("cms"),
          (((lit(a) * col("x") + lit(b)) % TextOps.MinhashP) % W).cast("int")
            + lit(j * W) + 1)
      }
      top.crossJoin(broadcast(cms))
        .withColumn("x", TextOps.minhashX(col("t")))
        .select(col("t").as("token"), col("n_exact"),
          least(ests: _*).as("est"))
        .withColumn("cms_ok", col("est") >= col("n_exact"))
    }),

    // Bloom membership (kernels/BloomFilter): the pre-filter sketch
    // next to CMS — the build side's key set folds into one m-bit
    // OR-mergeable array, probes answer "possibly present" from the
    // one-row broadcast with zero false negatives. Keys here are a
    // lineitem subset's partkeys; probes are the first 60 parts, so
    // both outcomes occur. The bit set is deterministic given the
    // public hash family, so the oracle replays every membership
    // answer (and pins no-false-negatives as an invariant column).
    "agg_bloom_filter" -> ((s, d) => {
      import s.implicits._
      val M = 4096; val K = 3
      val keys = Tables.lineitem(s, d)
        .filter(col("l_orderkey") % 10 === 0)
        .select(col("l_partkey")).distinct()
      val bloom = keys
        .select(TextOps.minhashX(col("l_partkey").cast("string")).as("x"))
        .as[Long]
        .select(graft.kernels.BloomFilter.sketch(M, K).toColumn).toDF("bf")
      val probes = Tables.part(s, d).filter(col("p_partkey") <= 60)
        .select(col("p_partkey"))
        .join(keys.select(col("l_partkey").as("p_partkey"))
          .withColumn("truly_present", lit(true)), Seq("p_partkey"),
          "left_outer")
        .withColumn("truly_present",
          coalesce(col("truly_present"), lit(false)))
      val inBloom = TextOps.minhashParams(K).map { case (a, b) =>
        val bit = ((lit(a) * col("x") + lit(b)) % TextOps.MinhashP) % M
        call_function("shiftright",
          element_at(col("bf"), floor(bit / 64).cast("int") + 1),
          (bit % 64).cast("int")).bitwiseAND(lit(1L)) === 1
      }.reduce(_ && _)
      probes.crossJoin(broadcast(bloom))
        .withColumn("x", TextOps.minhashX(col("p_partkey").cast("string")))
        .select(col("p_partkey"), col("truly_present"),
          inBloom.as("in_bloom"))
        .withColumn("no_false_negative",
          !col("truly_present") || col("in_bloom"))
    }),

    // A15: similarity coefficients over co-occurrence pair counts
    // (Jaccard + containment, interpro/xrefs/entries.py:103-134).
    // Dedupe + group happen in ONE shuffle (collect_set); the ordered
    // pair expansion goes through RelOps.orderedPairs, whose skew cap
    // keeps normal sets in-array (shuffle-free) while a mega-set
    // (P-loop-NTPase-scale hot group) takes the posexplode self-join
    // path instead of materializing O(n^2) structs in one row.
    "agg_similarity" -> ((s, d) => {
      // checkpoint the set frame: orderedPairs consumes it in both its
      // small/big branches, the frequency census below explodes it,
      // and the 18M-row-at-30x fact aggregation must not run three
      // times (blocks reclaimed by Bench's ephemeral sweep)
      val sets = Tables.lineitem(s, d)
        .groupBy(col("l_orderkey"))
        .agg(array_sort(collect_set(col("l_partkey"))).as("ps"))
        .loopCheckpoint()
      // per-item frequency from the MATERIALIZED set frame (§2.4):
      // np = |orders whose set contains pk| — ps is collect_set, so
      // explode+count over the checkpointed arrays is the same number
      // as the countDistinct(l_orderkey) fact pass it replaces, minus
      // a full second fact scan and the distinct's Expand. (The r13
      // form avoided sets.explode because the set build was NOT
      // materialized then and recomputed per consumer.)
      val cnt = sets.select(explode(col("ps")).as("pk"))
        .groupBy(col("pk")).agg(count(lit(1)).as("np"))
      val pairs = RelOps.orderedPairs(sets, Seq("l_orderkey"), "ps")
        .groupBy(col("pa"), col("pb")).agg(count(lit(1)).as("nab"))
      // the per-item frequency table is DIMENSION-sized (distinct
      // parts), orders smaller than the pair fact it enriches —
      // broadcast both lookups so the pair table is shuffled once
      // (its own groupBy), not three times (measured at 30x: the two
      // SMJs over the ~27M-row pair table dominated the query)
      pairs
        .join(broadcast(cnt.select(col("pk").as("pa"), col("np").as("na"))),
          Seq("pa"))
        .join(broadcast(cnt.select(col("pk").as("pb"), col("np").as("nb"))),
          Seq("pb"))
        .withColumn("jaccard",
          round(col("nab").cast("double") / (col("na") + col("nb") - col("nab")), 6))
        .filter(col("nab").cast("double") / (col("na") + col("nb") - col("nab")) >= 0.01)
        .select("pa", "pb", "nab", "na", "nb", "jaccard")
    }),

    // Distribution-shape statistics — exact skewness / excess kurtosis
    // per group from integer power sums: ONE map-side-combinable agg
    // produces Σq..Σq⁴ as BIGINT (quantities are small integers, so
    // even Σq⁴ stays far under 2⁶³ at any tested SF; the 100-TB path
    // swaps the sums to DECIMAL(38,0), same shape), then the standard
    // central-moment formulas run as ONE shared SQL string evaluated
    // by both engines — identical text → identical IEEE op sequence,
    // sqrt included (correctly rounded per IEEE 754) — and the result
    // is pinned to integer micros before the hash gate.
    "agg_moments" -> ((s, d) =>
      Tables.lineitem(s, d)
        .select(col("l_returnflag").as("flag"),
          col("l_quantity").cast("long").as("q"))
        .groupBy(col("flag"))
        .agg(count(lit(1)).as("n"), sum(col("q")).as("s1"),
          sum(col("q") * col("q")).as("s2"),
          sum(col("q") * col("q") * col("q")).as("s3"),
          sum(col("q") * col("q") * col("q") * col("q")).as("s4"))
        .withColumn("skew_micro", expr(SkewMicro))
        .withColumn("kurt_micro", expr(KurtMicro))
        .select(col("flag"), col("n"), col("s1"), col("s2"), col("s3"),
          col("s4"), col("skew_micro"), col("kurt_micro"))),

    // Corpus mixture balance — the data-governance dial every
    // pretraining run reports: Gini concentration and Shannon entropy
    // of the per-source document distribution. The census is
    // source-count-sized (tiny), so the rank window and the 1-row
    // totals broadcast are census-local; Gini's rank form
    // Σ(2i−S−1)·nᵢ / (S·N) stays in exact BIGINTs (ships as ppm via
    // integer division), entropy terms −pᵢ·ln pᵢ round to 6dp and sum
    // as DECIMAL (the dsir/moments discipline) so both engines agree.
    "agg_source_balance" -> ((s, d) => {
      import org.apache.spark.sql.expressions.Window
      val census = Tables.documents(s, d).groupBy(col("source"))
        .agg(count(lit(1)).as("n"))
      val t = census.agg(count(lit(1)).as("ns"),
        sum(col("n")).as("nd"))
      census
        .withColumn("i", row_number().over(
          Window.orderBy(col("n"), col("source"))))
        .crossJoin(broadcast(t))
        .agg(max(col("ns")).as("ns"), max(col("nd")).as("nd"),
          sum((lit(2) * col("i") - col("ns") - 1) * col("n")).as("gnum"),
          sum(round(-(col("n") / col("nd")) * log(col("n") / col("nd")), 6)
            .cast(DecimalType(18, 6))).as("ent"))
        .select(col("ns"), col("nd"),
          expr("(gnum * 1000000) DIV (ns * nd)").as("gini_ppm"),
          col("ent").cast("double").as("entropy"))
    })
  )

  // moment formulas shared VERBATIM between the Spark expr() and the
  // DuckDB oracle: one string, two parsers, the same left-associative
  // IEEE double chain in both engines
  private val A1 = "(CAST(s1 AS DOUBLE) / CAST(n AS DOUBLE))"
  private val A2 = "(CAST(s2 AS DOUBLE) / CAST(n AS DOUBLE))"
  private val A3 = "(CAST(s3 AS DOUBLE) / CAST(n AS DOUBLE))"
  private val A4 = "(CAST(s4 AS DOUBLE) / CAST(n AS DOUBLE))"
  private val M2 = s"($A2 - $A1*$A1)"
  private val M3 = s"($A3 - 3*$A1*$A2 + 2*$A1*$A1*$A1)"
  private val M4 = s"($A4 - 4*$A1*$A3 + 6*$A1*$A1*$A2 - 3*$A1*$A1*$A1*$A1)"
  private val SkewMicro =
    s"CAST(floor($M3 / ($M2 * sqrt($M2)) * 1e6 + 0.5) AS BIGINT)"
  private val KurtMicro =
    s"CAST(floor(($M4 / ($M2 * $M2) - 3) * 1e6 + 0.5) AS BIGINT)"

  /** Static-join oracle for agg_tree_ranks: the same 8-slot uid chain
    * and bottom-up JSON assembly, written against the KNOWN 3-level
    * synthetic taxonomy (the Spark side runs the generic depth-
    * agnostic operator). Assembly CTEs are generated per rank level.
    */
  private val treeRanksSql: String = {
    def nodeJs(ch: String) =
      s"""'{"id":"' || g.uid || '","rank":"' || g.rank || '","name":' ||
          COALESCE('"' || g.name || '"', 'null') ||
          ',"proteins":' || g.p || ',"species":' || g.s ||
          ',"children":[' || $ch || ']}'"""
    val asm = (7 to 0 by -1).map { i =>
      val (join, ch) =
        if (i == 7) ("", "''")
        else (s"LEFT JOIN c${i + 1} c ON g.entry = c.entry AND g.uid = c.puid",
          "COALESCE(c.ch, '')")
      s"""j$i AS (SELECT g.entry, g.puid, g.uid, ${nodeJs(ch)} AS js
                  FROM g $join WHERE g.lvl = $i),
          c$i AS (SELECT entry, puid, string_agg(js, ',' ORDER BY uid) AS ch
                  FROM j$i GROUP BY 1, 2)"""
    }.mkString(",\n")
    s"""WITH hits AS (
          SELECT 'IPR' || CAST(o_orderkey % 7 AS VARCHAR) AS entry,
                 o_custkey AS ck, COUNT(*) AS np
          FROM orders GROUP BY 1, 2),
        base AS (
          SELECT h.entry, h.np, (c.c_custkey % 3 <> 0) AS is_sp,
                 'R' || CAST(n.n_regionkey AS VARCHAR) AS u0, r.r_name AS m0,
                 'R' || CAST(n.n_regionkey AS VARCHAR) || '-1' AS u1,
                 'N' || CAST(c.c_nationkey AS VARCHAR) AS u2, n.n_name AS m2,
                 'N' || CAST(c.c_nationkey AS VARCHAR) || '-3' AS u3,
                 'N' || CAST(c.c_nationkey AS VARCHAR) || '-3-4' AS u4,
                 'N' || CAST(c.c_nationkey AS VARCHAR) || '-3-4-5' AS u5,
                 CASE WHEN c.c_custkey % 3 = 0 THEN 'C' || CAST(c.c_custkey AS VARCHAR)
                      ELSE 'N' || CAST(c.c_nationkey AS VARCHAR) || '-3-4-5-6' END AS u6,
                 CASE WHEN c.c_custkey % 3 = 0 THEN c.c_name END AS m6,
                 CASE WHEN c.c_custkey % 3 <> 0 THEN 'C' || CAST(c.c_custkey AS VARCHAR)
                      ELSE 'C' || CAST(c.c_custkey AS VARCHAR) || '-7' END AS u7,
                 CASE WHEN c.c_custkey % 3 <> 0 THEN c.c_name END AS m7
          FROM hits h
          JOIN customer c ON h.ck = c.c_custkey
          JOIN nation n ON c.c_nationkey = n.n_nationkey
          JOIN region r ON n.n_regionkey = r.r_regionkey),
        levels AS (
          SELECT entry, 0 AS lvl, u0 AS uid, '1' AS puid, 'domain' AS rank, m0 AS name, np, is_sp FROM base
          UNION ALL SELECT entry, 1, u1, u0, 'kingdom', NULL, np, is_sp FROM base
          UNION ALL SELECT entry, 2, u2, u1, 'phylum', m2, np, is_sp FROM base
          UNION ALL SELECT entry, 3, u3, u2, 'class', NULL, np, is_sp FROM base
          UNION ALL SELECT entry, 4, u4, u3, 'order', NULL, np, is_sp FROM base
          UNION ALL SELECT entry, 5, u5, u4, 'family', NULL, np, is_sp FROM base
          UNION ALL SELECT entry, 6, u6, u5, 'genus', m6, np, is_sp FROM base
          UNION ALL SELECT entry, 7, u7, u6, 'species', m7, np, is_sp FROM base),
        g AS (
          SELECT entry, lvl, uid, puid, rank, name,
                 CAST(SUM(np) AS BIGINT) AS p,
                 CAST(SUM(CASE WHEN is_sp THEN 1 ELSE 0 END) AS BIGINT) AS s
          FROM levels GROUP BY 1, 2, 3, 4, 5, 6),
        $asm,
        tot AS (
          SELECT entry, CAST(SUM(np) AS BIGINT) AS p,
                 CAST(SUM(CASE WHEN is_sp THEN 1 ELSE 0 END) AS BIGINT) AS s
          FROM base GROUP BY 1)
        SELECT t.entry,
               '{"id":"1","rank":null,"name":"root","proteins":' || t.p ||
               ',"species":' || t.s || ',"children":[' || COALESCE(c.ch, '') || ']}' AS tree
        FROM tot t LEFT JOIN c0 c ON t.entry = c.entry AND c.puid = '1'"""
  }

  val oracle: Map[String, String] = Map(
    "agg_group_collect" ->
      """SELECT l_orderkey,
                string_agg(CAST(l_partkey AS VARCHAR), ',' ORDER BY l_partkey) AS parts,
                COUNT(*) AS n_items
         FROM lineitem GROUP BY l_orderkey""",
    "agg_conditional_count" ->
      """SELECT l_returnflag, COUNT(*) AS n,
                CAST(SUM(CASE WHEN l_quantity > 30 THEN 1 ELSE 0 END) AS BIGINT) AS n_hi_qty,
                COUNT(DISTINCT l_orderkey) AS n_orders,
                SUM(l_quantity) AS sum_qty
         FROM lineitem GROUP BY l_returnflag""",
    "agg_distinct_set" ->
      """SELECT c_nationkey, COUNT(DISTINCT c_mktsegment) AS n_segments,
                (SELECT string_agg(seg, ',' ORDER BY seg)
                 FROM (SELECT DISTINCT c_mktsegment AS seg FROM customer c2
                       WHERE c2.c_nationkey = c.c_nationkey)) AS segments
         FROM customer c GROUP BY c_nationkey""",
    "agg_argmin" ->
      """SELECT o_custkey, cheapest, min_price FROM (
           SELECT o_custkey, o_orderkey AS cheapest, o_totalprice AS min_price,
                  row_number() OVER (PARTITION BY o_custkey
                                     ORDER BY o_totalprice, o_orderkey) AS rn
           FROM orders) WHERE rn = 1""",
    "agg_sorted_list" ->
      """SELECT l_orderkey,
                string_agg(CAST(l_linenumber AS VARCHAR) || ':' ||
                           CAST(l_partkey AS VARCHAR), ';'
                           ORDER BY l_linenumber, l_partkey) AS lines
         FROM lineitem GROUP BY l_orderkey""",
    "agg_min_pair" ->
      """SELECT l_partkey, l_suppkey, MIN(l_extendedprice) AS min_price,
                COUNT(*) AS n
         FROM lineitem GROUP BY l_partkey, l_suppkey""",
    "agg_nested_map" ->
      """SELECT c_nationkey,
                string_agg(c_mktsegment || ':' || CAST(n AS VARCHAR), ','
                           ORDER BY c_mktsegment) AS seg_counts
         FROM (SELECT c_nationkey, c_mktsegment, COUNT(*) AS n
               FROM customer GROUP BY 1, 2)
         GROUP BY c_nationkey""",
    "agg_rollup_lineage" ->
      """WITH fact AS (
           SELECT o_orderkey, o_totalprice, c_custkey, c_nationkey, n_regionkey
           FROM orders JOIN customer ON o_custkey = c_custkey
                       JOIN nation ON c_nationkey = n_nationkey)
         SELECT 'R' || CAST(n_regionkey AS VARCHAR) AS node_id, COUNT(*) AS n_orders,
                CAST(SUM(CAST(o_totalprice AS DECIMAL(12,2))) AS DOUBLE) AS total
         FROM fact GROUP BY 1
         UNION ALL
         SELECT 'N' || CAST(c_nationkey AS VARCHAR), COUNT(*),
                CAST(SUM(CAST(o_totalprice AS DECIMAL(12,2))) AS DOUBLE)
         FROM fact GROUP BY 1
         UNION ALL
         SELECT 'C' || CAST(c_custkey AS VARCHAR), COUNT(*),
                CAST(SUM(CAST(o_totalprice AS DECIMAL(12,2))) AS DOUBLE)
         FROM fact GROUP BY 1""",
    "agg_tree_json" ->
      """WITH nc AS (SELECT r_name, n_name, COUNT(*) AS cnt
                     FROM customer JOIN nation ON c_nationkey = n_nationkey
                                   JOIN region ON n_regionkey = r_regionkey
                     GROUP BY r_name, n_name)
         SELECT r_name,
                '{"name":"' || r_name || '","children":[' ||
                string_agg('{"name":"' || n_name || '","n":' ||
                           CAST(cnt AS VARCHAR) || '}', ',' ORDER BY n_name) ||
                ']}' AS tree
         FROM nc GROUP BY r_name""",
    "agg_tree_ranks" -> treeRanksSql,
    "agg_having_regroup" ->
      """WITH fine AS (
           SELECT l_returnflag, l_linestatus, COUNT(*) AS n, SUM(l_quantity) AS sum_qty
           FROM lineitem GROUP BY 1, 2),
         tot AS (SELECT COUNT(*) AS total FROM lineitem)
         SELECT l_returnflag || '/' || l_linestatus AS grp, 'fine' AS lvl, n, sum_qty
         FROM fine, tot WHERE n >= total * 0.12
         UNION ALL
         SELECT l_returnflag AS grp, 'coarse' AS lvl, CAST(SUM(n) AS BIGINT) AS n,
                SUM(sum_qty) AS sum_qty
         FROM fine, tot WHERE n < total * 0.12
         GROUP BY l_returnflag""",
    "agg_release_stats" ->
      """SELECT COUNT(*) AS n_li,
                COUNT(DISTINCT l_orderkey) AS n_orders,
                COUNT(DISTINCT l_partkey) AS n_parts,
                CAST(SUM(CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END) AS BIGINT) AS n_returned,
                CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2))) AS DOUBLE) AS gross
         FROM lineitem""",
    "agg_histogram" ->
      "SELECT o_orderpriority, COUNT(*) AS n FROM orders GROUP BY o_orderpriority",
    "agg_mode" ->
      """SELECT c_nationkey, c_mktsegment AS mode_segment, n AS n_mode
         FROM (SELECT c_nationkey, c_mktsegment, COUNT(*) AS n,
                      row_number() OVER (PARTITION BY c_nationkey
                        ORDER BY COUNT(*) DESC, c_mktsegment) AS rk
               FROM customer GROUP BY c_nationkey, c_mktsegment)
         WHERE rk = 1""",
    "agg_approx_quantiles" ->
      """SELECT lang, CAST(COUNT(*) AS BIGINT) AS n,
                TRUE AS p50_ok, TRUE AS p90_ok
         FROM documents GROUP BY lang""",
    "agg_quantiles" ->
      """WITH r AS (SELECT lang, n_chars,
                           CAST(row_number() OVER (PARTITION BY lang
                                  ORDER BY n_chars) AS BIGINT) AS rn,
                           COUNT(*) OVER (PARTITION BY lang) AS n
                    FROM documents)
         SELECT lang, MAX(n) AS n,
                MAX(CASE WHEN rn = CAST(floor((n*1 + 1) / 2) AS BIGINT)
                         THEN n_chars END) AS p50,
                MAX(CASE WHEN rn = CAST(floor((n*9 + 9) / 10) AS BIGINT)
                         THEN n_chars END) AS p90,
                MAX(CASE WHEN rn = CAST(floor((n*99 + 99) / 100) AS BIGINT)
                         THEN n_chars END) AS p99
         FROM r GROUP BY lang""",
    "agg_typed_monoid" ->
      """SELECT c_nationkey,
                '{"n":' || COUNT(*) ||
                ',"total":"' ||
                CAST(CAST(SUM(CAST(c_acctbal AS DECIMAL(12,2))) AS DECIMAL(18,2))
                     AS VARCHAR) ||
                '","segments":["' ||
                array_to_string(list_sort(list_distinct(list(c_mktsegment))),
                                '","') ||
                '"]}' AS doc
         FROM customer GROUP BY c_nationkey""",
    "agg_hll_distinct" ->
      """SELECT l_returnflag AS g,
                CAST(COUNT(DISTINCT l_partkey) AS BIGINT) AS n_exact,
                TRUE AS hll_ok
         FROM lineitem GROUP BY 1""",
    // replay every bloom bit from the key set (public hash family):
    // a probe is in_bloom iff all K of its bits are set
    "agg_bloom_filter" -> {
      val M = 4096; val K = 3
      val p = TextOps.MinhashP
      // ONE shared bit array (classic bloom), not per-row partitioned:
      // the distinct union over all K hash legs
      val cellLegs = TextOps.minhashParams(K)
        .map { case (a, b) =>
          s"SELECT (($a * x + $b) % $p) % $M AS bit FROM kx"
        }.mkString(" UNION ALL ")
      val probeLegs = TextOps.minhashParams(K).zipWithIndex
        .map { case ((a, b), j) =>
          s"SELECT p_partkey, $j AS j, (($a * x + $b) % $p) % $M AS bit FROM px"
        }.mkString(" UNION ALL ")
      s"""WITH keys AS (SELECT DISTINCT l_partkey FROM lineitem
                        WHERE l_orderkey % 10 = 0),
          kx AS (SELECT l_partkey,
                        ('0x' || substr(md5(CAST(l_partkey AS VARCHAR)), 1, 13))::BIGINT AS x
                 FROM keys),
          pr AS (SELECT p_partkey FROM part WHERE p_partkey <= 60),
          px AS (SELECT p_partkey,
                        ('0x' || substr(md5(CAST(p_partkey AS VARCHAR)), 1, 13))::BIGINT AS x
                 FROM pr),
          cells AS (SELECT DISTINCT bit FROM ($cellLegs)),
          pb AS ($probeLegs),
          hits AS (SELECT p_partkey, COUNT(*) AS c
                   FROM pb JOIN cells USING (bit) GROUP BY p_partkey)
          SELECT pr.p_partkey,
                 (k.l_partkey IS NOT NULL) AS truly_present,
                 (COALESCE(hits.c, 0) = $K) AS in_bloom,
                 (k.l_partkey IS NULL OR COALESCE(hits.c, 0) = $K)
                   AS no_false_negative
          FROM pr LEFT JOIN keys k ON pr.p_partkey = k.l_partkey
                  LEFT JOIN hits ON pr.p_partkey = hits.p_partkey"""
    },
    // rebuild every CMS counter from the exact per-token counts (the
    // hash family is public minhashParams, so est is deterministic)
    "agg_countmin_est" -> {
      val D = 4; val W = 1024
      val p = TextOps.MinhashP
      val legs = TextOps.minhashParams(D).zipWithIndex.map { case ((a, b), j) =>
        s"""SELECT $j AS j, (($a * x + $b) % $p) % $W AS cell,
                   CAST(SUM(n) AS BIGINT) AS v
            FROM cnt GROUP BY 2"""
      }.mkString(" UNION ALL ")
      val probes = TextOps.minhashParams(D).zipWithIndex.map { case ((a, b), j) =>
        s"""SELECT t, n_exact, $j AS j, (($a * x + $b) % $p) % $W AS cell
            FROM top"""
      }.mkString(" UNION ALL ")
      s"""WITH tok AS (SELECT unnest(string_split(text, ' ')) AS t
                       FROM documents),
          h AS (SELECT t, ('0x' || substr(md5(t), 1, 13))::BIGINT AS x
                FROM tok),
          cnt AS (SELECT t, x, COUNT(*) AS n FROM h GROUP BY t, x),
          top AS (SELECT t, x, CAST(n AS BIGINT) AS n_exact FROM cnt
                  ORDER BY n DESC, t LIMIT 20),
          cells AS ($legs),
          pr AS ($probes),
          e AS (SELECT pr.t, pr.n_exact, MIN(v) AS est
                FROM pr JOIN cells ON pr.j = cells.j AND pr.cell = cells.cell
                GROUP BY pr.t, pr.n_exact)
          SELECT t AS token, n_exact, est, est >= n_exact AS cms_ok FROM e"""
    },
    "agg_kmv_distinct" ->
      """WITH hashed AS (
           SELECT DISTINCT l_returnflag AS g,
                  ('0x' || substr(md5(CAST(l_partkey AS VARCHAR)), 1, 13))::BIGINT AS h
           FROM lineitem),
         kmin AS (
           SELECT g, h FROM (
             SELECT g, h, row_number() OVER (PARTITION BY g ORDER BY h) AS rn
             FROM hashed)
           WHERE rn <= 256),
         e AS (SELECT l_returnflag AS g, COUNT(DISTINCT l_partkey) AS n_exact
               FROM lineitem GROUP BY 1),
         s AS (SELECT g, COUNT(*) AS ku, MAX(h) AS hk FROM kmin GROUP BY g)
         SELECT s.g, s.ku,
                CASE WHEN s.ku < 256 THEN CAST(s.ku AS DOUBLE)
                     ELSE round(((s.ku - 1) * 4503599627370496.0) / s.hk, 2)
                END AS est_distinct,
                e.n_exact
         FROM s JOIN e USING (g)""",
    "agg_release_diff" ->
      """WITH cur AS (SELECT p_partkey AS acc, p_brand AS db, p_size > 25 AS integ FROM part),
         prev AS (SELECT p_partkey AS acc, p_brand AS db, p_size > 30 AS integ FROM part
                  WHERE p_partkey % 10 <> 0 AND p_brand <> 'Brand#25'),
         prevdb AS (SELECT db, CAST(MAX(acc) % 97 AS BIGINT) AS pv FROM prev GROUP BY 1),
         recent AS (SELECT db, COUNT(*) AS n_recent,
                           string_agg(CAST(acc AS VARCHAR), ',' ORDER BY acc) AS recently_integrated
                    FROM cur WHERE integ
                      AND acc NOT IN (SELECT acc FROM prev WHERE integ)
                    GROUP BY db),
         curdb AS (SELECT db, CAST(MAX(acc) % 97 AS BIGINT) AS version,
                          COUNT(*) AS signatures,
                          CAST(SUM(CASE WHEN integ THEN 1 ELSE 0 END) AS BIGINT) AS n_integrated
                   FROM cur GROUP BY db)
         SELECT c.db, c.version, c.signatures, c.n_integrated,
                COALESCE(r.n_recent, 0) AS n_recent,
                COALESCE(r.recently_integrated, '') AS recently_integrated,
                p.pv IS NULL AS is_new,
                (p.pv IS NOT NULL AND p.pv <> c.version) AS is_updated
         FROM curdb c LEFT JOIN recent r USING (db) LEFT JOIN prevdb p USING (db)""",
    "agg_clan_graph" ->
      """WITH nodes AS (
           SELECT s_nationkey AS clan,
                  string_agg('{"accession":' || CAST(s_suppkey AS VARCHAR) ||
                             ',"short_name":"' || s_name ||
                             '","type":"entry","score":' ||
                             CAST(CAST(s_acctbal AS DECIMAL(12,2)) AS VARCHAR) || '}',
                             ',' ORDER BY s_suppkey) AS nodes
           FROM supplier GROUP BY 1),
         hits AS (
           SELECT l_partkey, s_nationkey AS clan, l_suppkey,
                  MIN(CAST(l_extendedprice AS DECIMAL(12,2))) AS p
           FROM lineitem JOIN supplier ON l_suppkey = s_suppkey
           GROUP BY 1, 2, 3),
         pairev AS (
           SELECT a.clan, a.l_suppkey AS source, b.l_suppkey AS target,
                  MIN(a.p + b.p) AS ev
           FROM hits a JOIN hits b
             ON a.l_partkey = b.l_partkey AND a.clan = b.clan
            AND a.l_suppkey < b.l_suppkey
           GROUP BY 1, 2, 3),
         links AS (
           SELECT clan,
                  string_agg('{"source":' || CAST(source AS VARCHAR) ||
                             ',"target":' || CAST(target AS VARCHAR) ||
                             ',"score":' || CAST(ev AS VARCHAR) || '}',
                             ',' ORDER BY source, target) AS links
           FROM pairev GROUP BY clan)
         SELECT n.clan,
                '{"nodes":[' || n.nodes || '],"links":[' ||
                COALESCE(l.links, '') || ']}' AS graph
         FROM nodes n LEFT JOIN links l USING (clan)""",
    "agg_similarity" ->
      """WITH op AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
         cnt AS (SELECT l_partkey, COUNT(*) AS np FROM op GROUP BY 1),
         pair AS (SELECT a.l_partkey AS pa, b.l_partkey AS pb, COUNT(*) AS nab
                  FROM op a JOIN op b ON a.l_orderkey = b.l_orderkey
                                     AND a.l_partkey < b.l_partkey
                  GROUP BY 1, 2)
         SELECT pa, pb, nab, ca.np AS na, cb.np AS nb,
                round(CAST(nab AS DOUBLE) / (ca.np + cb.np - nab), 6) AS jaccard
         FROM pair JOIN cnt ca ON pa = ca.l_partkey
                   JOIN cnt cb ON pb = cb.l_partkey
         WHERE CAST(nab AS DOUBLE) / (ca.np + cb.np - nab) >= 0.01""",
    "agg_moments" ->
      s"""WITH b AS (SELECT l_returnflag AS flag,
                            CAST(l_quantity AS BIGINT) AS q FROM lineitem),
          g AS (SELECT flag, CAST(COUNT(*) AS BIGINT) AS n,
                       CAST(SUM(q) AS BIGINT) AS s1,
                       CAST(SUM(q*q) AS BIGINT) AS s2,
                       CAST(SUM(q*q*q) AS BIGINT) AS s3,
                       CAST(SUM(q*q*q*q) AS BIGINT) AS s4
                FROM b GROUP BY flag)
          SELECT flag, n, s1, s2, s3, s4,
                 $SkewMicro AS skew_micro, $KurtMicro AS kurt_micro
          FROM g""",
    "agg_source_balance" ->
      """WITH c AS (SELECT source, CAST(COUNT(*) AS BIGINT) AS n
                    FROM documents GROUP BY source),
          t AS (SELECT CAST(COUNT(*) AS BIGINT) AS ns,
                       CAST(SUM(n) AS BIGINT) AS nd FROM c),
          r AS (SELECT source, n,
                       row_number() OVER (ORDER BY n, source) AS i
                FROM c)
          SELECT ns, nd,
                 (CAST(SUM((2*i - ns - 1) * n) AS BIGINT) * 1000000)
                   // (ns * nd) AS gini_ppm,
                 CAST(SUM(CAST(round(-(n/nd) * ln(n/nd), 6)
                               AS DECIMAL(18,6))) AS DOUBLE) AS entropy
          FROM r, t GROUP BY ns, nd"""
  )
}
