package graft.harness

import graft.Tables
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Export-surface operators (SURVEY.md §2.1 S15/S16, §2.10 K7/K8):
  * the flat-file and XML sinks and the Elasticsearch document
  * denormalizer, expressed as oracle-checkable content queries — the
  * actual file writes (`.write.text` with gzip codec, partitioned
  * fragment concat) are exercised in SinksSpec; content generation is
  * the distributed part that matters at scale.
  */
object SinkQueries {
  type Q = (SparkSession, String) => DataFrame

  /** XML-escape the three structural characters (reference escapes via
    * DOM; we emit fragments directly, interpro/ftp/xmlfiles.py:457-553).
    */
  private def xmlEscape(c: Column): Column = graft.ops.TextOps.xmlEscape(c)

  // shard count for sink_jsonl_shards — small enough the manifest is
  // auditable, large enough to exercise the per-shard parallel write
  private val JsonlShards = 8

  /** The read-back schema of a gzip JSONL shard sink (`doc_id`, `pos`,
    * `text`, `lang` in each line, `shard` from the partition directory).
    * Declared, not inferred: inference on a schemaless json read is a
    * full extra pass over every gzip shard before the real scan. Longs
    * parse as longs, the shard partition column as int.
    */
  val JsonlShardSchema: org.apache.spark.sql.types.StructType = {
    import org.apache.spark.sql.types._
    StructType(Seq(StructField("doc_id", LongType), StructField("pos", LongType),
      StructField("text", StringType), StructField("lang", StringType),
      StructField("shard", IntegerType)))
  }

  /** Synthetic raw InterProScan matches carrying the FULL default-
    * shape location fields the lookup formatters select from
    * (interpro/lookup.py:231-266): protein=order, member library from
    * partkey%5, one location per lineitem row. Each downstream
    * `fmt_*` query reproduces one library's reshape (field subset +
    * renames + location[0] promotions) from this frame.
    */
  private def rawLookup(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.types.DecimalType
    Tables.lineitem(s, d).select(
      col("l_orderkey").as("protein"),
      (col("l_partkey") % 5).cast("int").as("libid"),
      col("l_partkey"), col("l_suppkey"),
      col("l_linenumber").as("start"),
      (col("l_linenumber") + floor(col("l_quantity") / 10).cast("int")).as("end"),
      (col("l_linenumber") % 50 + 1).as("hmm_start"),
      (col("l_linenumber") % 50 + 21).as("hmm_end"),
      (col("l_suppkey") % 100).cast("int").as("hmm_length"),
      when(col("l_suppkey") % 3 === 0, "COMPLETE")
        .when(col("l_suppkey") % 3 === 1, "N_TERMINAL_COMPLETE")
        .otherwise("C_TERMINAL_COMPLETE").as("hmm_bounds"),
      (col("l_linenumber") - 1).as("env_start"),
      (col("l_linenumber") + floor(col("l_quantity") / 10).cast("int") + 1)
        .as("env_end"),
      col("l_extendedprice").cast(DecimalType(12, 2)).cast("string").as("evalue"),
      col("l_quantity").cast("int").as("score"),
      // per-library "sequence-feature": PANTHER an-tree node id,
      // PRINTS graphscan string, PROSITE cigar alignment
      when(col("l_partkey") % 5 === 1,
          concat(lit("AN"), (col("l_suppkey") % 40).cast("string")))
        .when(col("l_partkey") % 5 === 2,
          concat(lit("I"), repeat(lit("i"), (col("l_suppkey") % 4).cast("int")),
            lit(".")))
        .when(col("l_partkey") % 5 === 3,
          concat((floor(col("l_quantity") / 10).cast("int") + 1).cast("string"),
            lit("M")))
        .otherwise(lit(null).cast("string")).as("seqfeat"),
      when(col("l_suppkey") % 3 === 0, "[]")
        .otherwise(concat(lit("[\"r"), (col("l_suppkey") % 9).cast("string"),
          lit("\"]"))).as("sites_json"),
      concat(lit("[{\"start\":"), col("l_linenumber").cast("string"),
        lit(",\"end\":"),
        (col("l_linenumber") + floor(col("l_quantity") / 10).cast("int"))
          .cast("string"),
        lit(",\"dc-status\":\"CONTINUOUS\"}]")).as("frags_json"))
  }

  /** Deterministic location sort / locations[0] tiebreak key: a zero-
    * padded numeric (start, end) prefix — so locations order by
    * position like the reference's stored lists — followed by the
    * rendered location and EVERY payload field a formatter may
    * promote. Key ties therefore imply byte-identical payloads, and
    * both engines' sorts agree even though the synthetic testdata
    * repeats l_linenumber within an order.
    */
  private def locSortKey: Column =
    concat(lpad(col("start").cast("string"), 6, "0"),
      lpad(col("end").cast("string"), 6, "0"), col("locj"),
      lit("|"), coalesce(col("seqfeat"), lit("")),
      lit("|"), col("evalue"), lit("|"), col("score").cast("string"))

  /** Sorted JSON-array body of the per-row `locj` strings. */
  private def sortedLocs: Column =
    concat_ws(",", transform(
      sort_array(collect_list(struct(col("skey"), col("locj")))),
      x => x("locj")))

  val queries: Map[String, Q] = Map(
    // S15: protein2ipr.dat-shaped gzip TSV lines
    // (interpro/ftp/flatfiles.py:88-122): one tab-joined line per
    // (protein, entry, signature, location), globally line-formatted
    // in executors; the sink is then a plain `.write.text`.
    // The TRAINING-SHARD export — the handoff artifact a curation
    // pipeline ends with (WebDataset/JSONL-shards shape): every doc
    // lands in its hash-deterministic shuffle shard
    // (CorpusOps.shuffleShards — no global sort), the sink writes one
    // gzip JSONL directory per shard (partitionBy rides the shuffle;
    // at 100 TB each shard is a parallel write, never a driver path),
    // and the gated result is the MANIFEST computed from a READ-BACK
    // of the written files — so the oracle row certifies the whole
    // write→read round trip, not just the plan.
    "sink_jsonl_shards" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      val outDir = StreamQueries.drainDir("graft-jsonl-shards-")
      graft.ops.CorpusOps.shuffleShards(docs, "doc_id", JsonlShards)
        .select(col("doc_id"), col("shard"), col("pos"))
        .join(docs.select(col("doc_id"), col("text"), col("lang")),
          Seq("doc_id"))
        // REBALANCE on the partition column before the partitioned
        // write (§6 — file sizing): without it every upstream join
        // partition writes into every shard dir (P×shards small gzip
        // files at scale; the small-files penalty is paid twice, at
        // commit and at every read-back). AQE's rebalance clusters
        // rows by shard AND splits oversized shards to the advisory
        // partition size, so each shard dir gets few target-sized
        // files instead of P shavings — and unlike a plain
        // repartition(col) it cannot strand cores on the 8-value key.
        // Row content is untouched; the manifest aggregates are
        // order-insensitive.
        .hint("rebalance", col("shard"))
        .write.mode("overwrite").partitionBy("shard")
        .option("compression", "gzip").json(s"$outDir/data")
      // explicit read-back schema (§6): the written schema is known
      // statically, so the data is read once, with no inference pass
      // FAILFAST (advice r17): with an explicit schema under the
      // default PERMISSIVE mode a corrupt or type-mismatched record
      // would silently null into the manifest — the round trip this
      // row exists to certify must fail loudly instead.
      s.read.schema(JsonlShardSchema).option("mode", "FAILFAST")
        .json(s"$outDir/data")
        .groupBy(col("shard").cast("int").as("shard"))
        .agg(count(lit(1)).as("n_docs"),
          sum(size(split(col("text"), " ")).cast("long")).as("n_tokens"),
          sum(length(col("text")).cast("long")).as("n_chars"),
          max(col("pos")).as("max_pos"))
        .select(col("shard"), col("n_docs"), col("n_tokens"),
          col("n_chars"), col("max_pos"))
    }),

    // The Z-ORDER layout under the oracle gate (ZOrderSpec pins the
    // pruning geometry; this row certifies the data round trip): the
    // lineitem facts are written as Morton-code cube partitions on
    // two derived dimensions, read back through a 2-D range predicate
    // — the multi-dimension range scan the layout exists for, where
    // every cube file is one z-rectangle and parquet footer stats
    // prune file-by-file — and aggregated against the raw-table
    // oracle. Exact-decimal sum, the money discipline.
    "sink_zorder_scan" -> ((s, d) => {
      import org.apache.spark.sql.types.DecimalType
      val dir = StreamQueries.drainDir("graft-zorder-") + "/cubes"
      val li = Tables.lineitem(s, d).select(
        col("l_orderkey"), col("l_linenumber"),
        (col("l_partkey") % 1024).cast("long").as("px"),
        (col("l_suppkey") % 1024).cast("long").as("sx"),
        col("l_quantity"))
      graft.sources.ZOrder.writeCubes(li, dir, files = 16, bits = 10,
        col("px"), col("sx"))
      s.read.parquet(dir)
        .filter(col("px").between(100, 199) && col("sx").between(300, 399))
        .agg(count(lit(1)).as("n"),
          sum(col("l_quantity").cast(DecimalType(18, 2))).cast("double")
            .as("sum_qty"),
          min(col("l_orderkey")).as("min_ok"),
          max(col("l_orderkey")).as("max_ok"))
    }),

    // Small-file compaction round trip under the oracle gate (the
    // sink_zorder_scan pattern): scatter a deterministic lineitem
    // subset across 32 tiny files, Compact.compact them (read-side
    // file-split packing, zero shuffle — CompactSpec pins the plan),
    // read the compacted layout back and aggregate. `compacted_ok`
    // certifies in-row that files genuinely consolidated and no row
    // was lost; the content aggregate hashes against DuckDB straight
    // off the base table.
    "sink_compact_scan" -> ((s, d) => {
      import org.apache.spark.sql.types.DecimalType
      val root = StreamQueries.drainDir("graft-compact-")
      val small = s"$root/small"; val out = s"$root/compacted"
      Tables.lineitem(s, d).filter(col("l_orderkey") % 4 === 0)
        .select(col("l_orderkey"), col("l_partkey"), col("l_quantity"))
        .repartition(32).write.mode("overwrite").parquet(small)
      val stats = graft.sources.Compact.compact(s, small, out,
        64L * 1024 * 1024)
      s.read.parquet(out)
        .agg(count(lit(1)).as("n"),
          sum(col("l_quantity").cast(DecimalType(18, 2))).cast("double")
            .as("sum_qty"),
          min(col("l_orderkey")).as("min_ok"),
          max(col("l_orderkey")).as("max_ok"))
        .withColumn("compacted_ok",
          lit(stats.filesAfter < stats.filesBefore &&
            stats.rowsAfter == stats.rowsBefore))
    }),

    // Zone-map data skipping under the oracle gate (ZoneMapSpec pins
    // the pruning mechanics): lineitem is range-clustered on a
    // derived key into 16 files with a per-file [min,max] sidecar,
    // then a narrow range predicate reads back through
    // ZoneMap.prunedRead — the sidecar admits only overlapping
    // zones, so most files are never LISTED for the scan, the skip
    // layer table formats keep in their transaction log. `pruned_ok`
    // certifies in-row that skipping genuinely fired (scanned <
    // total); the content aggregate hashes against DuckDB straight
    // off the base table.
    "sink_zonemap_scan" -> ((s, d) => {
      import org.apache.spark.sql.types.DecimalType
      val root = StreamQueries.drainDir("graft-zonemap-")
      val li = Tables.lineitem(s, d).select(
        col("l_orderkey"), (col("l_orderkey") % 4096).as("k"),
        col("l_quantity"))
      // k = l_orderkey % 4096 has a statically known [0, 4096) domain,
      // so the aligned write applies: exact bucket zones, and no
      // RangePartitioner reservoir pass (a full extra input scan)
      // before the clustering shuffle (§6 / §1.2).
      graft.sources.ZoneMap.write(li, root, files = 16, key = "k",
        statCols = Seq("k"), keyDomain = Some(4096L))
      val pr = graft.sources.ZoneMap.prunedRead(s, root, "k", 1000L, 1199L)
      pr.df.agg(count(lit(1)).as("n"),
          sum(col("l_quantity").cast(DecimalType(18, 2))).cast("double")
            .as("sum_qty"),
          min(col("l_orderkey")).as("min_ok"),
          max(col("l_orderkey")).as("max_ok"))
        .withColumn("pruned_ok", lit(pr.filesScanned < pr.filesTotal))
    }),

    "sink_flatfile_tsv" -> ((s, d) => {
      val li = Tables.lineitem(s, d)
      val p = Tables.part(s, d)
      li.join(broadcast(p), li("l_partkey") === p("p_partkey"))
        .filter(col("l_partkey") % 3 === 0)
        .select(concat_ws("\t",
          col("l_orderkey").cast("string"),
          concat(lit("IPR"), (col("l_partkey") % 7).cast("string")),
          col("p_name"),
          concat(lit("SIG"), (col("l_partkey") % 20).cast("string")),
          col("l_linenumber").cast("string"),
          (col("l_linenumber") + floor(col("l_quantity") / 10).cast("int"))
            .cast("string")).as("line"))
    }),

    // S16/K7: per-protein XML fragment emit in the FULL
    // match_complete.dtd grammar (interpro/ftp/xmlfiles.py:556-656 and
    // ftp/match_complete.dtd: protein[id,name,length,crc64,status,
    // taxid] > match[id,name,dbname,status,evd,model,type] > ipr? +
    // lcn[start,end,fragments,score,representative]). Nested elements
    // sort within each <protein> on the unique (linenumber, partkey)
    // key and are built entirely inside the group aggregation — the
    // driver only concatenates fragments; XmlDtdSpec validates the
    // stitched document against the checked-in DTD.
    "sink_xml_fragments" -> ((s, d) => {
      val li = Tables.lineitem(s, d)
      val p = Tables.part(s, d)
      li.join(broadcast(p), li("l_partkey") === p("p_partkey"))
        .select(col("l_orderkey"), col("l_linenumber"), col("l_partkey"),
          xmlEscape(col("p_name")).as("nm"),
          col("l_quantity").cast("int").as("score"),
          (col("l_linenumber") + floor(col("l_quantity") / 10).cast("int"))
            .as("lend"))
        .withColumn("m", concat(
          lit("<match id=\"P"), col("l_partkey").cast("string"),
          lit("\" name=\""), col("nm"),
          lit("\" dbname=\""),
          element_at(array(lit("PFAM"), lit("CDD"), lit("PROFILE"),
            lit("SMART"), lit("SSF")), (col("l_partkey") % 5 + 1).cast("int")),
          lit("\" status=\"T\" evd=\"HMM\" model=\"P"),
          col("l_partkey").cast("string"), lit("\" type=\""),
          element_at(array(lit("Domain"), lit("Family"), lit("Repeat"),
            lit("Site")), (col("l_partkey") % 4 + 1).cast("int")),
          lit("\">"),
          when(col("l_partkey") % 3 === 0, concat(
            lit("<ipr id=\"IPR"), (col("l_partkey") % 500).cast("string"),
            lit("\" name=\""), col("nm"), lit("\" type=\"Family\"/>")))
            .otherwise(lit("")),
          lit("<lcn start=\""), col("l_linenumber").cast("string"),
          lit("\" end=\""), col("lend").cast("string"),
          lit("\" fragments=\""), col("l_linenumber").cast("string"),
          lit("-"), col("lend").cast("string"), lit("-S\" score=\""),
          col("score").cast("string"), lit("\" representative=\""),
          when(col("l_linenumber") % 2 === 0, "true").otherwise("false"),
          lit("\"/></match>")))
        .groupBy(col("l_orderkey"))
        .agg(concat_ws("", transform(
          sort_array(collect_list(struct(col("l_linenumber"),
            col("l_partkey"), col("m")))),
          r => r("m"))).as("inner"),
          max(col("lend")).as("maxend"))
        .select(concat(
          lit("<protein id=\"P"), col("l_orderkey").cast("string"),
          lit("\" name=\"PROT_"), col("l_orderkey").cast("string"),
          lit("\" length=\""), (col("maxend") + 50).cast("string"),
          lit("\" crc64=\""), hex(col("l_orderkey") % 100000 * 977),
          lit("\" status=\"T\" taxid=\""),
          (col("l_orderkey") % 9999).cast("string"), lit("\">"),
          col("inner"), lit("</protein>")).as("xml"))
    }),

    // K9: per-database match formatter dispatch (InterProScan lookup
    // reshapes each library's matches differently — format_cdd /
    // format_panther / ..., interpro/lookup.py:136-420): a when()
    // dispatch emitting a per-db JSON document shape, string-built so
    // both engines render identically.
    "fmt_dispatch" -> ((s, d) => {
      val li = Tables.lineitem(s, d).select(
        col("l_orderkey"), col("l_linenumber"), col("l_partkey"),
        col("l_returnflag").as("db"), col("l_quantity"))
      li.select(col("l_orderkey"), col("l_linenumber"), col("db"),
        when(col("db") === "A",
          concat(lit("{\"lib\":\"cdd\",\"acc\":\"P"), col("l_partkey").cast("string"),
            lit("\",\"sites\":"), col("l_quantity").cast("int").cast("string"),
            lit("}")))
        .when(col("db") === "N",
          concat(lit("{\"lib\":\"panther\",\"acc\":\"P"), col("l_partkey").cast("string"),
            lit("\",\"subfam\":\"SF"), (col("l_partkey") % 10).cast("string"),
            lit("\"}")))
        .otherwise(
          concat(lit("{\"lib\":\"pfam\",\"acc\":\"P"), col("l_partkey").cast("string"),
            lit("\",\"clan\":\"CL"), (col("l_partkey") % 5).cast("string"),
            lit("\"}"))).as("doc"))
    }),

    // K9 (real formatters): per-library reshapes of the raw match
    // store for the InterProScan lookup service — each emits exactly
    // the field subset / renames / location[0] promotions its
    // reference formatter applies. Locations render per-row into
    // `locj` and aggregate sorted by [[locSortKey]], so both engines
    // compare byte-identically even when the testdata repeats
    // l_linenumber within an order.

    // format_cdd (interpro/lookup.py:268-288): locations keep
    // (start, end, evalue, score, fragments, sites); the top level
    // DROPS the default shape's score/evalue.
    "fmt_cdd" -> ((s, d) =>
      rawLookup(s, d).filter(col("libid") === 0)
        .withColumn("signature", concat(lit("cd"),
          lpad((col("l_partkey") % 1000).cast("string"), 5, "0")))
        .withColumn("locj",
          concat(lit("{\"start\":"), col("start").cast("string"),
            lit(",\"end\":"), col("end").cast("string"),
            lit(",\"evalue\":"), col("evalue"),
            lit(",\"score\":"), col("score").cast("string"),
            lit(",\"location-fragments\":"), col("frags_json"),
            lit(",\"sites\":"), col("sites_json"), lit("}")))
        .withColumn("skey", locSortKey)
        .groupBy(col("protein"), col("signature"))
        .agg(sortedLocs.as("locs"))
        .select(col("protein"), col("signature"),
          col("signature").as("model_ac"), col("locs"))),

    // format_panther (interpro/lookup.py:326-354): locations keep the
    // hmm/envelope fields but NOT per-location evalue/score; the an-
    // tree node id, evalue and score are promoted from locations[0]
    // to the top level; model-ac is the PTHR:SF subfamily model.
    "fmt_panther" -> ((s, d) =>
      rawLookup(s, d).filter(col("libid") === 1)
        .withColumn("signature",
          concat(lit("PTHR"), (col("l_partkey") % 300).cast("string")))
        .withColumn("model_ac", concat(col("signature"), lit(":SF"),
          (col("l_partkey") % 7).cast("string")))
        .withColumn("locj",
          concat(lit("{\"start\":"), col("start").cast("string"),
            lit(",\"end\":"), col("end").cast("string"),
            lit(",\"hmmStart\":"), col("hmm_start").cast("string"),
            lit(",\"hmmEnd\":"), col("hmm_end").cast("string"),
            lit(",\"hmmLength\":"), col("hmm_length").cast("string"),
            lit(",\"hmmBounds\":\""), col("hmm_bounds"),
            lit("\",\"envelopeStart\":"), col("env_start").cast("string"),
            lit(",\"envelopeEnd\":"), col("env_end").cast("string"),
            lit(",\"location-fragments\":"), col("frags_json"), lit("}")))
        .withColumn("skey", locSortKey)
        .groupBy(col("protein"), col("signature"), col("model_ac"))
        .agg(
          min_by(col("seqfeat"), col("skey")).as("ancestral_node"),
          min_by(col("evalue"), col("skey")).as("evalue"),
          min_by(col("score"), col("skey")).as("score"),
          sortedLocs.as("locs"))),

    // format_prints (interpro/lookup.py:356-377): per-location evalue
    // RENAMES to pvalue and hmmLength to motifNumber; the graphscan
    // string is promoted from locations[0]; top-level match evalue is
    // kept (synthesized here as the min over locations).
    "fmt_prints" -> ((s, d) =>
      rawLookup(s, d).filter(col("libid") === 2)
        .withColumn("signature",
          concat(lit("PR"), (col("l_partkey") % 500).cast("string")))
        .withColumn("locj",
          concat(lit("{\"start\":"), col("start").cast("string"),
            lit(",\"end\":"), col("end").cast("string"),
            lit(",\"pvalue\":"), col("evalue"),
            lit(",\"score\":"), col("score").cast("string"),
            lit(",\"motifNumber\":"), col("hmm_length").cast("string"),
            lit(",\"location-fragments\":"), col("frags_json"), lit("}")))
        .withColumn("skey", locSortKey)
        .groupBy(col("protein"), col("signature"))
        .agg(
          min(col("evalue")).as("evalue"),
          min_by(col("seqfeat"), col("skey")).as("graphscan"),
          sortedLocs.as("locs"))
        .select(col("protein"), col("signature"),
          col("signature").as("model_ac"), col("evalue"), col("graphscan"),
          col("locs"))),

    // format_prosite (interpro/lookup.py:379-399): locations carry the
    // cigarAlignment (sequence-feature rename); profiles/HAMAP keep
    // the per-location score, patterns drop it (score=False call).
    "fmt_prosite" -> ((s, d) =>
      rawLookup(s, d).filter(col("libid") === 3)
        .withColumn("signature",
          concat(lit("PS"), (col("l_partkey") % 800).cast("string")))
        .withColumn("variant",
          when(col("l_suppkey") % 2 === 0, "profiles").otherwise("patterns"))
        .withColumn("locj",
          concat(lit("{\"start\":"), col("start").cast("string"),
            lit(",\"end\":"), col("end").cast("string"),
            lit(",\"cigarAlignment\":\""), col("seqfeat"),
            lit("\",\"location-fragments\":"), col("frags_json"),
            when(col("variant") === "profiles",
              concat(lit(",\"score\":"), col("score").cast("string")))
              .otherwise(lit("")),
            lit("}")))
        .withColumn("skey", locSortKey)
        .groupBy(col("protein"), col("signature"), col("variant"))
        .agg(sortedLocs.as("locs"))
        .select(col("protein"), col("signature"),
          col("signature").as("model_ac"), col("variant"), col("locs"))),

    // format_superfamily (interpro/lookup.py:401-418): locations keep
    // (start, end, evalue, hmmLength, fragments) — no score, no
    // hmm start/end, no envelope.
    "fmt_superfamily" -> ((s, d) =>
      rawLookup(s, d).filter(col("libid") === 4)
        .withColumn("signature",
          concat(lit("SSF"), (col("l_partkey") % 400).cast("string")))
        .withColumn("locj",
          concat(lit("{\"start\":"), col("start").cast("string"),
            lit(",\"end\":"), col("end").cast("string"),
            lit(",\"evalue\":"), col("evalue"),
            lit(",\"hmmLength\":"), col("hmm_length").cast("string"),
            lit(",\"location-fragments\":"), col("frags_json"), lit("}")))
        .withColumn("skey", locSortKey)
        .groupBy(col("protein"), col("signature"))
        .agg(sortedLocs.as("locs"))
        .select(col("protein"), col("signature"),
          col("signature").as("model_ac"), col("locs"))),

    // K8: relationship-document denormalizer with fallback docs
    // (interpro/elastic/export.py:478-701): one doc per
    // (order × lineitem), plus a fallback doc for orders with no
    // lines — the left-join + conditional emit shape.
    "fanout_docs" -> ((s, d) => {
      val o = Tables.orders(s, d)
      val li = Tables.lineitem(s, d).filter(col("l_quantity") > 45)
      o.join(li, o("o_orderkey") === li("l_orderkey"), "left_outer")
        .select(
          concat(col("o_orderkey").cast("string"), lit("-"),
            coalesce(col("l_linenumber").cast("string"), lit("none"))).as("doc_id"),
          col("o_orderkey"),
          when(col("l_linenumber").isNotNull, "rel").otherwise("fallback")
            .as("doc_type"),
          coalesce(col("l_partkey"), lit(-1)).as("rel_part"),
          col("o_orderstatus"))
    })
  )

  /** Shared oracle CTE mirroring [[rawLookup]] for one library id. */
  private def rawLookupSql(libid: Int): String =
    s"""m AS (
         SELECT l_orderkey AS protein, l_partkey, l_suppkey,
                l_linenumber AS s,
                l_linenumber + CAST(floor(l_quantity / 10) AS INT) AS e,
                l_linenumber % 50 + 1 AS hs,
                l_linenumber % 50 + 21 AS he,
                CAST(l_suppkey % 100 AS INT) AS hl,
                CASE WHEN l_suppkey % 3 = 0 THEN 'COMPLETE'
                     WHEN l_suppkey % 3 = 1 THEN 'N_TERMINAL_COMPLETE'
                     ELSE 'C_TERMINAL_COMPLETE' END AS hb,
                l_linenumber - 1 AS es,
                l_linenumber + CAST(floor(l_quantity / 10) AS INT) + 1 AS ee,
                CAST(CAST(l_extendedprice AS DECIMAL(12,2)) AS VARCHAR) AS ev,
                CAST(l_quantity AS INT) AS sc,
                CASE WHEN l_suppkey % 3 = 0 THEN '[]'
                     ELSE '["r' || CAST(l_suppkey % 9 AS VARCHAR) || '"]'
                END AS sites,
                '[{"start":' || CAST(l_linenumber AS VARCHAR) || ',"end":' ||
                  CAST(l_linenumber + CAST(floor(l_quantity / 10) AS INT)
                       AS VARCHAR) || ',"dc-status":"CONTINUOUS"}]' AS frags
         FROM lineitem WHERE l_partkey % 5 = $libid)"""

  /** SQL mirror of [[locSortKey]]; `sf` is the library's sequence-
    * feature expression or `''` where the library has none.
    */
  private def locKeySql(sf: String): String =
    s"""lpad(CAST(s AS VARCHAR), 6, '0') || lpad(CAST(e AS VARCHAR), 6, '0')
        || locj || '|' || $sf || '|' || ev || '|' || CAST(sc AS VARCHAR)"""

  val oracle: Map[String, String] = Map(
    // mirrors CorpusOps.shuffleShards' md5('shuf:'||id) shard hash
    // (the sample_shuffle_shards oracle) and recomputes the manifest
    // straight from documents — equality certifies the gz-JSONL
    // write→read round trip byte-for-byte on text
    "sink_jsonl_shards" ->
      s"""WITH h AS (SELECT doc_id, text,
                            md5('shuf:' || CAST(doc_id AS VARCHAR)) AS h
                     FROM documents),
          b AS (SELECT doc_id, text, h,
                  CAST(((instr('0123456789abcdef', substr(h, 1, 1)) - 1) * 16 +
                        (instr('0123456789abcdef', substr(h, 2, 1)) - 1))
                       % $JsonlShards AS INT) AS shard
                FROM h),
          p AS (SELECT doc_id, text, shard,
                       CAST(row_number() OVER (PARTITION BY shard
                              ORDER BY h, doc_id) AS BIGINT) AS pos
                FROM b)
          SELECT shard, CAST(COUNT(*) AS BIGINT) AS n_docs,
                 CAST(SUM(len(string_split(text, ' '))) AS BIGINT) AS n_tokens,
                 CAST(SUM(length(text)) AS BIGINT) AS n_chars,
                 MAX(pos) AS max_pos
          FROM p GROUP BY shard""",
    "sink_zorder_scan" ->
      """SELECT CAST(COUNT(*) AS BIGINT) AS n,
                CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE)
                  AS sum_qty,
                MIN(l_orderkey) AS min_ok, MAX(l_orderkey) AS max_ok
         FROM lineitem
         WHERE (l_partkey % 1024) BETWEEN 100 AND 199
           AND (l_suppkey % 1024) BETWEEN 300 AND 399""",
    "sink_compact_scan" ->
      """SELECT CAST(COUNT(*) AS BIGINT) AS n,
                CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE)
                  AS sum_qty,
                MIN(l_orderkey) AS min_ok, MAX(l_orderkey) AS max_ok,
                TRUE AS compacted_ok
         FROM lineitem WHERE l_orderkey % 4 = 0""",
    "sink_zonemap_scan" ->
      """SELECT CAST(COUNT(*) AS BIGINT) AS n,
                CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE)
                  AS sum_qty,
                MIN(l_orderkey) AS min_ok, MAX(l_orderkey) AS max_ok,
                TRUE AS pruned_ok
         FROM lineitem WHERE (l_orderkey % 4096) BETWEEN 1000 AND 1199""",
    "fmt_cdd" ->
      s"""WITH ${rawLookupSql(0)},
          g AS (SELECT protein,
                       'cd' || lpad(CAST(l_partkey % 1000 AS VARCHAR), 5, '0')
                         AS signature,
                       '{"start":' || CAST(s AS VARCHAR) ||
                       ',"end":' || CAST(e AS VARCHAR) ||
                       ',"evalue":' || ev ||
                       ',"score":' || CAST(sc AS VARCHAR) ||
                       ',"location-fragments":' || frags ||
                       ',"sites":' || sites || '}' AS locj,
                       s, e, ev, sc
                FROM m),
          k AS (SELECT *, ${locKeySql("''")} AS skey FROM g)
          SELECT protein, signature, signature AS model_ac,
                 string_agg(locj, ',' ORDER BY skey) AS locs
          FROM k GROUP BY 1, 2""",
    "fmt_panther" ->
      s"""WITH ${rawLookupSql(1)},
          g AS (SELECT protein,
                       'PTHR' || CAST(l_partkey % 300 AS VARCHAR) AS signature,
                       'PTHR' || CAST(l_partkey % 300 AS VARCHAR) ||
                         ':SF' || CAST(l_partkey % 7 AS VARCHAR) AS model_ac,
                       'AN' || CAST(l_suppkey % 40 AS VARCHAR) AS sf,
                       '{"start":' || CAST(s AS VARCHAR) ||
                       ',"end":' || CAST(e AS VARCHAR) ||
                       ',"hmmStart":' || CAST(hs AS VARCHAR) ||
                       ',"hmmEnd":' || CAST(he AS VARCHAR) ||
                       ',"hmmLength":' || CAST(hl AS VARCHAR) ||
                       ',"hmmBounds":"' || hb ||
                       '","envelopeStart":' || CAST(es AS VARCHAR) ||
                       ',"envelopeEnd":' || CAST(ee AS VARCHAR) ||
                       ',"location-fragments":' || frags || '}' AS locj,
                       s, e, ev, sc
                FROM m),
          k AS (SELECT *, ${locKeySql("sf")} AS skey FROM g)
          SELECT protein, signature, model_ac,
                 arg_min(sf, skey) AS ancestral_node,
                 arg_min(ev, skey) AS evalue,
                 arg_min(sc, skey) AS score,
                 string_agg(locj, ',' ORDER BY skey) AS locs
          FROM k GROUP BY 1, 2, 3""",
    "fmt_prints" ->
      s"""WITH ${rawLookupSql(2)},
          g AS (SELECT protein,
                       'PR' || CAST(l_partkey % 500 AS VARCHAR) AS signature,
                       'I' || repeat('i', CAST(l_suppkey % 4 AS INT)) || '.'
                         AS sf,
                       '{"start":' || CAST(s AS VARCHAR) ||
                       ',"end":' || CAST(e AS VARCHAR) ||
                       ',"pvalue":' || ev ||
                       ',"score":' || CAST(sc AS VARCHAR) ||
                       ',"motifNumber":' || CAST(hl AS VARCHAR) ||
                       ',"location-fragments":' || frags || '}' AS locj,
                       s, e, ev, sc
                FROM m),
          k AS (SELECT *, ${locKeySql("sf")} AS skey FROM g)
          SELECT protein, signature, signature AS model_ac,
                 MIN(ev) AS evalue,
                 arg_min(sf, skey) AS graphscan,
                 string_agg(locj, ',' ORDER BY skey) AS locs
          FROM k GROUP BY 1, 2""",
    "fmt_prosite" ->
      s"""WITH ${rawLookupSql(3)},
          g AS (SELECT protein,
                       'PS' || CAST(l_partkey % 800 AS VARCHAR) AS signature,
                       CASE WHEN l_suppkey % 2 = 0 THEN 'profiles'
                            ELSE 'patterns' END AS variant,
                       CAST(e - s + 1 AS VARCHAR) || 'M' AS sf,
                       '{"start":' || CAST(s AS VARCHAR) ||
                       ',"end":' || CAST(e AS VARCHAR) ||
                       ',"cigarAlignment":"' || CAST(e - s + 1 AS VARCHAR) ||
                       'M","location-fragments":' || frags ||
                       CASE WHEN l_suppkey % 2 = 0
                            THEN ',"score":' || CAST(sc AS VARCHAR)
                            ELSE '' END || '}' AS locj,
                       s, e, ev, sc
                FROM m),
          k AS (SELECT *, ${locKeySql("sf")} AS skey FROM g)
          SELECT protein, signature, variant,
                 signature AS model_ac,
                 string_agg(locj, ',' ORDER BY skey) AS locs
          FROM k GROUP BY 1, 2, 3""",
    "fmt_superfamily" ->
      s"""WITH ${rawLookupSql(4)},
          g AS (SELECT protein,
                       'SSF' || CAST(l_partkey % 400 AS VARCHAR) AS signature,
                       '{"start":' || CAST(s AS VARCHAR) ||
                       ',"end":' || CAST(e AS VARCHAR) ||
                       ',"evalue":' || ev ||
                       ',"hmmLength":' || CAST(hl AS VARCHAR) ||
                       ',"location-fragments":' || frags || '}' AS locj,
                       s, e, ev, sc
                FROM m),
          k AS (SELECT *, ${locKeySql("''")} AS skey FROM g)
          SELECT protein, signature, signature AS model_ac,
                 string_agg(locj, ',' ORDER BY skey) AS locs
          FROM k GROUP BY 1, 2""",
    "sink_flatfile_tsv" ->
      """SELECT concat_ws(chr(9),
                CAST(l_orderkey AS VARCHAR),
                'IPR' || CAST(l_partkey % 7 AS VARCHAR),
                p_name,
                'SIG' || CAST(l_partkey % 20 AS VARCHAR),
                CAST(l_linenumber AS VARCHAR),
                CAST(l_linenumber + CAST(floor(l_quantity / 10) AS INT) AS VARCHAR)) AS line
         FROM lineitem JOIN part ON l_partkey = p_partkey
         WHERE l_partkey % 3 = 0""",
    "sink_xml_fragments" ->
      """WITH b AS (
           SELECT l_orderkey, l_linenumber, l_partkey,
                  replace(replace(replace(p_name, '&', '&amp;'),
                          '<', '&lt;'), '>', '&gt;') AS nm,
                  CAST(l_quantity AS INT) AS score,
                  l_linenumber + CAST(floor(l_quantity / 10) AS INT) AS lend
           FROM lineitem JOIN part ON l_partkey = p_partkey),
         m AS (
           SELECT *,
                  '<match id="P' || CAST(l_partkey AS VARCHAR) ||
                  '" name="' || nm || '" dbname="' ||
                  ['PFAM','CDD','PROFILE','SMART','SSF'][l_partkey % 5 + 1] ||
                  '" status="T" evd="HMM" model="P' ||
                  CAST(l_partkey AS VARCHAR) || '" type="' ||
                  ['Domain','Family','Repeat','Site'][l_partkey % 4 + 1] ||
                  '">' ||
                  CASE WHEN l_partkey % 3 = 0
                       THEN '<ipr id="IPR' || CAST(l_partkey % 500 AS VARCHAR)
                         || '" name="' || nm || '" type="Family"/>'
                       ELSE '' END ||
                  '<lcn start="' || CAST(l_linenumber AS VARCHAR) ||
                  '" end="' || CAST(lend AS VARCHAR) ||
                  '" fragments="' || CAST(l_linenumber AS VARCHAR) || '-' ||
                  CAST(lend AS VARCHAR) || '-S" score="' ||
                  CAST(score AS VARCHAR) || '" representative="' ||
                  CASE WHEN l_linenumber % 2 = 0 THEN 'true'
                       ELSE 'false' END || '"/></match>' AS mx
           FROM b)
         SELECT '<protein id="P' || CAST(l_orderkey AS VARCHAR) ||
                '" name="PROT_' || CAST(l_orderkey AS VARCHAR) ||
                '" length="' || CAST(MAX(lend) + 50 AS VARCHAR) ||
                '" crc64="' || hex(l_orderkey % 100000 * 977) ||
                '" status="T" taxid="' ||
                CAST(l_orderkey % 9999 AS VARCHAR) || '">' ||
                string_agg(mx, '' ORDER BY l_linenumber, l_partkey, mx) ||
                '</protein>' AS xml
         FROM m
         GROUP BY l_orderkey""",
    "fmt_dispatch" ->
      """SELECT l_orderkey, l_linenumber, l_returnflag AS db,
                CASE WHEN l_returnflag = 'A' THEN
                       '{"lib":"cdd","acc":"P' || CAST(l_partkey AS VARCHAR) ||
                       '","sites":' || CAST(CAST(l_quantity AS INT) AS VARCHAR) || '}'
                     WHEN l_returnflag = 'N' THEN
                       '{"lib":"panther","acc":"P' || CAST(l_partkey AS VARCHAR) ||
                       '","subfam":"SF' || CAST(l_partkey % 10 AS VARCHAR) || '"}'
                     ELSE
                       '{"lib":"pfam","acc":"P' || CAST(l_partkey AS VARCHAR) ||
                       '","clan":"CL' || CAST(l_partkey % 5 AS VARCHAR) || '"}'
                END AS doc
         FROM lineitem""",
    "fanout_docs" ->
      """SELECT CAST(o_orderkey AS VARCHAR) || '-' ||
                COALESCE(CAST(l_linenumber AS VARCHAR), 'none') AS doc_id,
                o_orderkey,
                CASE WHEN l_linenumber IS NOT NULL THEN 'rel'
                     ELSE 'fallback' END AS doc_type,
                COALESCE(l_partkey, -1) AS rel_part,
                o_orderstatus
         FROM orders o LEFT JOIN
              (SELECT * FROM lineitem WHERE l_quantity > 45) l
              ON o.o_orderkey = l.l_orderkey"""
  )
}
