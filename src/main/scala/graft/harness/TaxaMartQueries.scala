package graft.harness

import graft.Tables
import graft.ops.Loops.LoopOps
import graft.ops.RelOps
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Taxon-, proteome- and structure-side xref bundles plus their marts —
  * the inverted-xref families the reference builds one entity kind at a
  * time (interpro/xrefs/taxa.py:44-260, xrefs/proteomes.py:24-121,
  * xrefs/structures.py:8-123) and loads into webfront tables
  * (interpro/mysql/taxa.py:11-190, mysql/entries.py:321-335).
  *
  * Shared analogy across this module: protein = order, taxon lineage =
  * region -> nation -> customer ("R#"/"N#"/"C#" node ids), match =
  * lineitem (db from l_partkey%5, entry = db-prefixed l_partkey%97),
  * proteome = an optional per-protein label, structure = supplier
  * ("PDB<s_suppkey>"). The reference's per-worker dict merging +
  * ancestor propagation (taxa.py:195-260) collapses into explode(
  * lineage) + keyed aggregations — one shuffle per aggregate, no
  * driver state, hot root nodes handled by Spark's two-phase partial
  * aggregation (the salted form is proven separately in
  * agg_rollup_salted).
  */
object TaxaMartQueries {
  type Q = (SparkSession, String) => DataFrame

  // ---- shared synthetic frames -------------------------------------

  /** Proteins with lineage + optional proteome: taxa.py:38-47 reads
    * (taxid, proteome) per protein; every fourth protein has no
    * proteome (proteomes_store.get returning None, taxa.py:74-75).
    */
  private val proteins = SharedFrames.Frame("mart_proteins") { (s, d) =>
    // cached once per (session, sf): SIX consumers re-ran the
    // orders ⋈ customer ⋈ nation cascade before r18 (matchNodes,
    // proteinNodes, and the protInfo sides of the structure/proteome
    // bundles) — the family's one fact-sized join now happens once and
    // its cost lands on the warm_taxamart_frames row (§2.4)
    val o = Tables.orders(s, d).select(
      col("o_orderkey").as("protein"), col("o_custkey"))
    val c = Tables.customer(s, d).select(col("c_custkey"), col("c_nationkey"))
    val n = Tables.nation(s, d).select(col("n_nationkey"), col("n_regionkey"))
    o.join(c, col("o_custkey") === col("c_custkey"))
      .join(broadcast(n), col("c_nationkey") === col("n_nationkey"))
      .select(col("protein"),
        when(col("o_custkey") % 4 =!= 0,
          concat(lit("UP"), (col("o_custkey") % 50).cast("string")))
          .as("proteome"),
        col("n_regionkey"), col("c_nationkey"), col("c_custkey"),
        array(
          concat(lit("R"), col("n_regionkey").cast("string")),
          concat(lit("N"), col("c_nationkey").cast("string")),
          concat(lit("C"), col("c_custkey").cast("string"))).as("lineage"))
  }

  /** Matches keyed by protein: db / db-prefixed entry / clan /
    * structure hit / match location (taxa.py:50-81 walks matches_store
    * + uniprot2pdb per protein; unused columns prune away per query).
    */
  private def matches(s: SparkSession, d: String): DataFrame =
    Tables.lineitem(s, d).select(
      col("l_orderkey").as("protein"),
      element_at(array(lit("cdd"), lit("panther"), lit("pfam"),
        lit("profile"), lit("smart")),
        (col("l_partkey") % 5 + 1).cast("int")).as("db"),
      col("l_partkey"), col("l_suppkey"),
      concat(lit("PDB"), (col("l_suppkey") % 100).cast("string")).as("pdb"),
      concat(lit("CL"), (col("l_partkey") % 11).cast("string")).as("clan"),
      col("l_linenumber").as("ms"),
      (col("l_linenumber") + floor(col("l_quantity") / 10).cast("int"))
        .as("me"))
      .withColumn("entry",
        concat(col("db"), lit("-"), (col("l_partkey") % 97).cast("string")))

  /** Matches exploded onto every lineage node — the Spark form of
    * "propagate to ancestors, including the taxon itself"
    * (taxa.py:207-211): one narrow fact, lineage-depth x rows.
    */
  private val matchNodes = SharedFrames.Frame("mart_match_nodes") { (s, d) =>
    // cached once per family pass: four mart/bundle queries
    // aggregate this lineage-expanded fact, and the 600k-row join +
    // 3x explode dominated each of them when rebuilt per query
    // (mart_taxa_per_entry warm A/B at sf0.1: 4.0 -> ~2.4 s); the
    // bench charges the build to warm_taxamart_frames
    matches(s, d)
      .join(proteins(s, d).select(col("protein"), col("lineage")),
        "protein")
      .select(col("protein"), col("db"), col("entry"), col("pdb"),
        explode(col("lineage")).as("node_id"))
  }

  private val proteinNodes = SharedFrames.Frame("mart_protein_nodes") { (s, d) =>
    proteins(s, d).select(col("protein"), col("proteome"),
      explode(col("lineage")).as("node_id"))
  }

  /** Per-node protein totals + distinct-proteome counts — the
    * identical full aggregation over [[proteinNodes]] that THREE
    * queries re-ran per census (xref_taxon_bundle, mart_taxa_counts,
    * mart_taxa_per_entry's proteome attach); node-dimension-sized
    * output, so the cache is tiny while each rebuild was a full pass
    * over the lineage-exploded protein fact (§2.4).
    */
  private val nodeProteinStats = SharedFrames.Frame("mart_node_protein_stats") { (s, d) =>
    proteinNodes(s, d).groupBy(col("node_id")).agg(
      count(lit(1)).as("num_proteins"),
      countDistinct(col("proteome")).as("n_proteomes"))
  }

  /** Per-node distinct-structure counts over [[matchNodes]] — shared
    * by xref_taxon_bundle and mart_taxa_counts (each re-aggregated the
    * lineage-exploded match fact before r18); node-sized output.
    */
  private val nodeStructures = SharedFrames.Frame("mart_node_structures") { (s, d) =>
    matchNodes(s, d).groupBy(col("node_id"))
      .agg(countDistinct(col("pdb")).as("n_structures"))
  }

  private[graft] val sharedFrames: Seq[SharedFrames.Frame] = Seq(
    proteins, matchNodes, nodeStructures, proteinNodes, nodeProteinStats)

  val queries: Map[String, Q] = Map(
    // taxon2xrefs end-to-end (xrefs/taxa.py:44-260): per taxon node
    // (own counts + every descendant's, via the lineage explode) —
    // protein total, distinct proteomes, distinct structures, per-db
    // protein counts (a protein counts ONCE per db, taxa.py:63-66)
    // and per-entry match counts (taxa.py:68-71), the nested maps
    // rendered as sorted "k:v" csv so both engines agree bytewise.
    "xref_taxon_bundle" -> ((s, d) => {
      val mn = matchNodes(s, d)
      val ps = nodeProteinStats(s, d)
        .withColumnRenamed("num_proteins", "n_proteins")
      val dbc = mn.groupBy(col("node_id"), col("db"))
        .agg(countDistinct(col("protein")).as("n"))
        .withColumn("kv", concat(col("db"), lit(":"), col("n").cast("string")))
        .groupBy(col("node_id"))
        .agg(concat_ws(",", sort_array(collect_list(col("kv"))))
          .as("db_counts"))
      val ec = mn.groupBy(col("node_id"), col("entry"))
        .agg(count(lit(1)).as("n"))
        .withColumn("kv", concat(col("entry"), lit(":"), col("n").cast("string")))
        .groupBy(col("node_id"))
        .agg(concat_ws(",", sort_array(collect_list(col("kv"))))
          .as("entry_counts"))
      val st = nodeStructures(s, d)
      ps.join(dbc, Seq("node_id"), "left_outer")
        .join(ec, Seq("node_id"), "left_outer")
        .join(st, Seq("node_id"), "left_outer")
        .select(col("node_id"), col("n_proteins"), col("n_proteomes"),
          coalesce(col("n_structures"), lit(0L)).as("n_structures"),
          coalesce(col("db_counts"), lit("")).as("db_counts"),
          coalesce(col("entry_counts"), lit("")).as("entry_counts"))
    }),

    // webfront_taxonomy (mysql/taxa.py:22-35,160-178): one row per
    // taxon node — space-wrapped lineage string, parent pointer, rank,
    // sorted children list, rolled-up num_proteins and the counts
    // JSON {"entries":{"total":..,<db>:..},"proteomes":..,
    // "proteins":..,"structures":..} (entries_per_db at
    // taxa.py:125-131; key order fixed total-first/db-sorted so the
    // rendering is deterministic cross-engine).
    "mart_taxa_counts" -> ((s, d) => {
      // Node dims via a NARROW distinct (§2.3 — shuffle keys, not
      // payloads): the r16 form ran the full proteins() join (orders ⋈
      // customer ⋈ nation, two fact-sized exchanges) and then
      // distinct'd the 3-int lineage triple over every order row —
      // a third fact-sized exchange. The customer set is determined by
      // o_custkey alone, so distinct the single int first (one narrow
      // exchange with map-side partial) and attach the dimension keys
      // after, when the frame is customer-sized.
      // ...and materialize the customer-sized result: the nodes union
      // below has three arms and is itself consumed twice (nodes +
      // children), so an unmaterialized cDim would replay the fact
      // scan up to six times (checkpoint blocks are reclaimed by
      // Bench's ephemeral sweep).
      val cDim = Tables.orders(s, d).select(col("o_custkey")).distinct()
        .join(Tables.customer(s, d)
            .select(col("c_custkey"), col("c_nationkey")),
          col("o_custkey") === col("c_custkey"))
        .join(broadcast(Tables.nation(s, d)
            .select(col("n_nationkey"), col("n_regionkey"))),
          col("c_nationkey") === col("n_nationkey"))
        .select(col("n_regionkey"), col("c_nationkey"), col("c_custkey"))
        .loopCheckpoint()
      val nDim = cDim.select(col("n_regionkey"), col("c_nationkey")).distinct()
      val rDim = nDim.select(col("n_regionkey")).distinct()
      val rs = col("n_regionkey").cast("string")
      val ns = col("c_nationkey").cast("string")
      val cs = col("c_custkey").cast("string")
      val nodes =
        rDim.select(concat(lit("R"), rs).as("accession"),
          lit(null).cast("string").as("parent_id"),
          lit("superkingdom").as("rank"),
          concat(lit(" R"), rs, lit(" ")).as("lineage"))
        .unionByName(nDim.select(concat(lit("N"), ns).as("accession"),
          concat(lit("R"), rs).as("parent_id"),
          lit("phylum").as("rank"),
          concat(lit(" R"), rs, lit(" N"), ns, lit(" ")).as("lineage")))
        .unionByName(cDim.select(concat(lit("C"), cs).as("accession"),
          concat(lit("N"), ns).as("parent_id"),
          lit("species").as("rank"),
          concat(lit(" R"), rs, lit(" N"), ns, lit(" C"), cs, lit(" "))
            .as("lineage")))
      val children = nodes.filter(col("parent_id").isNotNull)
        .select(col("parent_id").as("kid_parent"),
          col("accession").as("child"))
        .groupBy(col("kid_parent"))
        .agg(concat_ws(",", sort_array(collect_list(col("child"))))
          .as("children"))
        .withColumnRenamed("kid_parent", "accession")
      val mn = matchNodes(s, d)
      val ps = nodeProteinStats(s, d)
      val perDb = mn.groupBy(col("node_id"), col("db"))
        .agg(countDistinct(col("entry")).as("n_entries"))
      val entriesJson = perDb.groupBy(col("node_id")).agg(
        sum(col("n_entries")).as("total_entries"),
        concat_ws(",", sort_array(collect_list(
          concat(lit("\""), col("db"), lit("\":"),
            col("n_entries").cast("string"))))).as("per_db"))
      val st = nodeStructures(s, d)
      nodes
        .join(ps.withColumnRenamed("node_id", "accession"), Seq("accession"))
        .join(entriesJson.withColumnRenamed("node_id", "accession"),
          Seq("accession"))
        .join(st.withColumnRenamed("node_id", "accession"), Seq("accession"))
        .join(children, Seq("accession"), "left_outer")
        .select(col("accession"), col("parent_id"), col("rank"),
          col("lineage"),
          coalesce(col("children"), lit("")).as("children"),
          col("num_proteins"),
          concat(lit("{\"entries\":{\"total\":"),
            col("total_entries").cast("string"),
            lit(","), col("per_db"),
            lit("},\"proteomes\":"), col("n_proteomes").cast("string"),
            lit(",\"proteins\":"), col("num_proteins").cast("string"),
            lit(",\"structures\":"), col("n_structures").cast("string"),
            lit("}")).as("counts"))
    }),

    // webfront_taxonomyperentry (mysql/taxa.py:37-48,126-143): one row
    // per (taxon node, entry) with that entry's protein count at the
    // node and the per-row counts JSON {"proteomes": node total,
    // "proteins": entry's, "structures": entry's} (taxa.py:133-140).
    // This is the taxonomy-browser fact table — at warehouse scale its
    // row count is lineage_depth x matches, which is why it stays one
    // keyed aggregation end to end.
    "mart_taxa_per_entry" -> ((s, d) => {
      val mn = matchNodes(s, d)
      val nodeProteomes = nodeProteinStats(s, d)
        .select(col("node_id"), col("n_proteomes"))
      mn.groupBy(col("node_id"), col("entry"))
        .agg(countDistinct(col("protein")).as("num_proteins"),
          countDistinct(col("pdb")).as("n_structures"))
        .join(nodeProteomes, Seq("node_id"))
        .select(col("node_id").as("tax_id"), col("entry").as("entry_acc"),
          col("num_proteins"),
          concat(lit("{\"proteomes\":"), col("n_proteomes").cast("string"),
            lit(",\"proteins\":"), col("num_proteins").cast("string"),
            lit(",\"structures\":"), col("n_structures").cast("string"),
            lit("}")).as("counts"))
    }),

    // proteome2xrefs (xrefs/proteomes.py:24-121): keyed by proteome
    // instead of taxon, no ancestor propagation, and — the shape the
    // taxon side lacks — EVERY proteome appears, including those with
    // zero proteins ("N proteomes without cross-references",
    // proteomes.py:205-207): the proteome dimension left-joins the
    // aggregates. Proteome dim = customer; protein -> proteome via
    // o_custkey; taxon of the proteome = its nation.
    "xref_proteome_bundle" -> ((s, d) => {
      val dim = Tables.customer(s, d).select(
        concat(lit("UPC"), col("c_custkey").cast("string")).as("proteome_id"),
        col("c_custkey"),
        concat(lit("N"), col("c_nationkey").cast("string")).as("taxon_id"))
      val prot = Tables.orders(s, d).select(
        col("o_orderkey").as("protein"), col("o_custkey"))
      val m = matches(s, d)
      val pm = prot.join(m, "protein")
      val ps = prot.groupBy(col("o_custkey"))
        .agg(count(lit(1)).as("n_proteins"))
        .withColumnRenamed("o_custkey", "c_custkey")
      val dbc = pm.groupBy(col("o_custkey"), col("db"))
        .agg(countDistinct(col("protein")).as("n"))
        .withColumn("kv", concat(col("db"), lit(":"), col("n").cast("string")))
        .groupBy(col("o_custkey"))
        .agg(concat_ws(",", sort_array(collect_list(col("kv"))))
          .as("db_counts"))
        .withColumnRenamed("o_custkey", "c_custkey")
      val ec = pm.groupBy(col("o_custkey"), col("entry"))
        .agg(count(lit(1)).as("n"))
        .withColumn("kv", concat(col("entry"), lit(":"), col("n").cast("string")))
        .groupBy(col("o_custkey"))
        .agg(concat_ws(",", sort_array(collect_list(col("kv"))))
          .as("entry_counts"))
        .withColumnRenamed("o_custkey", "c_custkey")
      val st = pm.groupBy(col("o_custkey"))
        .agg(countDistinct(col("pdb")).as("n_structures"))
        .withColumnRenamed("o_custkey", "c_custkey")
      dim.join(ps, Seq("c_custkey"), "left_outer")
        .join(dbc, Seq("c_custkey"), "left_outer")
        .join(ec, Seq("c_custkey"), "left_outer")
        .join(st, Seq("c_custkey"), "left_outer")
        .select(col("proteome_id"), col("taxon_id"),
          coalesce(col("n_proteins"), lit(0L)).as("n_proteins"),
          coalesce(col("n_structures"), lit(0L)).as("n_structures"),
          coalesce(col("db_counts"), lit("")).as("db_counts"),
          coalesce(col("entry_counts"), lit("")).as("entry_counts"))
    }),

    // structure2xrefs (xrefs/structures.py:8-123): keyed by PDB
    // structure. Protein matches attach to a structure only where the
    // match location overlaps the chain's mapped segment — the SIFTS
    // segment semantics, reusing the J8 equi+interval join
    // (RelOps.intervalJoin, interpro/utils.py:21-40). Per structure:
    // distinct proteins/taxa/proteomes (structures.py:86-117), domain
    // organisations via each protein's sorted-db fingerprint
    // (structures.py:99-105 domorgs_store), clans from the entry ->
    // clan map (structures.py:29-33,74-80) and the per-db entry sets
    // (structures.py:66-72). The supplier dim left-joins so unmatched
    // structures keep their zeroed base xrefs (structures.py:41-49).
    "xref_structure_bundle" -> ((s, d) => {
      val chains = Tables.supplier(s, d).select(
        col("s_suppkey"),
        concat(lit("PDB"), col("s_suppkey").cast("string")).as("pdb_id"),
        (col("s_suppkey") % 5).cast("int").as("cs"),
        ((col("s_suppkey") % 5) + 3).cast("int").as("ce"))
      val m = matches(s, d).select(col("protein"), col("db"), col("entry"),
        col("clan"), col("l_suppkey"), col("ms"), col("me"))
      val hits = RelOps.intervalJoin(m, chains,
        m("l_suppkey") === chains("s_suppkey"),
        col("ms"), col("me"), col("cs"), col("ce"))
      val protInfo = proteins(s, d).select(col("protein"), col("proteome"),
        concat(lit("N"), col("c_nationkey").cast("string")).as("taxon"))
      val domorg = matches(s, d).groupBy(col("protein"))
        .agg(md5(concat_ws("-", sort_array(collect_set(col("db")))))
          .as("dom_org"))
      val agg = hits.join(protInfo, Seq("protein"))
        .join(domorg, Seq("protein"))
        .groupBy(col("pdb_id")).agg(
          countDistinct(col("protein")).as("n_proteins"),
          countDistinct(col("taxon")).as("n_taxa"),
          countDistinct(col("proteome")).as("n_proteomes"),
          countDistinct(col("clan")).as("n_clans"),
          countDistinct(col("dom_org")).as("n_domorgs"),
          concat_ws(",", sort_array(collect_set(col("entry"))))
            .as("entries"))
      chains.select(col("pdb_id"))
        .join(agg, Seq("pdb_id"), "left_outer")
        .select(col("pdb_id"),
          coalesce(col("n_proteins"), lit(0L)).as("n_proteins"),
          coalesce(col("n_taxa"), lit(0L)).as("n_taxa"),
          coalesce(col("n_proteomes"), lit(0L)).as("n_proteomes"),
          coalesce(col("n_clans"), lit(0L)).as("n_clans"),
          coalesce(col("n_domorgs"), lit(0L)).as("n_domorgs"),
          coalesce(col("entries"), lit("")).as("entries"))
    }),

    // Best representative structure per entry
    // (interpro/mysql/entries.py:321-335): among an entry's structures
    // with chain coverage, keep the one with max coverage, then min
    // resolution — the reference's sequential best-tracker starting at
    // (MIN_COVERAGE, MAX_RESOLUTION) admits any structure with
    // coverage above the floor, but one AT the floor only when its
    // resolution beats the ceiling. One window over the per-(entry,
    // structure) coverage aggregate — no self-join; pdb_id breaks
    // exact (coverage, resolution) ties deterministically where the
    // reference inherits dict order.
    "mart_structure_repr" -> ((s, d) => {
      val chains = Tables.supplier(s, d).select(
        col("s_suppkey"),
        concat(lit("PDB"), col("s_suppkey").cast("string")).as("pdb_id"),
        (col("s_suppkey") % 5).cast("int").as("cs"),
        ((col("s_suppkey") % 5) + 3).cast("int").as("ce"),
        ((col("s_suppkey") % 35 + 10) / lit(10.0)).as("resolution"))
      val m = matches(s, d).select(col("entry"), col("l_suppkey"),
        col("ms"), col("me"))
      val cov = RelOps.intervalJoin(m, chains,
        m("l_suppkey") === chains("s_suppkey"),
        col("ms"), col("me"), col("cs"), col("ce"))
        .select(col("entry").as("entry_acc"), col("pdb_id"), col("resolution"),
          ((least(col("me"), col("ce")) - greatest(col("ms"), col("cs")) + 1)
            / lit(4.0)).as("c"))
        .groupBy(col("entry_acc"), col("pdb_id"), col("resolution"))
        .agg(max(col("c")).as("coverage"))
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy(col("entry_acc"))
        .orderBy(col("coverage").desc, col("resolution").asc,
          col("pdb_id").asc)
      cov.filter(col("coverage") > 0.5 ||
          (col("coverage") === 0.5 && col("resolution") < 4.0))
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") === 1)
        .select(col("entry_acc"), col("pdb_id"), col("coverage"),
          col("resolution"))
    }),

    // webfront_proteome (mysql/proteomes.py:20-34,159-176): one row
    // per proteome with xrefs — name, is_reference flag, owning taxon
    // and the counts JSON {"entries":{"total":..,<db>:..},
    // "proteins":..,"structures":..} (entries_per_db built at
    // proteomes.py:125-131, totals at :165-172). Identical key order
    // discipline as mart_taxa_counts: total first, then db-sorted.
    // Proteome dim = customer (the xref_proteome_bundle analogy);
    // the reference only writes proteomes present in the xrefs store,
    // so the aggregates inner-join.
    "mart_proteome_counts" -> ((s, d) => {
      val dim = Tables.customer(s, d).select(
        col("c_custkey"),
        concat(lit("UPC"), col("c_custkey").cast("string")).as("accession"),
        col("c_name").as("name"),
        (col("c_custkey") % 7 === 0).as("is_reference"),
        concat(lit("N"), col("c_nationkey").cast("string"))
          .as("taxonomy_id"))
      val prot = Tables.orders(s, d).select(
        col("o_orderkey").as("protein"), col("o_custkey"))
      val pm = prot.join(matches(s, d), "protein")
      val ps = prot.groupBy(col("o_custkey"))
        .agg(count(lit(1)).as("num_proteins"))
      val ej = pm.groupBy(col("o_custkey"), col("db"))
        .agg(countDistinct(col("entry")).as("n_entries"))
        .groupBy(col("o_custkey")).agg(
          sum(col("n_entries")).as("total_entries"),
          concat_ws(",", sort_array(collect_list(
            concat(lit("\""), col("db"), lit("\":"),
              col("n_entries").cast("string"))))).as("per_db"))
      val st = pm.groupBy(col("o_custkey"))
        .agg(countDistinct(col("pdb")).as("n_structures"))
      dim
        .join(ps.withColumnRenamed("o_custkey", "c_custkey"),
          Seq("c_custkey"))
        .join(ej.withColumnRenamed("o_custkey", "c_custkey"),
          Seq("c_custkey"))
        .join(st.withColumnRenamed("o_custkey", "c_custkey"),
          Seq("c_custkey"))
        .select(col("accession"), col("name"), col("is_reference"),
          col("taxonomy_id"), col("num_proteins"),
          concat(lit("{\"entries\":{\"total\":"),
            col("total_entries").cast("string"),
            lit(","), col("per_db"),
            lit("},\"proteins\":"), col("num_proteins").cast("string"),
            lit(",\"structures\":"), col("n_structures").cast("string"),
            lit("}")).as("counts"))
    }),

    // webfront_proteomeperentry (mysql/proteomes.py:36-47,126-143):
    // one row per (proteome, entry) with the entry's protein count in
    // that proteome and the per-row counts JSON
    // {"proteins":..,"structures":..} — the proteome-axis twin of
    // mart_taxa_per_entry, one keyed aggregation end to end.
    "mart_proteome_per_entry" -> ((s, d) => {
      val prot = Tables.orders(s, d).select(
        col("o_orderkey").as("protein"), col("o_custkey"))
      prot.join(matches(s, d), "protein")
        .groupBy(col("o_custkey"), col("entry"))
        .agg(countDistinct(col("protein")).as("num_proteins"),
          countDistinct(col("pdb")).as("n_structures"))
        .select(
          concat(lit("UPC"), col("o_custkey").cast("string"))
            .as("accession"),
          col("entry").as("entry_acc"), col("num_proteins"),
          concat(lit("{\"proteins\":"), col("num_proteins").cast("string"),
            lit(",\"structures\":"), col("n_structures").cast("string"),
            lit("}")).as("counts"))
    }),

    // webfront_proteomeperentrydb (mysql/proteomes.py:48-61,144-157):
    // one row per (proteome, member database) with the db's protein
    // count and counts JSON {"entries":..,"proteins":..,
    // "structures":..} — the db-rollup sibling of the per-entry mart.
    "mart_proteome_per_entry_db" -> ((s, d) => {
      val prot = Tables.orders(s, d).select(
        col("o_orderkey").as("protein"), col("o_custkey"))
      prot.join(matches(s, d), "protein")
        .groupBy(col("o_custkey"), col("db"))
        .agg(countDistinct(col("protein")).as("num_proteins"),
          countDistinct(col("entry")).as("n_entries"),
          countDistinct(col("pdb")).as("n_structures"))
        .select(
          concat(lit("UPC"), col("o_custkey").cast("string"))
            .as("accession"),
          col("db").as("source_database"), col("num_proteins"),
          concat(lit("{\"entries\":"), col("n_entries").cast("string"),
            lit(",\"proteins\":"), col("num_proteins").cast("string"),
            lit(",\"structures\":"), col("n_structures").cast("string"),
            lit("}")).as("counts"))
    }),

    // webfront_structure (mysql/structures.py:34-95,117-153): one row
    // per PDB structure — name, experiment type, resolution and the
    // counts JSON {"domain_architectures":..,"entries":{"total":..,
    // <db>:..},"proteomes":..,"proteins":..,"sets":..,"taxa":..}
    // (num_entries built at structures.py:119-123). EVERY structure
    // gets a row (the reference iterates the full structures pickle),
    // so the xref aggregate left-joins and an unmatched structure
    // renders {"total":0} with no per-db arm — the conditional comma
    // is shared verbatim with the oracle.
    "mart_structure_counts" -> ((s, d) => {
      val chains = Tables.supplier(s, d).select(
        col("s_suppkey"),
        concat(lit("PDB"), col("s_suppkey").cast("string")).as("pdb_id"),
        col("s_name").as("name"),
        element_at(array(lit("X-ray diffraction"), lit("Solution NMR"),
          lit("Electron microscopy")),
          (col("s_suppkey") % 3 + 1).cast("int")).as("experiment_type"),
        ((col("s_suppkey") % 35 + 10) / lit(10.0)).as("resolution"),
        (col("s_suppkey") % 5).cast("int").as("cs"),
        ((col("s_suppkey") % 5) + 3).cast("int").as("ce"))
      val m = matches(s, d).select(col("protein"), col("db"), col("entry"),
        col("clan"), col("l_suppkey"), col("ms"), col("me"))
      val hits = RelOps.intervalJoin(m, chains,
        m("l_suppkey") === chains("s_suppkey"),
        col("ms"), col("me"), col("cs"), col("ce"))
      val protInfo = proteins(s, d).select(col("protein"), col("proteome"),
        concat(lit("N"), col("c_nationkey").cast("string")).as("taxon"))
      val domorg = matches(s, d).groupBy(col("protein"))
        .agg(md5(concat_ws("-", sort_array(collect_set(col("db")))))
          .as("dom_org"))
      val enriched = hits.join(protInfo, Seq("protein"))
        .join(domorg, Seq("protein"))
      val ej = enriched.groupBy(col("pdb_id"), col("db"))
        .agg(countDistinct(col("entry")).as("n_entries"))
        .groupBy(col("pdb_id")).agg(
          sum(col("n_entries")).as("total_entries"),
          concat_ws(",", sort_array(collect_list(
            concat(lit("\""), col("db"), lit("\":"),
              col("n_entries").cast("string"))))).as("per_db"))
      val agg = enriched.groupBy(col("pdb_id")).agg(
        countDistinct(col("protein")).as("n_proteins"),
        countDistinct(col("taxon")).as("n_taxa"),
        countDistinct(col("proteome")).as("n_proteomes"),
        countDistinct(col("clan")).as("n_sets"),
        countDistinct(col("dom_org")).as("n_domorgs"))
      chains.select(col("pdb_id"), col("name"), col("experiment_type"),
          col("resolution"))
        .join(agg, Seq("pdb_id"), "left_outer")
        .join(ej, Seq("pdb_id"), "left_outer")
        .select(col("pdb_id").as("accession"), col("name"),
          lit("pdb").as("source_database"), col("experiment_type"),
          col("resolution"),
          concat(lit("{\"domain_architectures\":"),
            coalesce(col("n_domorgs"), lit(0L)).cast("string"),
            lit(",\"entries\":{\"total\":"),
            coalesce(col("total_entries"), lit(0L)).cast("string"),
            when(col("per_db").isNotNull,
              concat(lit(","), col("per_db"))).otherwise(lit("")),
            lit("},\"proteomes\":"),
            coalesce(col("n_proteomes"), lit(0L)).cast("string"),
            lit(",\"proteins\":"),
            coalesce(col("n_proteins"), lit(0L)).cast("string"),
            lit(",\"sets\":"),
            coalesce(col("n_sets"), lit(0L)).cast("string"),
            lit(",\"taxa\":"),
            coalesce(col("n_taxa"), lit(0L)).cast("string"),
            lit("}")).as("counts"))
    })
  )

  // ---- DuckDB oracles ----------------------------------------------

  /** The protein/lineage CTEs shared by every taxon-side oracle —
    * lineage explode rendered as a 3-arm UNION ALL.
    */
  private val protCte =
    """prot AS (
         SELECT o_orderkey AS protein,
                CASE WHEN o_custkey % 4 <> 0
                     THEN 'UP' || CAST(o_custkey % 50 AS VARCHAR) END AS proteome,
                n_regionkey, c_nationkey, c_custkey
         FROM orders JOIN customer ON o_custkey = c_custkey
              JOIN nation ON c_nationkey = n_nationkey),
       pn AS (
         SELECT protein, proteome,
                'R' || CAST(n_regionkey AS VARCHAR) AS node_id FROM prot
         UNION ALL
         SELECT protein, proteome, 'N' || CAST(c_nationkey AS VARCHAR) FROM prot
         UNION ALL
         SELECT protein, proteome, 'C' || CAST(c_custkey AS VARCHAR) FROM prot),
       li AS (
         SELECT l_orderkey AS protein,
                ['cdd','panther','pfam','profile','smart']
                  [CAST(l_partkey % 5 + 1 AS INT)] AS db,
                l_partkey, l_suppkey,
                'PDB' || CAST(l_suppkey % 100 AS VARCHAR) AS pdb,
                'CL' || CAST(l_partkey % 11 AS VARCHAR) AS clan,
                l_linenumber AS ms,
                l_linenumber + CAST(FLOOR(l_quantity / 10) AS INT) AS me
         FROM lineitem),
       m AS (
         SELECT protein, db, db || '-' || CAST(l_partkey % 97 AS VARCHAR) AS entry,
                l_partkey, l_suppkey, pdb, clan, ms, me
         FROM li),
       mn AS (SELECT pn.node_id, m.protein, m.db, m.entry, m.pdb
              FROM m JOIN (SELECT DISTINCT protein, node_id FROM pn) pn
                   USING (protein))"""

  val oracle: Map[String, String] = Map(
    "xref_taxon_bundle" ->
      s"""WITH $protCte,
          ps AS (SELECT node_id, COUNT(*) AS n_proteins,
                        COUNT(DISTINCT proteome) AS n_proteomes
                 FROM pn GROUP BY node_id),
          dbp AS (SELECT node_id, db, COUNT(DISTINCT protein) AS n
                  FROM mn GROUP BY 1, 2),
          dbc AS (SELECT node_id,
                         string_agg(db || ':' || CAST(n AS VARCHAR),
                                    ',' ORDER BY db || ':' || CAST(n AS VARCHAR))
                           AS db_counts
                  FROM dbp GROUP BY node_id),
          ep AS (SELECT node_id, entry, COUNT(*) AS n FROM mn GROUP BY 1, 2),
          ec AS (SELECT node_id,
                        string_agg(entry || ':' || CAST(n AS VARCHAR),
                                   ',' ORDER BY entry || ':' || CAST(n AS VARCHAR))
                          AS entry_counts
                 FROM ep GROUP BY node_id),
          st AS (SELECT node_id, COUNT(DISTINCT pdb) AS n_structures
                 FROM mn GROUP BY node_id)
          SELECT ps.node_id, ps.n_proteins, ps.n_proteomes,
                 COALESCE(st.n_structures, 0) AS n_structures,
                 COALESCE(dbc.db_counts, '') AS db_counts,
                 COALESCE(ec.entry_counts, '') AS entry_counts
          FROM ps LEFT JOIN dbc USING (node_id)
               LEFT JOIN ec USING (node_id)
               LEFT JOIN st USING (node_id)""",
    "mart_taxa_counts" ->
      s"""WITH $protCte,
          cdim AS (SELECT DISTINCT n_regionkey, c_nationkey, c_custkey FROM prot),
          ndim AS (SELECT DISTINCT n_regionkey, c_nationkey FROM cdim),
          rdim AS (SELECT DISTINCT n_regionkey FROM ndim),
          nodes AS (
            SELECT 'R' || CAST(n_regionkey AS VARCHAR) AS accession,
                   CAST(NULL AS VARCHAR) AS parent_id,
                   'superkingdom' AS rank,
                   ' R' || CAST(n_regionkey AS VARCHAR) || ' ' AS lineage
            FROM rdim
            UNION ALL
            SELECT 'N' || CAST(c_nationkey AS VARCHAR),
                   'R' || CAST(n_regionkey AS VARCHAR), 'phylum',
                   ' R' || CAST(n_regionkey AS VARCHAR) ||
                   ' N' || CAST(c_nationkey AS VARCHAR) || ' '
            FROM ndim
            UNION ALL
            SELECT 'C' || CAST(c_custkey AS VARCHAR),
                   'N' || CAST(c_nationkey AS VARCHAR), 'species',
                   ' R' || CAST(n_regionkey AS VARCHAR) ||
                   ' N' || CAST(c_nationkey AS VARCHAR) ||
                   ' C' || CAST(c_custkey AS VARCHAR) || ' '
            FROM cdim),
          kids AS (SELECT parent_id AS accession,
                          string_agg(accession, ',' ORDER BY accession)
                            AS children
                   FROM nodes WHERE parent_id IS NOT NULL
                   GROUP BY parent_id),
          ps AS (SELECT node_id, COUNT(*) AS num_proteins,
                        COUNT(DISTINCT proteome) AS n_proteomes
                 FROM pn GROUP BY node_id),
          perdb AS (SELECT node_id, db, COUNT(DISTINCT entry) AS n_entries
                    FROM mn GROUP BY 1, 2),
          ej AS (SELECT node_id, SUM(n_entries) AS total_entries,
                        string_agg('"' || db || '":' ||
                                   CAST(n_entries AS VARCHAR),
                                   ',' ORDER BY '"' || db || '":' ||
                                   CAST(n_entries AS VARCHAR)) AS per_db
                 FROM perdb GROUP BY node_id),
          st AS (SELECT node_id, COUNT(DISTINCT pdb) AS n_structures
                 FROM mn GROUP BY node_id)
          SELECT n.accession, n.parent_id, n.rank, n.lineage,
                 COALESCE(k.children, '') AS children,
                 ps.num_proteins,
                 '{"entries":{"total":' || CAST(ej.total_entries AS VARCHAR) ||
                 ',' || ej.per_db ||
                 '},"proteomes":' || CAST(ps.n_proteomes AS VARCHAR) ||
                 ',"proteins":' || CAST(ps.num_proteins AS VARCHAR) ||
                 ',"structures":' || CAST(st.n_structures AS VARCHAR) || '}'
                   AS counts
          FROM nodes n
               JOIN ps ON ps.node_id = n.accession
               JOIN ej ON ej.node_id = n.accession
               JOIN st ON st.node_id = n.accession
               LEFT JOIN kids k ON k.accession = n.accession""",
    "mart_taxa_per_entry" ->
      s"""WITH $protCte,
          np AS (SELECT node_id, COUNT(DISTINCT proteome) AS n_proteomes
                 FROM pn GROUP BY node_id),
          pe AS (SELECT node_id, entry,
                        COUNT(DISTINCT protein) AS num_proteins,
                        COUNT(DISTINCT pdb) AS n_structures
                 FROM mn GROUP BY 1, 2)
          SELECT pe.node_id AS tax_id, pe.entry AS entry_acc,
                 pe.num_proteins,
                 '{"proteomes":' || CAST(np.n_proteomes AS VARCHAR) ||
                 ',"proteins":' || CAST(pe.num_proteins AS VARCHAR) ||
                 ',"structures":' || CAST(pe.n_structures AS VARCHAR) || '}'
                   AS counts
          FROM pe JOIN np USING (node_id)""",
    "xref_proteome_bundle" ->
      s"""WITH $protCte,
          dim AS (SELECT 'UPC' || CAST(c_custkey AS VARCHAR) AS proteome_id,
                         c_custkey,
                         'N' || CAST(c_nationkey AS VARCHAR) AS taxon_id
                  FROM customer),
          pr AS (SELECT o_orderkey AS protein, o_custkey FROM orders),
          pm AS (SELECT pr.o_custkey, m.* FROM pr JOIN m USING (protein)),
          ps AS (SELECT o_custkey, COUNT(*) AS n_proteins
                 FROM pr GROUP BY o_custkey),
          dbp AS (SELECT o_custkey, db, COUNT(DISTINCT protein) AS n
                  FROM pm GROUP BY 1, 2),
          dbc AS (SELECT o_custkey,
                         string_agg(db || ':' || CAST(n AS VARCHAR),
                                    ',' ORDER BY db || ':' || CAST(n AS VARCHAR))
                           AS db_counts
                  FROM dbp GROUP BY o_custkey),
          ep AS (SELECT o_custkey, entry, COUNT(*) AS n FROM pm GROUP BY 1, 2),
          ec AS (SELECT o_custkey,
                        string_agg(entry || ':' || CAST(n AS VARCHAR),
                                   ',' ORDER BY entry || ':' || CAST(n AS VARCHAR))
                          AS entry_counts
                 FROM ep GROUP BY o_custkey),
          st AS (SELECT o_custkey, COUNT(DISTINCT pdb) AS n_structures
                 FROM pm GROUP BY o_custkey)
          SELECT d.proteome_id, d.taxon_id,
                 COALESCE(ps.n_proteins, 0) AS n_proteins,
                 COALESCE(st.n_structures, 0) AS n_structures,
                 COALESCE(dbc.db_counts, '') AS db_counts,
                 COALESCE(ec.entry_counts, '') AS entry_counts
          FROM dim d
               LEFT JOIN ps ON ps.o_custkey = d.c_custkey
               LEFT JOIN dbc ON dbc.o_custkey = d.c_custkey
               LEFT JOIN ec ON ec.o_custkey = d.c_custkey
               LEFT JOIN st ON st.o_custkey = d.c_custkey""",
    "xref_structure_bundle" ->
      s"""WITH $protCte,
          chains AS (SELECT s_suppkey,
                            'PDB' || CAST(s_suppkey AS VARCHAR) AS pdb_id,
                            CAST(s_suppkey % 5 AS INT) AS cs,
                            CAST(s_suppkey % 5 + 3 AS INT) AS ce
                     FROM supplier),
          hits AS (SELECT m.*, c.pdb_id
                   FROM m JOIN chains c
                        ON m.l_suppkey = c.s_suppkey
                       AND m.ms <= c.ce AND c.cs <= m.me),
          pinfo AS (SELECT protein, proteome,
                           'N' || CAST(c_nationkey AS VARCHAR) AS taxon
                    FROM prot),
          dorg AS (SELECT protein,
                          md5(string_agg(DISTINCT db, '-' ORDER BY db))
                            AS dom_org
                   FROM m GROUP BY protein),
          agg AS (SELECT h.pdb_id,
                         COUNT(DISTINCT h.protein) AS n_proteins,
                         COUNT(DISTINCT p.taxon) AS n_taxa,
                         COUNT(DISTINCT p.proteome) AS n_proteomes,
                         COUNT(DISTINCT h.clan) AS n_clans,
                         COUNT(DISTINCT d.dom_org) AS n_domorgs,
                         string_agg(DISTINCT h.entry, ',' ORDER BY h.entry)
                           AS entries
                  FROM hits h JOIN pinfo p USING (protein)
                       JOIN dorg d USING (protein)
                  GROUP BY h.pdb_id)
          SELECT c.pdb_id,
                 COALESCE(a.n_proteins, 0) AS n_proteins,
                 COALESCE(a.n_taxa, 0) AS n_taxa,
                 COALESCE(a.n_proteomes, 0) AS n_proteomes,
                 COALESCE(a.n_clans, 0) AS n_clans,
                 COALESCE(a.n_domorgs, 0) AS n_domorgs,
                 COALESCE(a.entries, '') AS entries
          FROM chains c LEFT JOIN agg a USING (pdb_id)""",
    "mart_structure_repr" ->
      s"""WITH $protCte,
          chains AS (SELECT s_suppkey,
                            'PDB' || CAST(s_suppkey AS VARCHAR) AS pdb_id,
                            CAST(s_suppkey % 5 AS INT) AS cs,
                            CAST(s_suppkey % 5 + 3 AS INT) AS ce,
                            (s_suppkey % 35 + 10) / 10.0 AS resolution
                     FROM supplier),
          cov AS (SELECT m.entry AS entry_acc, c.pdb_id, c.resolution,
                         MAX((LEAST(m.me, c.ce) - GREATEST(m.ms, c.cs) + 1)
                             / 4.0) AS coverage
                  FROM m JOIN chains c
                       ON m.l_suppkey = c.s_suppkey
                      AND m.ms <= c.ce AND c.cs <= m.me
                  GROUP BY 1, 2, 3)
          SELECT entry_acc, pdb_id, coverage, resolution
          FROM cov
          WHERE coverage > 0.5 OR (coverage = 0.5 AND resolution < 4.0)
          QUALIFY ROW_NUMBER() OVER (PARTITION BY entry_acc
                                     ORDER BY coverage DESC, resolution ASC,
                                              pdb_id ASC) = 1""",
    "mart_proteome_counts" ->
      s"""WITH $protCte,
          dim AS (SELECT c_custkey,
                         'UPC' || CAST(c_custkey AS VARCHAR) AS accession,
                         c_name AS name,
                         c_custkey % 7 = 0 AS is_reference,
                         'N' || CAST(c_nationkey AS VARCHAR) AS taxonomy_id
                  FROM customer),
          pr AS (SELECT o_orderkey AS protein, o_custkey FROM orders),
          pm AS (SELECT pr.o_custkey, m.* FROM pr JOIN m USING (protein)),
          ps AS (SELECT o_custkey, COUNT(*) AS num_proteins
                 FROM pr GROUP BY o_custkey),
          perdb AS (SELECT o_custkey, db, COUNT(DISTINCT entry) AS n_entries
                    FROM pm GROUP BY 1, 2),
          ej AS (SELECT o_custkey,
                        CAST(SUM(n_entries) AS BIGINT) AS total_entries,
                        string_agg('"' || db || '":' ||
                                   CAST(n_entries AS VARCHAR),
                                   ',' ORDER BY '"' || db || '":' ||
                                   CAST(n_entries AS VARCHAR)) AS per_db
                 FROM perdb GROUP BY o_custkey),
          st AS (SELECT o_custkey, COUNT(DISTINCT pdb) AS n_structures
                 FROM pm GROUP BY o_custkey)
          SELECT d.accession, d.name, d.is_reference, d.taxonomy_id,
                 ps.num_proteins,
                 '{"entries":{"total":' || CAST(ej.total_entries AS VARCHAR) ||
                 ',' || ej.per_db ||
                 '},"proteins":' || CAST(ps.num_proteins AS VARCHAR) ||
                 ',"structures":' || CAST(st.n_structures AS VARCHAR) || '}'
                   AS counts
          FROM dim d
               JOIN ps ON ps.o_custkey = d.c_custkey
               JOIN ej ON ej.o_custkey = d.c_custkey
               JOIN st ON st.o_custkey = d.c_custkey""",
    "mart_proteome_per_entry" ->
      s"""WITH $protCte,
          pr AS (SELECT o_orderkey AS protein, o_custkey FROM orders),
          pm AS (SELECT pr.o_custkey, m.* FROM pr JOIN m USING (protein))
          SELECT 'UPC' || CAST(o_custkey AS VARCHAR) AS accession,
                 entry AS entry_acc,
                 COUNT(DISTINCT protein) AS num_proteins,
                 '{"proteins":' ||
                 CAST(COUNT(DISTINCT protein) AS VARCHAR) ||
                 ',"structures":' ||
                 CAST(COUNT(DISTINCT pdb) AS VARCHAR) || '}' AS counts
          FROM pm GROUP BY o_custkey, entry""",
    "mart_proteome_per_entry_db" ->
      s"""WITH $protCte,
          pr AS (SELECT o_orderkey AS protein, o_custkey FROM orders),
          pm AS (SELECT pr.o_custkey, m.* FROM pr JOIN m USING (protein))
          SELECT 'UPC' || CAST(o_custkey AS VARCHAR) AS accession,
                 db AS source_database,
                 COUNT(DISTINCT protein) AS num_proteins,
                 '{"entries":' || CAST(COUNT(DISTINCT entry) AS VARCHAR) ||
                 ',"proteins":' ||
                 CAST(COUNT(DISTINCT protein) AS VARCHAR) ||
                 ',"structures":' ||
                 CAST(COUNT(DISTINCT pdb) AS VARCHAR) || '}' AS counts
          FROM pm GROUP BY o_custkey, db""",
    "mart_structure_counts" ->
      s"""WITH $protCte,
          chains AS (SELECT s_suppkey,
                            'PDB' || CAST(s_suppkey AS VARCHAR) AS pdb_id,
                            s_name AS name,
                            ['X-ray diffraction','Solution NMR',
                             'Electron microscopy']
                              [CAST(s_suppkey % 3 + 1 AS INT)]
                              AS experiment_type,
                            (s_suppkey % 35 + 10) / 10.0 AS resolution,
                            CAST(s_suppkey % 5 AS INT) AS cs,
                            CAST(s_suppkey % 5 + 3 AS INT) AS ce
                     FROM supplier),
          pinfo AS (SELECT protein, proteome,
                           'N' || CAST(c_nationkey AS VARCHAR) AS taxon
                    FROM prot),
          dorg AS (SELECT protein,
                          md5(string_agg(DISTINCT db, '-' ORDER BY db))
                            AS dom_org
                   FROM m GROUP BY protein),
          hits AS (SELECT m.*, c.pdb_id, p.proteome, p.taxon, d.dom_org
                   FROM m JOIN chains c
                        ON m.l_suppkey = c.s_suppkey
                       AND m.ms <= c.ce AND c.cs <= m.me
                        JOIN pinfo p USING (protein)
                        JOIN dorg d USING (protein)),
          perdb AS (SELECT pdb_id, db, COUNT(DISTINCT entry) AS n_entries
                    FROM hits GROUP BY 1, 2),
          ej AS (SELECT pdb_id,
                        CAST(SUM(n_entries) AS BIGINT) AS total_entries,
                        string_agg('"' || db || '":' ||
                                   CAST(n_entries AS VARCHAR),
                                   ',' ORDER BY '"' || db || '":' ||
                                   CAST(n_entries AS VARCHAR)) AS per_db
                 FROM perdb GROUP BY pdb_id),
          agg AS (SELECT pdb_id,
                         COUNT(DISTINCT protein) AS n_proteins,
                         COUNT(DISTINCT taxon) AS n_taxa,
                         COUNT(DISTINCT proteome) AS n_proteomes,
                         COUNT(DISTINCT clan) AS n_sets,
                         COUNT(DISTINCT dom_org) AS n_domorgs
                  FROM hits GROUP BY pdb_id)
          SELECT c.pdb_id AS accession, c.name,
                 'pdb' AS source_database, c.experiment_type, c.resolution,
                 '{"domain_architectures":' ||
                 CAST(COALESCE(a.n_domorgs, 0) AS VARCHAR) ||
                 ',"entries":{"total":' ||
                 CAST(COALESCE(e.total_entries, 0) AS VARCHAR) ||
                 CASE WHEN e.per_db IS NOT NULL
                      THEN ',' || e.per_db ELSE '' END ||
                 '},"proteomes":' ||
                 CAST(COALESCE(a.n_proteomes, 0) AS VARCHAR) ||
                 ',"proteins":' ||
                 CAST(COALESCE(a.n_proteins, 0) AS VARCHAR) ||
                 ',"sets":' || CAST(COALESCE(a.n_sets, 0) AS VARCHAR) ||
                 ',"taxa":' || CAST(COALESCE(a.n_taxa, 0) AS VARCHAR) || '}'
                   AS counts
          FROM chains c LEFT JOIN agg a USING (pdb_id)
               LEFT JOIN ej e USING (pdb_id)"""
  )
}
