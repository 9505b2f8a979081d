package graft

import java.nio.file.Files

/** End-to-end release build at sf0.001: every stage must produce
  * rows/bytes and the XML envelope must be well-formed.
  */
class ReleasePipelineSpec extends SparkSpec {

  test("release pipeline builds all stages") {
    // a directory that does not exist yet: the stages run concurrently,
    // so the XML stage may stage its DTD before any Spark write has
    // created the output directory
    val out = Files.createTempDirectory("graft-release").resolve("out").toString
    val built = ReleasePipeline.build(spark, sf, out)
    // declared order, whatever order the concurrent stages finished in
    assert(built.map(_._1) === Seq("protein2matches", "protein2matches_kv",
      "entry2xrefs", "domain_orgs", "taxa_rollup", "webfront_entry",
      "release_stats", "release_notes_diff", "entry_taxa_trees", "clan_graphs",
      "signature_hierarchy", "protein2ipr", "match_complete.xml", "es_docs"))
    val stages = built.toMap
    assert(stages("protein2matches") > 0)
    assert(stages("protein2matches_kv") === stages("protein2matches"))
    assert(stages("entry2xrefs") === 7)  // IPR0..IPR6
    assert(stages("domain_orgs") > 0)
    assert(stages("taxa_rollup") > 0)
    assert(stages("webfront_entry") === 7)
    assert(stages("release_stats") === 1)
    assert(stages("protein2ipr") > 0)
    assert(stages("match_complete.xml") === 1)
    assert(stages("es_docs") > 0)
    val xmlPath = java.nio.file.Paths.get(s"$out/match_complete.xml")
    val xml = new String(Files.readAllBytes(xmlPath), "UTF-8")
    assert(xml.startsWith("<?xml"))
    assert(xml.endsWith("</interpromatch>\n"))
    // startsWith/endsWith/contains would miss spliced binary (e.g.
    // Hadoop .crc siblings concatenated between parts) — require a
    // full XML parse of the stitched document
    val doc = javax.xml.parsers.DocumentBuilderFactory.newInstance()
      .newDocumentBuilder().parse(xmlPath.toFile)
    assert(doc.getDocumentElement.getTagName === "interpromatch")
    assert(doc.getDocumentElement.getChildNodes.getLength > 0)
    assert(Files.exists(java.nio.file.Paths.get(s"$out/es_docs/_DONE")))
  }
}
