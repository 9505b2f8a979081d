package graft.sources

import org.apache.spark.sql.{DataFrame, SaveMode}
import org.apache.spark.sql.functions._

import java.nio.file.{Files, Paths, StandardOpenOption}

/** Sink surface (SURVEY.md §2.1 S9/S10/S15/S16).
  *
  * The distributed part of every reference sink is the same: format
  * rows in executors, write one file per partition, signal completion.
  * These helpers keep all row work on executors; only tiny
  * header/footer/sentinel writes happen on the driver.
  */
object Sinks {

  /** S15: gzip TSV flat file (reference protein2ipr.dat.gz,
    * interpro/ftp/flatfiles.py:88-122). `lines` must be a single
    * string column; one gzip part-file per partition.
    */
  def writeTsvGz(lines: DataFrame, dir: String): Unit =
    lines.write.mode(SaveMode.Overwrite)
      .option("compression", "gzip").text(dir)

  /** S16: XML document sink (reference interpro.xml: parallel chunk
    * writers + driver concatenation, interpro/ftp/xmlfiles.py:556-656).
    * Fragments are written distributed as text parts; the driver then
    * stitches header + parts + footer into one well-formed file —
    * the only driver-side bytes are the envelope.
    */
  def writeXml(fragments: DataFrame, dir: String, outFile: String,
               header: String, footer: String): Unit = {
    fragments.write.mode(SaveMode.Overwrite).text(dir)
    val out = Paths.get(outFile)
    // match part files by BASENAME prefix: a substring test would also
    // catch Hadoop's hidden ".part-*.crc" checksum siblings and splice
    // binary into the XML
    val listing = Files.list(Paths.get(dir))
    val parts =
      try listing.toArray.map(_.asInstanceOf[java.nio.file.Path])
        .filter(_.getFileName.toString.startsWith("part-"))
        .sortBy(_.getFileName.toString)
      finally listing.close()
    val os = Files.newOutputStream(out)
    try {
      os.write(header.getBytes("UTF-8"))
      // streamed copy: driver memory stays O(buffer), not O(part size)
      parts.foreach(p => Files.copy(p, os))
      os.write(footer.getBytes("UTF-8"))
    } finally os.close()
  }

  /** S10: bulk-doc sink with completion sentinels (reference ES export
    * writes doc batch files then `.done` markers so the indexer can
    * tail the directory, interpro/elastic/export.py:44-67,318-321).
    * Docs are written as JSON-lines parts; the `_DONE` sentinel is the
    * handoff signal (Spark's `_SUCCESS` plays the same role for the
    * whole directory).
    */
  def writeJsonDocsWithSentinel(docs: DataFrame, dir: String): Unit = {
    docs.select(to_json(struct(col("*"))).as("doc"))
      .write.mode(SaveMode.Overwrite).text(dir)
    markDone(dir)
  }

  /** Writes the `_DONE` completion sentinel into a finished doc dir. */
  def markDone(dir: String): Unit = Files.write(Paths.get(dir, "_DONE"), Array.emptyByteArray)

  /** Stage a bundled DTD next to an XML export so its relative
    * `<!DOCTYPE ... SYSTEM "name.dtd">` resolves (the reference ships
    * interpro.dtd / match_complete.dtd alongside the XML and writes
    * the DOCTYPE at ftp/xmlfiles.py:212,626). `name` is the dtd file
    * name under the bundled graft/dtd/ resources.
    */
  def stageDtd(name: String, destDir: String): Unit = {
    val in = getClass.getResourceAsStream(s"/graft/dtd/$name")
    require(in != null, s"bundled DTD not found: $name")
    try Files.copy(in, Paths.get(destDir, name),
      java.nio.file.StandardCopyOption.REPLACE_EXISTING)
    finally in.close()
  }
}
