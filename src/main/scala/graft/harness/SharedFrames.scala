package graft.harness

import graft.Tables
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

import scala.util.{Failure, Success, Try}

/** Cross-query cached frames. The driver's Verify/Bench mains run
  * query builders back to back in one session with no per-query
  * teardown hook, so several expensive intermediates (dedup shingle
  * sets, the taxonomy lineage closure) would otherwise be recomputed
  * by every query in their family. The cache is keyed by (session, sf
  * dir, frame name); entries of stopped sessions are evicted on
  * access. MEMORY_AND_DISK so eviction degrades to a read from disk
  * rather than OOM at larger corpora. A cached frame holds its rows,
  * not its build plan (see [[Slot]]).
  */
object SharedFrames {
  private val frameCache =
    scala.collection.concurrent.TrieMap.empty[(SparkSession, String, String), Slot]

  /** Unpersist and forget every frame cached under `s`'s context (any
    * sf dir). Bench/Verify call this between query families: a frame
    * kept persisted after its family finished is pure GC pressure on
    * every later query — the r8 bench artifact was dominated by it
    * (kernel_match_merge 9.9 s solo, 90 s when run after the dedup
    * family in the same JVM). A cross-family frame (taxa lineage) just
    * rebuilds once for its next family — bounded, and honest per-family
    * attribution beats a once-per-JVM build landing on whichever query
    * happens to run first.
    */
  def release(s: SparkSession): Unit =
    frameCache.filterInPlace { case ((sess, _, _), slot) =>
      val keep = sess.sparkContext != s.sparkContext
      if (!keep && !sess.sparkContext.isStopped) slot.unpersist()
      keep
    }

  /** One cache entry. The first `result` call builds it; concurrent
    * callers of the same key block on the lazy val instead of building
    * a second copy whose persisted blocks would leak until `release`.
    * A failed build fails every caller that waited on it, with an
    * error naming the frame; [[cachedFrame]] then drops the slot, so a
    * later call builds afresh.
    *
    * A cached frame keeps its data only, never the computation that
    * produced it: the build is checkpointed (lazily) and the checkpoint
    * persisted, so the one count both materializes the frame and cuts
    * its lineage. Its blocks then sit over a leaf scan, the build plan
    * with its broadcast relations and shuffles becomes unreachable for
    * the context cleaner to free, and every consumer (a frame built on
    * this one included) plans over a one-node frame.
    */
  private final class Slot(key: String, build: () => DataFrame) {
    @volatile private var built = false
    // materialize EAGERLY and fully, into the persisted copy: the
    // checkpoint's own blocks are localCheckpointed, and Bench sweeps
    // those between queries, as it does the loop RDDs of builders
    // such as the lineage closure. After count() every partition of
    // the persisted copy is memory/disk-backed, so it is never
    // recomputed and never chases a swept checkpoint block.
    lazy val result: Try[DataFrame] = Try {
      val df = graft.ops.Loops.materialize(build(), eager = false)
        .persist(StorageLevel.MEMORY_AND_DISK)
      df.count()
      // the count filled the checkpoint's blocks too: drop them, so the
      // frame is stored once even where no sweep runs
      df.queryExecution.analyzed.collectFirst { case r: LogicalRDD => r.rdd }
        .foreach(_.unpersist(blocking = false))
      built = true
      df
    }.recoverWith { case e =>
      Failure(new RuntimeException(s"shared frame $key failed: $e", e))
    }
    def unpersist(): Unit = if (built) result.get.unpersist(blocking = false)
  }

  /** The frame cached under (s, d, key), built by `build` on first use.
    * Safe to call from concurrent threads with the same key: the build
    * runs once, in the thread that got there first.
    */
  def cachedFrame(s: SparkSession, d: String, key: String)
                 (build: => DataFrame): DataFrame = {
    frameCache.filterInPlace { case ((sess, _, _), _) => !sess.sparkContext.isStopped }
    // TrieMap.getOrElseUpdate may construct a losing Slot, but only
    // the Slot it returns is ever asked for its frame
    val slot = frameCache.getOrElseUpdate((s, d, key), new Slot(key, () => build))
    slot.result match {
      case Success(df) => df
      case Failure(e) => frameCache.remove((s, d, key), slot); throw e
    }
  }

  /** The keys cached under `s`'s context (any sf dir). */
  private[graft] def keys(s: SparkSession): Set[String] =
    frameCache.keySet.collect { case (sess, _, key)
      if sess.sparkContext == s.sparkContext => key }.toSet

  /** A shared frame: its cache key and its build. Applying it gives
    * the frame cached under (s, d, key).
    */
  final case class Frame(key: String)(build: (SparkSession, String) => DataFrame) {
    def apply(s: SparkSession, d: String): DataFrame = cachedFrame(s, d, key)(build(s, d))
  }

  /** A family's preamble: builds all of its declared frames at once,
    * one [[graft.Chains]] step per frame. A frame that reads another
    * blocks on that frame's single-flight slot, so the build order
    * follows the frames' own calls and no key is built twice.
    */
  def preamble(frames: Seq[Frame]): (SparkSession, String) => Unit = (s, d) =>
    graft.Chains.run(s, frames.map(f => graft.Chains.step(f.key)(f(s, d))))

  /** The synthetic taxonomy dimension every lineage/tree query walks:
    * region(domain) → nation(phylum) → customer(genus|species), ids
    * prefixed R/N/C (the harness analogue of the reference's taxa
    * table, interpro/oracle/taxa.py:15-60).
    */
  def taxaDims(s: SparkSession, d: String): DataFrame =
    Tables.region(s, d).select(
        concat(lit("R"), col("r_regionkey").cast("string")).as("id"),
        lit(null).cast("string").as("parent"),
        lit("domain").as("rank"), col("r_name").as("name"))
      .unionByName(Tables.nation(s, d).select(
        concat(lit("N"), col("n_nationkey").cast("string")).as("id"),
        concat(lit("R"), col("n_regionkey").cast("string")).as("parent"),
        lit("phylum").as("rank"), col("n_name").as("name")))
      .unionByName(Tables.customer(s, d).select(
        concat(lit("C"), col("c_custkey").cast("string")).as("id"),
        concat(lit("N"), col("c_nationkey").cast("string")).as("parent"),
        when(col("c_custkey") % 3 === 0, "genus").otherwise("species")
          .as("rank"),
        col("c_name").as("name")))

  /** Root→self lineage closure (id, lineage) over [[taxaDims]],
    * computed once per (session, sf) and shared by `lineage_closure`,
    * `agg_tree_ranks`, and any other tree consumer — the closure is
    * an O(depth)-shuffle iterative loop, the single most expensive
    * piece those queries would otherwise each re-run.
    */
  val taxaLineage: Frame = Frame("taxa_lineage") { (s, d) =>
    graft.ops.Graphs.lineageClosure(
      taxaDims(s, d).select(col("id"), col("parent")), "id", "parent")
  }
}
