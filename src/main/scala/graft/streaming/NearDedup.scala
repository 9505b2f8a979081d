package graft.streaming

import graft.ops.TextOps
import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

import scala.concurrent.duration.FiniteDuration

/** Streaming MinHash/LSH near-dedup (the ingest-time form of the batch
  * dedup_minhash_lsh family): signatures computed per row with
  * higher-order functions — a stateless projection, no groupBy inside
  * the streaming batch — then LSH band keys exploded and a stateful
  * per-bucket pass that remembers each bucket's first-seen
  * representative and flags every later arrival against it.
  *
  * FIRST-SEEN-WINS is the only coherent semantics for an append-only
  * ingest stream (retro-flagging already-shipped history is not
  * possible): a bucket's representative is fixed the first time the
  * bucket is observed — by the minimum doc id within that first batch,
  * by arrival order across batches — and never rewritten.
  *
  * State is one long per observed band bucket — unbounded over an
  * infinite stream under [[flagPairs]], which is fine for a bounded
  * run-to-completion [[Drain]] but not for a deployment. [[flagPairsTtl]] is
  * the bounded-state variant: buckets idle longer than the TTL in
  * EVENT time are evicted and the next arrival re-seeds them — the
  * deliberate trade of every TTL'd dedup index (the reference's
  * `.load`/`.done` incremental indexer keeps a bounded working set the
  * same way, interpro/elastic/export.py:44-67).
  *
  * The TTL is event-time (watermark-driven EventTimeTimeout), NOT
  * processing-time, for two load-bearing reasons: (a) idleness defined
  * by stream time means a backfill/reprocess at full speed does not
  * mass-evict state that was live in the original timeline; (b)
  * ProcessingTimeTimeout makes the stateful operator report
  * "may need another batch" on EVERY batch, so a run-to-completion
  * drain never terminates — measured as an infinite empty-batch loop,
  * 2700+ micro-batches before the kill.
  */
object NearDedup {

  /** A band-key hit carrying the document's event time (the crawl /
    * ingest timestamp a real corpus stream has).
    */
  final case class BandHit(doc_id: Long, bk: Long, ts: java.sql.Timestamp)

  /** Per-row signature + band-key explosion over a documents stream
    * (or batch) frame. Tokens materialize as a column BEFORE the
    * shingle lambda (inlining split() re-evaluates it per shingle
    * position — O(tokens²) per doc, measured 12.6 s vs 4 s at sf0.1),
    * and the digested shingle ids materialize before the k signature
    * mins (lambdas get no CSE — inlining would re-hash every shingle k
    * times). `extraCols` pass through (e.g. the event-time column for
    * the TTL variant).
    */
  def bandKeys(docs: DataFrame, n: Int, k: Int, bands: Int,
               extraCols: Seq[String] = Nil): DataFrame = {
    val withIds = docs
      .withColumn("__toks", TextOps.tokens(col("text")))
      .filter(size(col("__toks")) >= n)
      .withColumn("__ids",
        transform(TextOps.shingles(col("__toks"), n), g => TextOps.minhashX(g)))
    val sig = withIds.select(
      (col("doc_id") +: TextOps.minhashRowSigs(col("__ids"), k)) ++
        extraCols.map(col): _*)
    sig.select(col("doc_id") +:
      explode(TextOps.bandKeys(bands, k / bands)).as("bk") +:
      extraCols.map(col): _*)
  }

  /** Flag near-duplicates per band bucket: emits `(dup_id, rep_id)` for
    * every arrival after the bucket's first-seen representative.
    * Unbounded state — one long per bucket, forever. Use only for
    * bounded drains; deployments want [[flagPairsTtl]].
    */
  def flagPairs(bands: Dataset[(Long, Long)]): DataFrame = {
    import bands.sparkSession.implicits._
    bands.groupByKey(_._2)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (_: Long, rows: Iterator[(Long, Long)], state: GroupState[Long]) =>
          val ids = rows.map(_._1).toArray.sorted
          val rep = state.getOption.getOrElse(ids.head)
          state.update(rep)
          ids.iterator.filter(_ != rep).map(id => (id, rep))
      }.toDF("dup_id", "rep_id")
  }

  /** Bounded-state variant: buckets evict after `ttl` of EVENT-time
    * idleness. The input must carry a watermark on `ts` (the caller's
    * `withWatermark` delay adds to the effective retention). After
    * eviction the next arrival re-seeds the bucket as its own
    * representative.
    */
  def flagPairsTtl(bands: Dataset[BandHit], ttl: FiniteDuration): DataFrame = {
    import bands.sparkSession.implicits._
    val ttlMs = ttl.toMillis
    bands.groupByKey(_.bk)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
        (_: Long, rows: Iterator[BandHit], state: GroupState[Long]) =>
          if (state.hasTimedOut) {
            // idle past the TTL at the current watermark: forget the
            // representative; the next arrival re-seeds the bucket
            state.remove()
            Iterator.empty
          } else {
            val hits = rows.toArray
            val ids = hits.map(_.doc_id).sorted
            val rep = state.getOption.getOrElse(ids.head)
            state.update(rep)
            // timeout must sit strictly beyond the current watermark;
            // late data (maxTs behind the watermark) still refreshes
            // the bucket rather than scheduling an already-past sweep
            val maxTs = hits.map(_.ts.getTime).max
            state.setTimeoutTimestamp(
              math.max(state.getCurrentWatermarkMs + 1, maxTs + ttlMs))
            ids.iterator.filter(_ != rep).map(id => (id, rep))
          }
      }.toDF("dup_id", "rep_id")
  }
}
