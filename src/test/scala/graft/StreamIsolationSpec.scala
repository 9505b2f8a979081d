package graft

import graft.harness.StreamQueries
import graft.streaming.Drain

/** Streaming drains must not leak configuration into the shared
  * session: each drain runs on its own `newSession()` child with a
  * drain-scoped shuffle-partition count, so a concurrent query on the
  * parent session never observes a mutated
  * `spark.sql.shuffle.partitions` (the anti-pattern previously fixed
  * in Graphs.scala after it was flagged there).
  */
class StreamIsolationSpec extends SparkSpec {

  test("a streaming drain leaves the parent session conf untouched") {
    val key = "spark.sql.shuffle.partitions"
    val before = spark.conf.get(key)
    // Watch the parent conf DURING the drain from a second thread:
    // the old implementation set 8 on the shared session for the
    // drain's duration, which this sampler would observe.
    @volatile var observed = Set.empty[String]
    @volatile var running = true
    val sampler = new Thread(() => {
      while (running) { observed += spark.conf.get(key); Thread.sleep(1) }
    })
    sampler.start()
    val out = try StreamQueries.queries("stream_window_counts")(spark, sf)
    finally { running = false; sampler.join() }
    assert(out.count() > 0)
    assert(spark.conf.get(key) === before)
    assert(observed === Set(before),
      s"parent session observed mutated $key values: $observed")
  }

  test("the drained result is rehomed to the parent and the sink freed") {
    val out = StreamQueries.queries("stream_dedup")(spark, sf)
    // the drain ran on a child session (test above proves the scoped
    // conf never leaks); the RESULT is copied back to the parent so
    // the child session and its memory-sink table can be collected —
    // without that, every drain in a long JVM retains a full table copy
    assert(out.sparkSession eq spark)
    assert(out.count() > 0)

    // the freed-sink contract, asserted on the CHILD catalog where the
    // sink actually lives (the parent catalog never sees it, so a
    // parent-side tableExists check would pass vacuously): after
    // drained(), the child's view is gone and the copy is independent
    val child = spark.newSession()
    child.createDataFrame(Seq(("a", 1L), ("b", 2L)))
      .toDF("k", "n").createOrReplaceTempView("child_sink")
    assert(child.catalog.tableExists("child_sink"))
    val copied = Drain.drained(spark, child, "child_sink")
    assert(copied.sparkSession eq spark)
    assert(copied.count() === 2)
    assert(!child.catalog.tableExists("child_sink"),
      "drained() must drop the child session's sink view")
  }
}
