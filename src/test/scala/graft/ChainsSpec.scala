package graft

import graft.harness.SharedFrames

import java.util.concurrent.{ConcurrentLinkedQueue, CountDownLatch, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger
import scala.jdk.CollectionConverters._

/** Concurrent chains (the release build, the shared-frame warm-ups)
  * and the single-flight frame cache they rely on.
  */
class ChainsSpec extends SparkSpec {

  test("chains run concurrently, each one's steps in order") {
    // each chain waits for the other: run one after another, both would
    // time out
    val both = new CountDownLatch(2)
    val met = new ConcurrentLinkedQueue[Boolean]
    val log = new ConcurrentLinkedQueue[String]
    def meet(): Unit = { both.countDown(); met.add(both.await(30, TimeUnit.SECONDS)) }
    Chains.run(spark, Seq(
      Seq("a1" -> (() => log.add("a1")), "a2" -> (() => meet()), "a3" -> (() => log.add("a3"))),
      Seq("b1" -> (() => meet()))))
    assert(met.asScala.toSeq === Seq(true, true))
    assert(log.asScala.toSeq === Seq("a1", "a3"))
  }

  test("a failing step is named and cancels its siblings' Spark jobs") {
    val t0 = System.nanoTime()
    val e = intercept[RuntimeException] {
      Chains.run(spark, Seq(
        Seq("fine_step" -> (() => ()),
            "failing_step" -> (() => {
              Thread.sleep(1000) // the sibling's job is running by now
              throw new IllegalStateException("boom")
            })),
        Seq("slow_sibling" -> (() =>
          spark.sparkContext.parallelize(1 to 4, 4)
            .map { i => Thread.sleep(120000); i }.count()))))
    }
    val secs = (System.nanoTime() - t0) / 1e9
    assert(e.getMessage.contains("failing_step"))
    assert(e.getMessage.contains("boom"))
    assert(secs < 60, s"took $secs s: the call waited for the slow sibling")
    val deadline = System.nanoTime() + TimeUnit.SECONDS.toNanos(30)
    while (spark.sparkContext.statusTracker.getActiveJobIds.nonEmpty &&
           System.nanoTime() < deadline) Thread.sleep(100)
    assert(spark.sparkContext.statusTracker.getActiveJobIds.isEmpty,
      "the sibling's Spark job was not cancelled")
  }

  test("concurrent requests for one frame key build it once") {
    val builds = new AtomicInteger
    val start = new CountDownLatch(1)
    val rows = new ConcurrentLinkedQueue[Long]
    val key = s"single_flight_${java.util.UUID.randomUUID()}"
    val threads = Seq.fill(2)(new Thread(() => {
      start.await()
      rows.add(SharedFrames.cachedFrame(spark, sf, key) {
        builds.incrementAndGet()
        Thread.sleep(500) // hold the build open while the other thread asks
        spark.range(10).toDF()
      }.count())
    }))
    threads.foreach(_.start())
    start.countDown()
    threads.foreach(_.join(60000))
    assert(rows.asScala.toSeq === Seq(10L, 10L))
    assert(builds.get === 1)
  }

  test("a frame that reads another step's frame waits for it, and it builds once") {
    val builds = new AtomicInteger
    val id = java.util.UUID.randomUUID()
    val a = SharedFrames.Frame(s"a_$id") { (s, _) =>
      builds.incrementAndGet()
      Thread.sleep(500) // hold the build open while b asks for it
      s.range(10).toDF()
    }
    val b = SharedFrames.Frame(s"b_$id") { (s, d) => a(s, d).filter("id % 2 = 0") }
    // preamble = one Chains.run, one step per frame
    SharedFrames.preamble(Seq(a, b))(spark, sf)
    assert(builds.get === 1)
    assert(SharedFrames.keys(spark).contains(a.key))
    assert(SharedFrames.keys(spark).contains(b.key))
    assert(b(spark, sf).count() === 5)
  }

  test("a failing frame fails the run fast, named, with no Spark job left") {
    val builds = new AtomicInteger
    val id = java.util.UUID.randomUUID()
    val a = SharedFrames.Frame(s"a_$id") { (s, _) =>
      builds.incrementAndGet()
      Thread.sleep(500) // b is waiting on this build by now
      s.createDataFrame(s.sparkContext.parallelize(1 to 4, 4).map { i =>
        Thread.sleep(1000)
        if (i == 1) throw new IllegalStateException("boom")
        Tuple1(i)
      })
    }
    val b = SharedFrames.Frame(s"b_$id") { (s, d) => a(s, d).filter("_1 > 2") }
    val t0 = System.nanoTime()
    val e = intercept[RuntimeException](SharedFrames.preamble(Seq(a, b))(spark, sf))
    val secs = (System.nanoTime() - t0) / 1e9
    assert(e.getMessage.contains(s"shared frame ${a.key} failed"))
    assert(e.getMessage.contains("boom"))
    assert(secs < 60, s"took $secs s")
    // b got a's failure instead of building a second copy
    assert(builds.get === 1)
    // a failed frame is not cached: the next caller builds it afresh
    assert(!SharedFrames.keys(spark).contains(a.key))
    val deadline = System.nanoTime() + TimeUnit.SECONDS.toNanos(30)
    while (spark.sparkContext.statusTracker.getActiveJobIds.nonEmpty &&
           System.nanoTime() < deadline) Thread.sleep(100)
    assert(spark.sparkContext.statusTracker.getActiveJobIds.isEmpty,
      "a Spark job is still running")
  }
}
