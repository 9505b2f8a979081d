package graft

import graft.harness.SharedFrames

import java.util.concurrent.{ConcurrentLinkedQueue, CountDownLatch, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger
import scala.jdk.CollectionConverters._

/** The step DAG (the release and corpus builds, the shared-frame
  * warm-ups) and the single-flight frame cache the warm-ups rely on.
  */
class ChainsSpec extends SparkSpec {

  import Chains.step

  test("chains run concurrently, each one's steps in order") {
    // each chain waits for the other: run one after another, both would
    // time out
    val both = new CountDownLatch(2)
    val met = new ConcurrentLinkedQueue[Boolean]
    val log = new ConcurrentLinkedQueue[String]
    def meet(): Unit = { both.countDown(); met.add(both.await(30, TimeUnit.SECONDS)) }
    Chains.run(spark, Seq(
      step("a1") { Thread.sleep(200); log.add("a1") },
      step("a2", "a1") { meet(); log.add("a2") },
      step("a3", "a2")(log.add("a3")),
      step("b1")(meet())))
    assert(met.asScala.toSeq === Seq(true, true))
    assert(log.asScala.toSeq === Seq("a1", "a2", "a3"))
  }

  test("a step starts only after all of its inputs, and independent steps overlap") {
    // a diamond: left and right both read root and meet each other
    // (they must overlap), join reads both
    val both = new CountDownLatch(2)
    val met = new ConcurrentLinkedQueue[Boolean]
    val log = new ConcurrentLinkedQueue[String]
    def meet(name: String): Unit = {
      both.countDown()
      met.add(both.await(30, TimeUnit.SECONDS))
      if (name == "left") Thread.sleep(500) // right finishes first
      log.add(s"$name done")
    }
    Chains.run(spark, Seq(
      step("join", "left", "right")(log.add("join start")),
      step("left", "root")(meet("left")),
      step("right", "root")(meet("right")),
      step("root") { Thread.sleep(300); log.add("root done") }))
    assert(met.asScala.toSeq === Seq(true, true))
    assert(log.asScala.toSeq ===
      Seq("root done", "right done", "left done", "join start"))
  }

  test("a failing input is named and its dependents never run") {
    val ran = new ConcurrentLinkedQueue[String]
    val e = intercept[RuntimeException] {
      Chains.run(spark, Seq(
        step("bad_input") { Thread.sleep(300); throw new IllegalStateException("boom") },
        step("dependent", "bad_input")(ran.add("dependent")),
        step("second_hop", "dependent")(ran.add("second_hop")),
        step("with_a_fine_input", "fine", "bad_input")(ran.add("with_a_fine_input")),
        step("fine")(ran.add("fine"))))
    }
    assert(e.getMessage.contains("bad_input failed"))
    assert(e.getMessage.contains("boom"))
    assert(ran.asScala.toSeq === Seq("fine"))
  }

  test("an undeclared input or a cycle fails, named, without running a step") {
    val ran = new AtomicInteger
    val undeclared = intercept[IllegalArgumentException](Chains.run(spark, Seq(
      step("a", "nowhere")(ran.incrementAndGet()))))
    assert(undeclared.getMessage.contains("a reads undeclared step nowhere"))
    val cycle = intercept[IllegalArgumentException](Chains.run(spark, Seq(
      step("free")(ran.incrementAndGet()),
      step("x", "y")(ran.incrementAndGet()), step("y", "x")(ran.incrementAndGet()))))
    assert(cycle.getMessage.contains("dependency cycle: x, y"))
    assert(ran.get === 1) // only the step outside the cycle
  }

  test("a failing step is named and cancels its siblings' Spark jobs") {
    val t0 = System.nanoTime()
    val e = intercept[RuntimeException] {
      Chains.run(spark, Seq(
        step("fine_step")(()),
        step("failing_step", "fine_step") {
          Thread.sleep(1000) // the sibling's job is running by now
          throw new IllegalStateException("boom")
        },
        step("slow_sibling")(
          spark.sparkContext.parallelize(1 to 4, 4)
            .map { i => Thread.sleep(120000); i }.count())))
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
