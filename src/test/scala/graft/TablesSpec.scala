package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.functions._

import java.nio.file.{Files, Paths}
import java.util.concurrent.{ConcurrentLinkedQueue, TimeUnit}
import scala.jdk.CollectionConverters._

/** `Tables.load` caches each table's inferred schema (never its data):
  * a repeat load runs no Spark job, and a rewritten file or a changed
  * parquet conf infers again.
  */
class TablesSpec extends SparkSpec {

  /** `body`'s result and the number of Spark jobs it started. */
  private def jobsOf[T](body: => T): (T, Int) = {
    val sc = spark.sparkContext
    val group = s"tables-spec-${java.util.UUID.randomUUID()}"
    val seen = new ConcurrentLinkedQueue[String]
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        seen.add(String.valueOf(Option(e.properties).map(_.getProperty("spark.jobGroup.id")).orNull))
    }
    sc.addSparkListener(listener)
    try {
      sc.setJobGroup(group, "counted")
      val result = try body finally sc.clearJobGroup()
      // the listener bus delivers events in order: once the marker job's
      // start has arrived, so has every job start before it
      sc.setJobGroup(s"$group-marker", "marker")
      try sc.parallelize(1 to 1, 1).count() finally sc.clearJobGroup()
      val deadline = System.nanoTime() + TimeUnit.SECONDS.toNanos(30)
      while (!seen.contains(s"$group-marker") && System.nanoTime() < deadline) Thread.sleep(20)
      assert(seen.contains(s"$group-marker"), "the marker job never reached the listener")
      (result, seen.asScala.count(_ == group))
    } finally sc.removeSparkListener(listener)
  }

  /** A private copy of one sf table: a key no other suite has cached. */
  private def copyOf(name: String): String = {
    val dir = Files.createTempDirectory("graft-tables")
    Files.copy(Paths.get(s"$sf/$name.parquet"), dir.resolve(s"$name.parquet"))
    dir.toString
  }

  test("a second load of a table runs no Spark job") {
    val dir = copyOf("region")
    val (first, inferJobs) = jobsOf(Tables.load(spark, dir, "region"))
    assert(inferJobs > 0, "the first load should infer the schema")
    val (second, jobs) = jobsOf(Tables.load(spark, dir, "region"))
    assert(jobs === 0)
    assert(second.schema === first.schema)
    assert(second.count() === 5)
  }

  test("a table rewritten at the same path loads with its new schema") {
    val dir = Files.createTempDirectory("graft-tables").toString
    spark.range(3).toDF("a").write.parquet(s"$dir/t.parquet")
    assert(Tables.load(spark, dir, "t").schema.fieldNames.toSeq === Seq("a"))
    spark.range(4).select(col("id").cast("string").as("b"), lit(1).as("c"))
      .write.mode("overwrite").parquet(s"$dir/t.parquet")
    val reloaded = Tables.load(spark, dir, "t")
    assert(reloaded.schema.fieldNames.toSeq === Seq("b", "c"))
    assert(reloaded.count() === 4)
  }

  test("a changed parquet conf infers again") {
    val key = "spark.sql.legacy.parquet.nanosAsLong"
    val before = spark.conf.getOption(key)
    val dir = copyOf("nation")
    try {
      spark.conf.set(key, "true")
      Tables.load(spark, dir, "nation")
      spark.conf.set(key, "false")
      assert(jobsOf(Tables.load(spark, dir, "nation"))._2 > 0, "a changed conf must infer again")
      spark.conf.set(key, "true")
      assert(jobsOf(Tables.load(spark, dir, "nation"))._2 === 0, "each conf keeps its own schema")
    } finally before match {
      case Some(v) => spark.conf.set(key, v)
      case None => spark.conf.unset(key)
    }
  }

  test("rows read through the cached schema equal a plain parquet read") {
    // the nanos-as-long reading events needs, as Tables.events sets it
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    def hashes(df: org.apache.spark.sql.DataFrame): Seq[Long] =
      df.select(xxhash64(df.columns.map(col).toIndexedSeq: _*)).collect().map(_.getLong(0))
        .toSeq.sorted
    Tables.names.foreach { name =>
      Tables.load(spark, sf, name) // fills the cache
      val cached = Tables.load(spark, sf, name)
      val plain = spark.read.parquet(s"$sf/$name.parquet")
      assert(cached.schema === plain.schema, name)
      assert(hashes(cached) === hashes(plain), name)
    }
  }
}
