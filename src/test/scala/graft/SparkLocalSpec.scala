package graft

import org.scalatest.funsuite.AnyFunSuite

import java.nio.file.{Files, Paths}

class SparkLocalSpec extends AnyFunSuite {

  test("initial shuffle width floors at cores, grows with input, caps at 1024") {
    val dir = Files.createTempDirectory("sized")
    try {
      // empty input → core count (the driver-SF no-op case)
      assert(SparkLocal.initialShufflePartitions(dir.toString, 32) === 32)
      // 8 MB → 4 wanted, still floored at the core count
      Files.write(dir.resolve("a.parquet"), new Array[Byte](8 << 20))
      assert(SparkLocal.initialShufflePartitions(dir.toString, 32) === 32)
      // nested directory layout is summed recursively
      val sub = dir.resolve("t.parquet")
      Files.createDirectory(sub)
      Files.write(sub.resolve("part-0.parquet"), new Array[Byte](120 << 20))
      assert(SparkLocal.initialShufflePartitions(dir.toString, 32) === 64)
      // the cap bounds a huge rehearsal input
      assert(SparkLocal.initialShufflePartitions(dir.toString, 2048) === 2048,
        "floor (cores) wins over the cap when cores exceed it")
    } finally {
      // 128 MB of zeros per run otherwise accretes in /tmp forever —
      // enough runs starve the sf1 gate's DuckDB spill space
      val walk = Files.walk(dir)
      try walk.sorted(java.util.Comparator.reverseOrder())
        .forEach(p => Files.deleteIfExists(p))
      finally walk.close()
    }
  }

  test("session conf: shuffle width = cores, sized initial width, UTC, extensions") {
    val dir = Files.createTempDirectory("sized")
    try {
      Files.write(dir.resolve("a.parquet"), new Array[Byte](24 << 20))
      val conf = SparkLocal.conf(dir.toString, Some("local[3]")).toMap
      assert(conf("spark.master") === "local[3]")
      assert(conf("spark.sql.shuffle.partitions") === "3")
      assert(conf("spark.sql.adaptive.coalescePartitions.initialPartitionNum") ===
        SparkLocal.initialShufflePartitions(dir.toString, 3).toString)
      assert(conf("spark.sql.adaptive.coalescePartitions.initialPartitionNum") === "12")
      assert(conf("spark.sql.session.timeZone") === "UTC")
      assert(conf("spark.ui.enabled") === "false")
      assert(conf("spark.sql.extensions") === "graft.plans.GraftExtensions")
      // executor shipping is for separate executor processes only
      assert(!conf.contains("spark.executor.extraClassPath"))
      // the master's task slots size the shuffle: local[N,F] → N,
      // local-cluster[E,C,M] → E×C
      assert(SparkLocal.conf(dir.toString, Some("local[5,3]")).toMap
        .apply("spark.sql.shuffle.partitions") === "5")
      assert(SparkLocal.conf(dir.toString, Some("local-cluster[3,4,2048]")).toMap
        .apply("spark.sql.shuffle.partitions") === "12")
      // no master: SPARK_GRAFT_CPUS, else the host's cores
      assert(SparkLocal.conf(dir.toString).toMap.apply("spark.master") ===
        s"local[${SparkLocal.defaultCpus}]")
    } finally {
      val walk = Files.walk(dir)
      try walk.sorted(java.util.Comparator.reverseOrder())
        .forEach(p => Files.deleteIfExists(p))
      finally walk.close()
    }
  }

  test("a non-local master ships the running graft classes to its executors") {
    // where this JVM actually loaded graft classes from
    val loaded = Paths.get(getClass.getClassLoader
      .getResource("graft/SparkLocal.class").toURI)
    val root = Paths.get(SparkLocal.codeLocation)
    assert(loaded === root.resolve("graft/SparkLocal.class"))
    val conf = SparkLocal.conf("/nonexistent", Some("local-cluster[2,1,1024]")).toMap
    assert(conf("spark.executor.extraClassPath") === root.toString)
    assert(conf("spark.executor.extraJavaOptions")
      .contains("--add-opens java.base/sun.nio.ch=ALL-UNNAMED"))
    assert(conf("spark.cleaner.referenceTracking.cleanCheckpoints") === "true")
  }
}
