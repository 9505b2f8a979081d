package graft

import graft.ops.RelOps
import org.apache.spark.TaskContext
import org.apache.spark.sql.{DataFrame, Encoders}
import org.apache.spark.sql.functions._

/** Task-retry determinism drill — the cluster failure mode the shared
  * test session cannot produce (local[4] allows zero task failures).
  *
  * On a 1000-executor cluster, task retries are routine: preemption,
  * fetch failures, speculation. A retried task re-runs against the
  * same input split or shuffle blocks, so results stay correct only
  * if every operator is deterministic per partition AND discards a
  * failed attempt's partial effects. This main runs representative
  * pipelines twice on a retry-enabled master (`local[N,3]`) — once
  * clean, once with injected FIRST-ATTEMPT failures (thrown both at
  * task start and mid-stream, after partial output exists) — and
  * compares order-insensitive fingerprints (count + sum of per-row
  * xxhash64). Drilled surfaces:
  *
  *  - shuffle map + result stages of a partial/final agg → join;
  *  - the custom TopKPerGroupExec bounded-heap operator;
  *  - the ordered_pairs generator (both in-array and self-join paths);
  *  - the graftkv DSv2 writer (task abort must discard the attempt's
  *    file; truncate-commit must keep only committed files).
  *
  * An injection counter proves the failures actually fired; the drill
  * exits nonzero on any fingerprint mismatch. Usage:
  *   tools/run.sh graft.RetryDrill [sfDir=/root/testdata/sf0.01]
  */
object RetryDrill {

  /** Injections actually fired — counted in a plain static, NOT a Spark
    * accumulator: updates from failed task attempts are discarded by
    * the driver (correctly — that discard is half of what this drill
    * verifies), which would always read 0. Local mode shares one JVM,
    * so the static is visible; this tool is local-rehearsal-only.
    */
  private val fired = new java.util.concurrent.atomic.AtomicLong

  /** Identity transform that kills attempt 0 of every 4th partition
    * (INCLUDING partition 0, which always exists — at small SFs AQE
    * coalesces post-shuffle stages to one partition and higher ids
    * never materialize) —
    * `mid=true` throws after 8 rows have already been emitted (the
    * partial-output case a naive sink double-counts), `mid=false` at
    * task start (the scheduler-retry case).
    */
  private def flaky(df: DataFrame, mid: Boolean): DataFrame = {
    val enc = Encoders.row(df.schema)
    df.mapPartitions { it =>
      val tc = TaskContext.get()
      val inject = tc != null && tc.attemptNumber() == 0 && tc.partitionId() % 4 == 0
      if (!inject) it
      else if (!mid) {
        fired.incrementAndGet()
        throw new RuntimeException(s"graft-injected p=${tc.partitionId()}")
      } else {
        var n = 0
        it.map { r =>
          n += 1
          if (n == 8) {
            fired.incrementAndGet()
            throw new RuntimeException(s"graft-injected-mid p=${tc.partitionId()}")
          }
          r
        }
      }
    }(enc)
  }

  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.01")
    // local[N,3]: up to 3 attempts per task, so injected failures retry
    val spark = SparkLocal.session(sfDir, Some(s"local[${SparkLocal.defaultCpus},3]"))

    val lineitem = Tables.lineitem(spark, sfDir)
    val orders = Tables.orders(spark, sfDir)
    val events = Tables.events(spark, sfDir)

    // each drill = (name, clean frame, failure-injected frame). The
    // injected variant wraps the SAME plan with flaky identities both
    // BEFORE the shuffle (map-stage retry) and AFTER it (result-stage
    // retry with partial output discarded).
    def aggJoin(wrap: DataFrame => DataFrame): DataFrame = {
      val partial = wrap(lineitem.select(col("l_orderkey"), col("l_quantity"),
        col("l_extendedprice")))
        .groupBy(col("l_orderkey"))
        .agg(sum(col("l_quantity")).as("qty"),
          count(lit(1)).as("n"),
          sum(col("l_extendedprice")).cast("decimal(18,2)").as("px"))
      wrap(partial.join(orders.select(col("o_orderkey"), col("o_custkey")),
        col("l_orderkey") === col("o_orderkey")))
    }
    def topk(wrap: DataFrame => DataFrame): DataFrame =
      wrap(RelOps.topKPerGroupExact(
        wrap(events.select(col("user_id"), col("ts"), col("event_id"))),
        Seq(col("user_id")),
        Seq(col("ts").desc, col("event_id").desc), k = 5))
    def pairs(wrap: DataFrame => DataFrame): DataFrame = {
      // sort_array makes the set a deterministic sequence — ordered
      // pairs are positional, so an unsorted collect_set would be the
      // exact nondeterminism this drill exists to catch
      val sets = wrap(lineitem.select(col("l_orderkey"), col("l_partkey")))
        .groupBy(col("l_orderkey"))
        .agg(sort_array(collect_set(col("l_partkey"))).as("vals"))
      wrap(RelOps.orderedPairs(sets, Seq("l_orderkey"), "vals", cap = 4))
    }

    val id = (d: DataFrame) => d
    val midFlaky = (d: DataFrame) => flaky(d, mid = true)
    val startFlaky = (d: DataFrame) => flaky(d, mid = false)

    val results = scala.collection.mutable.LinkedHashMap[String, Boolean]()
    def drill(name: String, f: (DataFrame => DataFrame) => DataFrame): Unit = {
      val clean = Chains.fingerprint(f(id))
      val midF = Chains.fingerprint(f(midFlaky))
      val startF = Chains.fingerprint(f(startFlaky))
      results(name) = clean == midF && clean == startF
      System.err.println(s"$name clean=$clean mid=$midF start=$startF")
    }
    drill("agg_join", aggJoin)
    drill("topk_custom_op", topk)
    drill("ordered_pairs", pairs)

    // graftkv DSv2 write under mid-stream task failure: the retried
    // attempt's abort() must delete its partial file and the committed
    // read must equal the input exactly
    val kvDir = java.nio.file.Files.createTempDirectory("graft-retrykv").toString
    val kvIn = orders.select(col("o_orderkey").cast("string").as("k"),
      col("o_totalprice").cast("string").as("v"))
    flaky(kvIn, mid = true)
      .write.format("graftkv").option("bucketsize", 256).mode("append").save(kvDir)
    val kvBack = spark.read.format("graftkv").load(kvDir)
      .select(col("k"), col("v"))
    results("kv_write") = Chains.fingerprint(kvIn) == Chains.fingerprint(kvBack)
    System.err.println(s"kv_write in=${Chains.fingerprint(kvIn)} back=${Chains.fingerprint(kvBack)}")

    val ok = results.values.forall(identity) && fired.get() > 0
    println(s"""{"tool":"retry_drill","sf":"$sfDir",""" +
      s""""injected_failures":${fired.get()},""" +
      results.map { case (k, v) => s""""$k":${if (v) "\"match\"" else "\"MISMATCH\""}""" }
        .mkString(",") + s""","ok":$ok}""")
    spark.stop()
    if (!ok) sys.exit(1)
  }
}
