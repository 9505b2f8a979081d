package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared local session for all suites (getOrCreate dedupes across
  * suites in the same JVM; sbt forks one test JVM).
  */
trait SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkSpec.session
  val sf: String = "/root/testdata/sf0.001"
}

object SparkSpec {
  /** The harness mains' session (same confs) on local[4]. */
  lazy val session: SparkSession = SparkLocal.session("/root/testdata/sf0.001",
    Some("local[4]"), Seq("spark.sql.warehouse.dir" ->
      java.nio.file.Files.createTempDirectory("graft-wh").toString))
}
