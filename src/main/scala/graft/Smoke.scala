package graft

/** Local smoke for the driver's t1 check: run the flagship entry query
  * and print its row count (driver requires rows > 0 at sf0.001).
  */
object Smoke {
  def main(args: Array[String]): Unit = {
    // the scale the entry query reads
    val spark = SparkLocal.session("/root/testdata/sf0.001")
    val df = SparkEntry.entry(spark)
    println(s"entry rows=${df.count()}")
    df.show(5, truncate = false)
    spark.stop()
  }
}
