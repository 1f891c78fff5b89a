package graft

/** Local equivalent of the driver's t1 smoke: run [[SparkEntry.entry]] and
  * assert rows > 0.
  */
object Smoke {
  def main(args: Array[String]): Unit = {
    val spark = Engine.session(4)
    val df = SparkEntry.entry(spark)
    val n = df.count()
    df.show(10, truncate = false)
    println(s"[smoke] entry rows=$n ${if (n > 0) "OK" else "FAIL"}")
    spark.stop()
    if (n <= 0) sys.exit(1)
  }
}
