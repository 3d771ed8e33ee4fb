package graft

/** Local smoke runner mirroring the driver's t1 gate: `entry` must return
  * rows > 0 on sf0.001. Usage: graft.Smoke
  */
object Smoke {
  def main(args: Array[String]): Unit = {
    val spark = GraftSession.start()
    val df = SparkEntry.entry(spark)
    val n = df.count()
    df.show(5, truncate = false)
    println(s"entry rows=$n " + (if (n > 0) "SMOKE-OK" else "SMOKE-EMPTY"))
    spark.stop()
  }
}
