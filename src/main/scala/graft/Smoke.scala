package graft

/** Local stand-in for the driver's t1 smoke: runs SparkEntry.entry on
  * sf0.001 and prints the row count (driver checks rows > 0). */
object Smoke {
  def main(args: Array[String]): Unit = {
    val spark = Harness.session()
    val df = SparkEntry.entry(spark)
    val n = df.count()
    println(s"[smoke] entry rows=$n schema=${df.schema.map(_.name).mkString(",")}")
    df.show(5, truncate = false)
    spark.stop()
  }
}
