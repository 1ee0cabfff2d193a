package graft

/** Dev-only query timer: `tools/run.sh graft.TimeQuery <sfDir>
  * <name>[,<name>...] [reps] [explain|show]` — same session shape and
  * inter-rep housekeeping as Bench, but scoped to the named queries so
  * a perf diagnosis doesn't pay for the whole sweep. Prints one line
  * per rep and a `min=… all=…` summary per query; `explain` prints the
  * formatted plan and `show` the first 5 rows before the timed reps. */
object TimeQuery {
  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val names = args(1).split(',').toSeq
    val reps = args.lift(2).flatMap(_.toIntOption).getOrElse(3)
    val spark = Harness.session(warm = true)
    for (name <- names) {
      val fn = SparkEntry.queries(name)
      if (args.contains("explain")) fn(spark, sfDir).explain("formatted")
      if (args.contains("show")) fn(spark, sfDir).show(5, false)
      val times = (1 to reps).map { i =>
        val t0 = System.nanoTime()
        val n = fn(spark, sfDir).count()
        val dt = (System.nanoTime() - t0) / 1e9
        println(f"[$name] rep$i: $dt%.3f s  rows=$n")
        Harness.housekeeping(spark)
        dt
      }
      println(f"$name: min=${times.min}%.3f s  all=${times.map(t => f"$t%.3f").mkString(",")}")
    }
    spark.stop()
  }
}
