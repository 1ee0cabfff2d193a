package graft
object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    // echoed into the JSON lines (VERDICT r15 item 8) so the driver's
    // scaling probe can verify mechanically that the core-count knob
    // was honored, instead of inferring it from flat sec@8/sec@32
    // ratios of driver-bound queries
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    // tenancy evidence must be read BEFORE the bench generates its own
    // load: the END-of-run loadavg of a local[32] leg is dominated by
    // the leg itself (measured 7.9 on an idle host), so the idle-host
    // claim a round archive makes is carried by the START reading
    def loadAvg(): String = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get("/proc/loadavg")), "UTF-8")
      .split(" ").take(3).mkString(",")
    val loadStart: String = try loadAvg() catch { case _: Exception => "" }
    val spark = Harness.session(warm = true)
    def housekeeping(): Unit = Harness.housekeeping(spark)

    // Optional comma-separated allowlist for targeted A/B legs
    // (SPARK_GRAFT_ONLY=q_pagerank,q_modularity). Full runs leave it
    // unset; filtered legs are for attribution, never archived as
    // round benches.
    val only = sys.env.get("SPARK_GRAFT_ONLY")
      .map(_.split(",").map(_.trim).toSet)
    val selected = only match {
      case Some(set) => SparkEntry.queries.filter { case (n, _) => set(n) }
      case None      => SparkEntry.queries
    }
    val failed = scala.collection.mutable.ListBuffer[String]()
    // live threads and used heap on the driver after each query's last
    // rep and its housekeeping: a per-query leak shows as a climb here
    val driver = scala.collection.mutable.LinkedHashMap[String, (Int, Double)]()
    val threadBean = java.lang.management.ManagementFactory.getThreadMXBean
    val memBean = java.lang.management.ManagementFactory.getMemoryMXBean
    val results = selected.map { case (name, fn) =>
      // Some(seconds) on success, None on failure.
      def once(): Option[Double] = {
        val t0 = System.nanoTime()
        val ok =
          try { fn(spark, sfDir).count(); true }
          catch { case e: Throwable =>
            System.err.println(s"[bench] FAILED $name: ${e.getClass.getName}: ${e.getMessage}")
            false
          }
        val dt = (System.nanoTime() - t0) / 1e9
        housekeeping()
        val threads = threadBean.getThreadCount
        val heapMb = memBean.getHeapMemoryUsage.getUsed / 1048576.0
        driver(name) = (threads, heapMb)
        System.err.println(f"[bench] $name%-24s ${dt}%8.2f s  ok=$ok  threads=$threads  heapMB=$heapMb%.1f")
        if (ok) Some(dt) else None
      }
      // A measurement far above the sub-second norm MAY be transient
      // interference (co-scheduled processes, GC debt, a stray JVM) —
      // or a genuinely slow query (the composed q_etl_pipeline runs
      // ~7.7 s steady at sf0.1). Re-measure only until two reps agree
      // within 25% — a steady-state query confirms in ONE extra rep
      // and stops, while interference keeps shrinking and earns the
      // third rep. Failures are also retried; the query counts as
      // failed only when NO rep succeeds (a transient failure with a
      // later good rep keeps its timing, so 'total' stays comparable
      // across runs). Reported figure = min over reps.
      val meas = scala.collection.mutable.ListBuffer[Double]()
      once().foreach(meas += _)
      def confirmed: Boolean = meas.toSeq.combinations(2).exists {
        case Seq(a, b) => math.abs(a - b) <= 0.25 * math.min(a, b)
      }
      var extra = 0
      while ((meas.isEmpty || (meas.min > 3.0 && !confirmed)) && extra < 2) {
        once().foreach(meas += _)
        extra += 1
      }
      if (meas.isEmpty) failed += name
      name -> meas.minOption
    }
    val good = results.collect { case (k, Some(v)) => k -> v }
    // 3-decimal times keep the JSON small; ms precision is below the
    // run-to-run noise floor anyway
    def fmt(v: Double): String =
      BigDecimal(v).setScale(3, BigDecimal.RoundingMode.HALF_UP).toString
    def qsJson(m: Iterable[(String, Double)]): String =
      m.map { case (k, v) => "\"" + k + "\":" + fmt(v) }.mkString("{", ",", "}")
    val total = if (good.nonEmpty) good.values.sum else 0.0
    val failedJson = failed.map("\"" + _ + "\"").mkString("[", ",", "]")
    val driverJson = driver.map { case (k, (t, h)) =>
      "\"" + k + "\":{\"threads\":" + t + ",\"heap_mb\":" + fmt(h) + "}"
    }.mkString("{", ",", "}")
    // host-tenancy evidence in every archived bench JSON (VERDICT r12
    // item 7): 1/5/15-min load averages + cumulative steal ticks, so
    // future band attributions are mechanical, not forensic. steal =
    // field 9 of the aggregate cpu line in /proc/stat (ticks the
    // hypervisor withheld from this guest).
    def hostLoad: String = try {
      val la = loadAvg()
      val steal = new String(java.nio.file.Files.readAllBytes(
        java.nio.file.Paths.get("/proc/stat")), "UTF-8")
        .linesIterator.find(_.startsWith("cpu "))
        .map(_.trim.split("\\s+")).filter(_.length > 8)
        .map(_(8)).getOrElse("0")
      s""""loadavg_start":[$loadStart],"loadavg":[$la],"steal_ticks":$steal"""
    } catch { case _: Exception =>
      s""""loadavg_start":[$loadStart],"loadavg":[],"steal_ticks":-1""" }
    val full =
      s"""{"metric":"total","value":${fmt(total)},"unit":"sec","cpus":$cpus,$hostLoad,"queries":${qsJson(good)},"failed":$failedJson,"driver_after_housekeeping":$driverJson,"sf":"$sfDir"}"""
    // The harness stores only the LAST ~2000 chars of stdout: the full
    // per-query line alone overflows that window and loses the total
    // (r2/r3). So: full line first (and to bench_full.json for offline
    // reads), then a compact, self-contained summary — total + the 8
    // slowest queries — as the FINAL line, guaranteed to land intact
    // inside the stored tail.
    try java.nio.file.Files.write(java.nio.file.Paths.get("bench_full.json"),
      (full + "\n").getBytes("UTF-8"))
    catch { case e: Exception => System.err.println(s"[bench] bench_full.json: $e") }
    println(full)
    val slowest = good.toSeq.sortBy(-_._2).take(8)
    println(s"""{"metric":"total","value":${fmt(total)},"unit":"sec","cpus":$cpus,"queries":${qsJson(slowest)},"n_queries":${good.size},"failed":$failedJson,"sf":"$sfDir","detail":"bench_full.json"}""")
    spark.stop()
  }
}
