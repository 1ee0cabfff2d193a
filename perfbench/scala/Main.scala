package graftbench

import java.lang.management.ManagementFactory

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.GraftBenchBus
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.MapType
import org.apache.spark.unsafe.types.UTF8String

/** Closed-loop runner for one workload: one client, one query at a time.
  * It sets up once (session plus `--warm` untimed warm passes, timed
  * from JVM start), then runs timed passes over the workload's queries, each
  * pass in an order drawn from `--seed`, until `--seconds` have been spent. Each
  * pass ends with graft's housekeeping (cache drop and GC). Every
  * query's output is reduced to an order-insensitive digest over all
  * its columns. With `--trace 1` the passes alternate between untraced
  * and traced, and the Spark, SQL and streaming listeners record spans
  * during traced passes. Raw timings, digests and spans are written
  * once, at the end, to `--out` as JSON; perfbench/run.py turns them
  * into metrics.
  *
  * Usage: graftbench.Main --queries q_a,q_b --data DIR --seed N
  *   --warm W --seconds S --trace 0|1 --out FILE */
object Main {

  final case class QueryRun(name: String, start: Double, buildEnd: Double,
    end: Double, rows: Long, digest: String, error: String)

  final case class Pass(index: Int, traced: Boolean, start: Double,
    end: Double, queries: Seq[QueryRun], housekeepingMs: Double,
    gcMs: Long, heapMb: Double, threadsMax: Int, streamRows: Long,
    streamTriggerMs: Long, cpuMs: Double, stealTicks: Long)

  /** The operator pack (module) that registers each query. */
  lazy val packOf: Map[String, String] = {
    import graft.operators._
    Seq[graft.QueryPack](Relational, TextAnalytics, Dedup, Similarity,
      Multimodal, Topics, Scalars, Analytic, Extras, Pipeline, StreamingGate,
      Sketches, Discovery, Inference, Curation)
      .flatMap(p => p.queries.keys.map(_ -> p.getClass.getSimpleName.stripSuffix("$")))
      .toMap
  }

  def main(args: Array[String]): Unit = {
    val opt = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val names = opt("queries").split(",").toSeq
    val data = opt("data")
    val seed = opt("seed").toLong
    val seconds = opt("seconds").toDouble
    val trace = opt("trace") == "1"
    val warm = opt("warm").toInt
    val jvmStart = ManagementFactory.getRuntimeMXBean.getStartTime.toDouble

    val registry = graft.SparkEntry.queries
    val missing = names.filterNot(registry.contains)
    require(missing.isEmpty, s"queries not in the registry: ${missing.mkString(",")}")
    val counter = new StreamCounter

    // set-up: session plus `warm` untimed passes, timed from JVM start
    val spark = graft.Harness.session(warm = true)
    val sc = spark.sparkContext
    sc.addSparkListener(counter)
    val sessionEnd = Clock.ms
    for (_ <- 0 until warm) {
      names.foreach(n => runQuery(spark, n, registry(n), data))
      graft.Harness.housekeeping(spark)
    }
    val warmEnd = Clock.ms

    val tracer = new Tracer
    def attach(on: Boolean): Unit =
      if (on) {
        sc.addSparkListener(tracer)
        spark.listenerManager.register(tracer)
      } else {
        GraftBenchBus.drain(sc)
        sc.removeSparkListener(tracer)
        spark.listenerManager.unregister(tracer)
      }

    val gcBeans = ManagementFactory.getGarbageCollectorMXBeans.asScala.toSeq
    def gcTotal: Long = gcBeans.map(_.getCollectionTime).sum
    val mem = ManagementFactory.getMemoryMXBean
    val os = ManagementFactory.getOperatingSystemMXBean
      .asInstanceOf[com.sun.management.OperatingSystemMXBean]
    val passes = ArrayBuffer[Pass]()
    val window0 = Clock.ms
    def estimate: Double =
      if (passes.isEmpty) (warmEnd - sessionEnd) / warm
      else passes.map(p => p.end - p.start).sum / passes.size
    // start another pass while it would end nearer the target than not,
    // and run at least two: a median of one pass is one sample, and a
    // traced run needs an untraced and a traced pass
    while (passes.size < 2 ||
           Clock.ms - window0 + estimate / 2 < seconds * 1000) {
      val index = passes.size
      val traced = trace && index % 2 == 1
      if (traced) attach(true)
      val order = new scala.util.Random(seed * 7919 + index).shuffle(names)
      val gc0 = gcTotal
      val cpu0 = os.getProcessCpuTime
      val steal0 = stealTicks
      val (rows0, trig0) = counter.synchronized((counter.inputRows, counter.triggerMs))
      var threads = 0
      val runs = ArrayBuffer[QueryRun]()
      val p0 = Clock.ms
      for (n <- order) {
        runs += runQuery(spark, n, registry(n), data)
        threads = math.max(threads, Thread.activeCount())
      }
      val h0 = Clock.ms
      graft.Harness.housekeeping(spark)
      val p1 = Clock.ms
      val heapMb = mem.getHeapMemoryUsage.getUsed / 1048576.0
      val gcMs = gcTotal - gc0
      val cpuMs = (os.getProcessCpuTime - cpu0) / 1e6
      val steal = stealTicks - steal0
      if (traced) attach(false) else GraftBenchBus.drain(sc)
      val (rows1, trig1) = counter.synchronized((counter.inputRows, counter.triggerMs))
      passes += Pass(index, traced, p0, p1, runs.toSeq, p1 - h0, gcMs, heapMb,
        threads, rows1 - rows0, trig1 - trig0, cpuMs, steal)
    }

    val probe = if (trace) Probe.run(spark, data, seed) else Nil
    val conf = spark.conf.getAll.toSeq.sortBy(_._1)
    val props = sys.props.toSeq.filter(_._1.startsWith("graft.")).sortBy(_._1)
    val env = Json.obj(
      "nproc" -> Json.num(Runtime.getRuntime.availableProcessors),
      "master" -> Json.str(sc.master),
      "max_heap_mb" -> Json.num(Runtime.getRuntime.maxMemory / 1048576.0),
      "jvm_args" -> Json.arr(ManagementFactory.getRuntimeMXBean.getInputArguments
        .asScala.toSeq.filter(_.startsWith("-X")).map(Json.str)),
      "spark_version" -> Json.str(spark.version),
      "graft_sysprops" -> Json.obj(props.map { case (k, v) => k -> Json.str(v) }: _*),
      "conf" -> Json.obj(conf.map { case (k, v) => k -> Json.str(v) }: _*))
    val out = Json.obj(
      "env" -> env,
      "setup" -> Json.obj("start" -> Json.num(jvmStart),
        "session_end" -> Json.num(sessionEnd), "warm_end" -> Json.num(warmEnd)),
      "passes" -> Json.arr(passes.toSeq.map(passJson)),
      "jobs" -> Json.arr(tracer.jobs.toSeq.map(j => Json.obj(
        "id" -> Json.num(j.id), "start" -> Json.num(j.startMs),
        "end" -> Json.num(j.endMs), "cut" -> Json.bool(j.cut),
        "tasks" -> Json.num(j.tasks), "busy_ms" -> Json.num(j.busyMs),
        "gc_ms" -> Json.num(j.gcMs), "in_bytes" -> Json.num(j.inBytes),
        "in_rows" -> Json.num(j.inRows), "shuffle_read" -> Json.num(j.shufRead),
        "shuffle_write" -> Json.num(j.shufWrite), "spill" -> Json.num(j.spill),
        "out_bytes" -> Json.num(j.outBytes)))),
      "plans" -> Json.arr(tracer.plans.toSeq.map(p => Json.obj(
        p.phases.toSeq.map { case (k, (a, b)) =>
          k -> Json.arr(Seq(Json.num(a), Json.num(b))) }: _*))),
      "triggers" -> Json.arr(tracer.triggers.toSeq.map(t => Json.obj(
        "start" -> Json.num(t.startMs), "end" -> Json.num(t.endMs),
        "input_rows" -> Json.num(t.inputRows), "run_id" -> Json.str(t.runId),
        "state_rows" -> Json.num(t.stateRows),
        "state_memory_bytes" -> Json.num(t.stateMemBytes),
        "state_commit_ms" -> Json.num(t.stateCommitMs),
        "durations" -> Json.obj(t.durations.toSeq.map { case (k, v) =>
          k -> Json.num(v) }: _*)))),
      "probe" -> Json.arr(probe))
    java.nio.file.Files.write(java.nio.file.Paths.get(opt("out")),
      out.getBytes("UTF-8"))
    spark.stop()
  }

  /** Host ticks withheld from this guest (the steal column of /proc/stat),
    * -1 where the host does not report them. */
  private def stealTicks: Long = try {
    val f = scala.io.Source.fromFile("/proc/stat")
    try f.getLines().next().trim.split("\\s+").lift(8).map(_.toLong).getOrElse(-1L)
    finally f.close()
  } catch { case _: Exception => -1L }

  private def passJson(p: Pass): String = Json.obj(
    "index" -> Json.num(p.index), "traced" -> Json.bool(p.traced),
    "start" -> Json.num(p.start), "end" -> Json.num(p.end),
    "housekeeping_ms" -> Json.num(p.housekeepingMs),
    "gc_ms" -> Json.num(p.gcMs), "cpu_ms" -> Json.num(p.cpuMs),
    "steal_ticks" -> Json.num(p.stealTicks),
    "heap_mb" -> Json.num(p.heapMb),
    "threads_max" -> Json.num(p.threadsMax),
    "stream_input_rows" -> Json.num(p.streamRows),
    "stream_trigger_ms" -> Json.num(p.streamTriggerMs),
    "queries" -> Json.arr(p.queries.map(q => Json.obj(
      "name" -> Json.str(q.name), "pack" -> Json.str(packOf.getOrElse(q.name, "Other")),
      "start" -> Json.num(q.start),
      "build_end" -> Json.num(q.buildEnd), "end" -> Json.num(q.end),
      "rows" -> Json.num(q.rows), "digest" -> Json.str(q.digest),
      "error" -> (if (q.error == null) "null" else Json.str(q.error))))))

  /** Builds the query's frame (its eager jobs and drains run here) and
    * evaluates it through the digest action. A throw is recorded, not
    * raised. */
  def runQuery(spark: SparkSession, name: String,
      fn: (SparkSession, String) => DataFrame, data: String): QueryRun = {
    val t0 = Clock.ms
    var t1 = Double.NaN
    try {
      val df = fn(spark, data)
      t1 = Clock.ms
      val (rows, d) = digest(df)
      QueryRun(name, t0, t1, Clock.ms, rows, d, null)
    } catch { case e: Throwable =>
      val t = Clock.ms
      QueryRun(name, t0, if (t1.isNaN) t else t1, t, -1, "",
        s"${e.getClass.getName}: ${e.getMessage}".take(500))
    }
  }

  /** Row count plus order-insensitive sums of two row hashes over every
    * column (map columns as sorted entry arrays), prefixed by the
    * schema. Hashing all columns keeps Catalyst from pruning any of the
    * query's computed output. */
  def digest(df: DataFrame): (Long, String) = {
    val fields = df.schema.fields
    val pos = df.toDF(fields.indices.map("c" + _): _*)
    val cols = fields.indices.map { i =>
      fields(i).dataType match {
        case _: MapType => array_sort(map_entries(col("c" + i)))
        case _ => col("c" + i)
      }
    }
    val r = pos.select(xxhash64(cols: _*).as("h"), hash(cols: _*).as("m"))
      .agg(count(lit(1)), sum(col("h").bitwiseAND(0xffffffffL)),
        sum(shiftrightunsigned(col("h"), 32)), sum(col("m").cast("long")))
      .head()
    val schema = fields.map(f => s"${f.name}:${f.dataType.simpleString}").mkString(",")
    val sums = (1 to 3).map(i => if (r.isNullAt(i)) "0" else r.getLong(i).toString)
    (r.getLong(0), s"${r.getLong(0)}/${sums.mkString("/")}/" +
      java.lang.Integer.toHexString(schema.hashCode))
  }
}

/** Digests of parquet dumps written by `graft.Verify`, so the expected
  * digests can be tied to outputs that tools/check.py compared with the
  * DuckDB oracle.
  *
  * Usage: graftbench.DumpDigest VERIFY_OUT_DIR q_a,q_b */
object DumpDigest {
  def main(args: Array[String]): Unit = {
    val spark = graft.Harness.session()
    for (q <- args(1).split(","))
      println(s"$q ${Main.digest(spark.read.parquet(s"${args(0)}/$q"))._2}")
    spark.stop()
  }
}

/** Direct calls to graft's text kernels on a seeded sample of the
  * `documents` texts: ns per call and the call count of each. */
object Probe {
  def run(spark: SparkSession, data: String, seed: Long): Seq[String] = {
    val texts = graft.Tables(spark, data, "documents").select("text")
      .collect().map(_.getString(0)).toSeq
    val sample = new scala.util.Random(seed).shuffle(texts).take(200)
    val words = sample.flatMap(_.split(" "))
    val utf8 = sample.map(UTF8String.fromString)
    // each kernel loops over the sample for 0.3 s untimed (JIT warm-up),
    // then for 0.3 s timed
    def loop(n: Int, f: Int => Unit): (Long, Long) = {
      var calls = 0L
      val t0 = System.nanoTime()
      while (System.nanoTime() - t0 < 300000000L) {
        var i = 0
        while (i < n) { f(i); i += 1 }
        calls += n
      }
      (calls, System.nanoTime() - t0)
    }
    def time(name: String, n: Int)(f: Int => Unit): String = {
      loop(n, f)
      val (calls, ns) = loop(n, f)
      Json.obj("kernel" -> Json.str(name), "calls" -> Json.num(calls),
        "ns_per_call" -> Json.num(ns.toDouble / calls))
    }
    Seq(
      time("stem", words.size)(i => graft.functions.PorterStemmer.stem(words(i))),
      time("simhash", utf8.size)(i => graft.functions.SimHashKernel.simhash(utf8(i))),
      time("winnow", utf8.size)(i => graft.functions.WinnowKernel.winnow(utf8(i))))
  }
}

/** Minimal JSON text builders for the raw record. */
object Json {
  def str(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"' => b ++= "\\\""
      case '\\' => b ++= "\\\\"
      case c if c < ' ' => b ++= f"\\u${c.toInt}%04x"
      case c => b += c
    }
    (b += '"').toString
  }
  def num(v: Double): String = if (v.isNaN || v.isInfinite) "null" else v.toString
  def num(v: Long): String = v.toString
  def bool(v: Boolean): String = v.toString
  def arr(xs: Seq[String]): String = xs.mkString("[", ",", "]")
  def obj(kv: (String, String)*): String =
    kv.map { case (k, v) => str(k) + ":" + v }.mkString("{", ",", "}")
}
