package graft
import org.apache.spark.sql.SparkSession

/** Shared session construction + inter-query housekeeping for the
  * harness mains (Bench / Verify / TimeQuery / Smoke).
  * Previously each main hand-maintained an identical builder block and
  * housekeeping sequence; a fix landing in one copy and not another
  * silently skews that entry point's numbers. One definition, one
  * place to fix. */
object Harness {

  /** The one local session shape every main uses: graft extensions,
    * `local[SPARK_GRAFT_CPUS]` (default 32), shuffle partitions =
    * cpus (NOT the 200 default — see SURVEY §9 config row), AQE with
    * small-partition coalescing, UTC, no UI.
    *
    * Per-session artifact isolation is OFF. Spark 4.1 keys its codegen
    * class cache on (context classloader, code), and with isolation on
    * every session clone — one per Structured Streaming drain — gets a
    * fresh executor classloader, so each drain recompiled all of its
    * generated classes (14 Janino compiles per q_stream_window drain).
    * graft never adds per-session jars, files or archives, so isolation
    * guards nothing here; with it off a drain's cloned session shares
    * the classloader and its classes come from the cache. The setting
    * only takes effect at session creation, hence the builder.
    *
    * `file://` goes through [[NioLocalFileSystem]] and [[NioLocalFs]]
    * ([[Fs.nioLocalConf]]). Without the native Hadoop library the stock
    * local filesystem forks a `chmod` per create and mkdir and two
    * `readlink`s per FileContext rename; a streaming trigger's offset
    * log, commit log and state deltas are all create-and-rename, so a
    * q_stream_window drain forked 266 child processes. The nio
    * versions write the same bytes and `.crc` files and fork none. Set
    * on the builder so the SparkContext's Hadoop conf carries them
    * before the first `FileSystem` for `file://` is created and cached.
    * @param warm run one tiny job to absorb session/codegen/committer
    *   init, so timed queries measure the queries (Bench-style mains) */
  def session(warm: Boolean = false): SparkSession = {
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val s = SparkSession.builder()
      .withExtensions(new GraftExtensions)
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.artifact.isolation.enabled", "false")
      .config(Fs.nioLocalConf)
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    // opt into RELIABLE checkpoints for the iterative kernels from the
    // environment (the A/B lever for Iterate's two modes; housekeeping
    // clears the dir's contents between queries)
    sys.env.get("GRAFT_CHECKPOINT_DIR").filter(_.nonEmpty)
      .foreach(d => s.conf.set("graft.checkpoint.dir", d))
    if (warm) s.range(1000000).selectExpr("sum(id)").collect()
    s
  }

  /** Between-queries housekeeping (run OUTSIDE any timer): drop
    * persisted frames/caches a query left behind and give the
    * ContextCleaner a GC so accumulated broadcast/shuffle state is
    * actually released — without this, driver-side state from ~25+
    * queries in one JVM degrades later queries by an order of
    * magnitude (observed at sf0.1; thread counts growing ~10/query
    * are the symptom). The same steps for every main: no query keeps
    * JVM-side state between runs (the tokenizer trainers are plain
    * functions of their inputs), so a timed rep and a Verify run both
    * pay each query's full cost. */
  def housekeeping(spark: SparkSession): Unit = {
    spark.catalog.clearCache()
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(false))
    // reliable-mode checkpoint data is never GC'd by Spark itself
    // (see Iterate.scala scaladoc) — between queries no checkpointed
    // lineage is live, so the whole dir's contents can go
    graft.operators.Iterate.clearCheckpoints(spark)
    System.gc()
  }
}
