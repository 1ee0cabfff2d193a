package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import graft.streaming.EventsStream
import java.sql.Timestamp

class StreamingSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  test("streaming windowed agg equals batch result (replay of events)") {
    import spark.implicits._
    val out = EventsStream.windowedAgg(EventsStream.replay(spark, TestSpark.sf))
    val q = out.writeStream.format("memory").queryName("winagg")
      .outputMode("complete").start()
    q.processAllAvailable(); q.stop()

    val streamed = spark.table("winagg")
      .orderBy("window_start_us", "event_type")
      .collect().map(_.toSeq).toSeq
    val batch = graft.operators.Relational
      .queries("q_window_time")(spark, TestSpark.sf)
      .collect().map(_.toSeq).toSeq
    assert(streamed == batch)
  }

  test("Trigger.AvailableNow drains the backlog then stops on its own") {
    // the cron-style run the reference schedules every 3h (main.js:35-39),
    // Spark-first: process everything available, checkpoint, terminate —
    // repeated invocations resume incrementally instead of re-scraping
    import org.apache.spark.sql.streaming.Trigger
    val out = EventsStream.windowedAgg(EventsStream.replay(spark, TestSpark.sf))
    val q = out.writeStream.format("memory").queryName("avnow")
      .outputMode("complete")
      .trigger(Trigger.AvailableNow()).start()
    assert(q.awaitTermination(120000), "query did not self-terminate")
    assert(!q.isActive)
    val streamed = spark.table("avnow")
      .orderBy("window_start_us", "event_type").collect().map(_.toSeq).toSeq
    val batch = graft.operators.Relational
      .queries("q_window_time")(spark, TestSpark.sf)
      .collect().map(_.toSeq).toSeq
    assert(streamed == batch)
  }

  test("AvailableNow + checkpoint: a restarted run processes only new files") {
    // the reference's cron model: each run picks up where the store
    // left off (ST4/ST5). Here the checkpoint carries the source state
    // across process restarts: run 1 ingests f1, run 2 (same
    // checkpoint) sees f1 already committed and ingests only f2.
    import java.nio.file.{Files, Paths, StandardCopyOption}
    import org.apache.spark.sql.streaming.Trigger
    val src = Files.createTempDirectory("graft_incr_src").toString
    val sink = Files.createTempDirectory("graft_incr_sink").toString + "/out"
    val ckpt = Files.createTempDirectory("graft_incr_ckpt").toString
    val events = Paths.get(TestSpark.sf, "events.parquet")
    Files.copy(events, Paths.get(src, "f1.parquet"), StandardCopyOption.REPLACE_EXISTING)

    def runOnce(): Unit = {
      // only the two projected columns — a partial parquet read schema
      // prunes the rest and stays independent of the ts physical type
      val projSchema = org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("event_id",
          org.apache.spark.sql.types.LongType),
        org.apache.spark.sql.types.StructField("event_type",
          org.apache.spark.sql.types.StringType)))
      val q = spark.readStream.schema(projSchema).parquet(src)
        .select(col("event_id"), col("event_type"))
        .writeStream.format("parquet")
        .option("path", sink).option("checkpointLocation", ckpt)
        .trigger(Trigger.AvailableNow()).start()
      assert(q.awaitTermination(120000))
    }

    runOnce()
    val n1 = spark.read.parquet(sink).count()
    Files.copy(events, Paths.get(src, "f2.parquet"), StandardCopyOption.REPLACE_EXISTING)
    runOnce()
    val n2 = spark.read.parquet(sink).count()
    assert(n1 > 0)
    assert(n2 == 2 * n1, s"expected exactly one extra file's rows: n1=$n1 n2=$n2")
  }

  test("streaming dropDuplicates removes cross-batch duplicate keys") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val ms = MemoryStream[(Long, Timestamp, Double)]
    val df = ms.toDF().toDF("event_id", "ts", "value")
    val q = EventsStream.dedupByKey(df)
      .writeStream.format("memory").queryName("dedup").outputMode("append").start()
    val t0 = Timestamp.valueOf("2024-01-01 00:00:00")
    ms.addData((1L, t0, 1.0), (2L, t0, 2.0))
    q.processAllAvailable()
    ms.addData((1L, t0, 99.0), (3L, t0, 3.0)) // 1 is a duplicate key
    q.processAllAvailable(); q.stop()
    val rows = spark.table("dedup").select("event_id", "value")
      .collect().map(r => (r.getLong(0), r.getDouble(1))).sortBy(_._1).toSeq
    assert(rows == Seq((1L, 1.0), (2L, 2.0), (3L, 3.0))) // first wins, no dup
  }

  test("foreachBatch merge sink upserts last-writer-wins per key") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val target = java.nio.file.Files.createTempDirectory("graft_merge").toString + "/t"
    val ms = MemoryStream[(Long, String)]
    val q = ms.toDF().toDF("id", "v").writeStream
      .foreachBatch(EventsStream.mergeIntoParquet(spark, target, "id") _)
      .outputMode("update").start()
    ms.addData((1L, "a"), (2L, "b")); q.processAllAvailable()
    ms.addData((1L, "a2"), (3L, "c")); q.processAllAvailable()
    q.stop()
    val rows = spark.read.parquet(target).as[(Long, String)]
      .collect().sortBy(_._1).toSeq
    assert(rows == Seq((1L, "a2"), (2L, "b"), (3L, "c")))
  }

  test("latest-per-key merge keeps the newest row under OUT-OF-ORDER batches") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val target = java.nio.file.Files
      .createTempDirectory("graft_merge_latest").toString + "/t"
    val ms = MemoryStream[(Long, Long, Long, String)]
    val q = ms.toDF().toDF("user_id", "ts_us", "event_id", "v").writeStream
      .foreachBatch(EventsStream.mergeLatestIntoParquet(
        spark, target, "user_id", "ts_us", "event_id") _)
      .outputMode("update").start()
    // batch 1 carries the NEWER event for user 1; batch 2 replays an
    // older one (a backfill) — a blind last-writer merge would clobber
    ms.addData((1L, 100L, 10L, "new"), (2L, 50L, 5L, "b")); q.processAllAvailable()
    ms.addData((1L, 40L, 4L, "old"), (3L, 60L, 6L, "c")); q.processAllAvailable()
    q.stop()
    val rows = spark.read.parquet(target).as[(Long, Long, Long, String)]
      .collect().sortBy(_._1).toSeq
    assert(rows == Seq((1L, 100L, 10L, "new"), (2L, 50L, 5L, "b"),
      (3L, 60L, 6L, "c")))
  }

  test("a repeated AvailableNow drain compiles no new codegen classes") {
    // each drain runs on a cloned session; with per-session artifact
    // isolation off (TestSpark, Harness.session) the clone shares the
    // classloader the codegen cache is keyed on, so a second identical
    // drain finds every generated class already compiled
    import org.apache.spark.metrics.source.CodegenMetrics
    import org.apache.spark.sql.DataFrame
    import org.apache.spark.sql.streaming.Trigger
    val out = java.nio.file.Files
      .createTempDirectory("graft_codegen_sink").toString + "/win"
    val sink: (DataFrame, Long) => Unit =
      (batch, _) => batch.write.mode("overwrite").parquet(out)
    def drainOnce(): Unit = {
      val q = EventsStream.windowedAgg(EventsStream.replay(spark, TestSpark.sf))
        .writeStream.outputMode("complete")
        .trigger(Trigger.AvailableNow())
        .foreachBatch(sink).start()
      assert(q.awaitTermination(120000), "drain did not self-terminate")
    }
    drainOnce()
    val compiles = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    drainOnce()
    assert(CodegenMetrics.METRIC_COMPILATION_TIME.getCount - compiles == 0)
  }

  test("q_stream_window (oracle-gated streaming entry) equals batch twin") {
    val streamed = graft.operators.StreamingGate
      .queries("q_stream_window")(spark, TestSpark.sf)
      .collect().map(_.toSeq).toSeq
    val batch = graft.operators.Relational
      .queries("q_window_time")(spark, TestSpark.sf)
      .collect().map(_.toSeq).toSeq
    assert(streamed == batch)
  }

  test("q_stream_sessions (custom state drain) equals batch sessionization") {
    val streamed = graft.operators.StreamingGate
      .queries("q_stream_sessions")(spark, TestSpark.sf)
      .collect().map(_.toSeq).toSeq
    val batch = graft.operators.Analytic
      .queries("q_sessionize")(spark, TestSpark.sf)
      .collect().map(_.toSeq).toSeq
    assert(streamed == batch)
  }

  test("q_stream_upsert (streaming MERGE drain) equals batch latest-per-key") {
    val streamed = graft.operators.StreamingGate
      .queries("q_stream_upsert")(spark, TestSpark.sf)
      .collect().map(_.toSeq).toSeq
    val batch = graft.operators.Relational
      .queries("q_latest_per_key")(spark, TestSpark.sf)
      .select("event_id", "ts_us", "user_id", "event_type", "value")
      .collect().map(_.toSeq).toSeq
    assert(streamed == batch)
  }

  test("q_stream_restart: a killed drain resumes from checkpoint with offsets, state and sink intact") {
    import org.apache.spark.sql.functions._
    val result = graft.operators.StreamingGate
      .queries("q_stream_restart")(spark, TestSpark.sf)
    val rows = result.collect()
    TestSpark.housekeeping()
    // (1) recovery happened at all: the planted kill fired (marker) and
    // all three micro-batches produced batchId-keyed output
    val root = new java.io.File(System.getProperty("java.io.tmpdir"))
      .listFiles().find(_.getName.startsWith(
        s"graft_stream_q_stream_restart_${ProcessHandle.current().pid()}"))
      .getOrElse(fail("no q_stream_restart work dir"))
    assert(new java.io.File(root, "killed").exists(),
      "the first drain never died — the gate tested nothing")
    val batchDirs = new java.io.File(root, "out").listFiles()
      .filter(_.getName.startsWith("b")).map(_.getName).sorted
    assert(batchDirs.toSeq == Seq("b0", "b1", "b2"))
    // (2) dedup STATE survived the restart: no event_id appears in two
    // batch outputs (a lost state store would re-admit the planted
    // cross-file duplicates in the post-crash batches)
    val perBatch = spark.read.parquet(new java.io.File(root, "out").getPath + "/b*")
      .select(col("event_id")).collect().map(_.getLong(0))
    assert(perBatch.length == perBatch.distinct.length,
      "duplicate event_ids across batch outputs — state lost on restart")
    // (3) the drained union is exactly the batch events table
    val n = Tables(spark, TestSpark.sf, "events").count()
    assert(rows.length.toLong == n)
  }

  /** The streaming queries `body` starts, in start order. The started
    * event reaches session listeners synchronously on the query's own
    * thread, after the manager has registered the query. */
  private def queriesStartedBy(body: => Any)
      : Seq[org.apache.spark.sql.streaming.StreamingQuery] = {
    import org.apache.spark.sql.streaming.StreamingQueryListener
    import org.apache.spark.sql.streaming.StreamingQueryListener._
    val started = new java.util.concurrent.ConcurrentLinkedQueue[
      org.apache.spark.sql.streaming.StreamingQuery]()
    val listener = new StreamingQueryListener {
      def onQueryStarted(e: QueryStartedEvent): Unit =
        started.add(spark.streams.get(e.id))
      def onQueryProgress(e: QueryProgressEvent): Unit = ()
      def onQueryTerminated(e: QueryTerminatedEvent): Unit = ()
    }
    spark.streams.addListener(listener)
    try body finally spark.streams.removeListener(listener)
    import scala.jdk.CollectionConverters._
    started.asScala.toSeq
  }

  /** Live threads of the state stores' checksum file-manager pools. */
  private def checksumThreads: Int = {
    import scala.jdk.CollectionConverters._
    Thread.getAllStackTraces.keySet.asScala
      .count(_.getName.startsWith("ChecksumCheckpointFileManager"))
  }

  test("a finished drain closes its state stores: three q_stream_window drains leave no pool threads") {
    import org.apache.spark.sql.graftshim.GraftShim
    val before = checksumThreads
    val qs = queriesStartedBy((1 to 3).foreach(_ =>
      graft.operators.StreamingGate.queries("q_stream_window")(
        spark, TestSpark.sf).collect()))
    assert(qs.length == 3)
    val ids = qs.flatMap(GraftShim.stateProviders)
    assert(ids.length == 3 * 8, ids)
    assert(ids.forall(!GraftShim.isLoaded(_)), "a drain left a provider loaded")
    assert(checksumThreads <= before)
  }

  test("the killed first run of q_stream_restart releases its state stores too") {
    import org.apache.spark.sql.graftshim.GraftShim
    val before = checksumThreads
    val qs = queriesStartedBy(graft.operators.StreamingGate
      .queries("q_stream_restart")(spark, TestSpark.sf).collect())
    TestSpark.housekeeping()
    assert(qs.length == 2)
    assert(qs.head.exception.nonEmpty, "the first drain did not die")
    val dying = GraftShim.stateProviders(qs.head)
    assert(dying.nonEmpty)
    assert(dying.forall(!GraftShim.isLoaded(_)),
      "the dying drain left a provider loaded")
    assert(checksumThreads <= before)
  }

  test("staged replay: k slices drain as exactly k micro-batches, batch i holding slice i") {
    import org.apache.spark.sql.DataFrame
    import org.apache.spark.sql.streaming.Trigger
    import scala.jdk.CollectionConverters._
    val root = java.nio.file.Files.createTempDirectory("staged_replay").toString
    val ids = (0 until 3).map(i => (100L * i until 100L * i + 7).toSeq)
    val slices = ids.map(r => spark.range(r.head, r.last + 1).toDF("id"))
    val seen = new java.util.concurrent.ConcurrentHashMap[Long, Seq[Long]]()
    val sink: (DataFrame, Long) => Unit = (batch, id) =>
      seen.put(id, batch.collect().map(_.getLong(0)).sorted.toSeq)
    graft.operators.StreamingGate.stagedReplay(spark, root, slices)
      .writeStream.trigger(Trigger.AvailableNow())
      .option("checkpointLocation", root + "/ckpt")
      .foreachBatch(sink).start().awaitTermination()
    assert(seen.asScala.toMap ==
      ids.zipWithIndex.map { case (r, i) => i.toLong -> r }.toMap)
  }
}
