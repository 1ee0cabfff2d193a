package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.operators.Relational

/** Structured Streaming slice (SURVEY.md §2.9): the reference is a
  * scheduled micro-batch incremental pipeline (cron → scrape → existence
  * probe → upsert, main.js:35-51), which maps 1:1 onto Structured
  * Streaming: trigger → source → dropDuplicates/anti-join state → merge
  * sink. The reference has no event time; we generalize to event-time
  * tumbling windows + watermark over the `events` table (the declared
  * approach in BASELINE.json).
  *
  * Scale notes: watermark bounds the dedup/agg state (the reference's
  * state is its whole database — unbounded); `foreachBatch` + MERGE
  * gives exactly-once upsert semantics on any table format.
  */
object EventsStream {

  /** Replay the events table as a file micro-batch stream, normalized to
    * the same shape as the batch `Tables(_, _, "events")`.
    *
    * A streaming parquet source needs its schema up front, and events.ts
    * has shipped in more than one physical type across testdata
    * generations — so discover the file's actual ts type from its
    * footer (a driver-side metadata read, no Spark job) and normalize
    * through the same [[graft.Tables.normalizeTs]] as the batch read. */
  def replay(spark: SparkSession, sfDir: String): DataFrame = {
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val tsType = graft.Tables.parquet(spark, s"$sfDir/events.parquet")
      .schema("ts").dataType
    val rawSchema = StructType(Seq(
      StructField("event_id", LongType), StructField("ts", tsType),
      StructField("user_id", LongType), StructField("event_type", StringType),
      StructField("value", DoubleType), StructField("props", StringType)))
    graft.Tables.normalizeTs(spark.readStream.schema(rawSchema)
      .option("maxFilesPerTrigger", 1)
      .option("pathGlobFilter", "events.parquet")
      .parquet(sfDir))
  }

  /** Event-time tumbling-window aggregation with a 2h watermark —
    * streaming twin of Relational's q_window_time. */
  def windowedAgg(events: DataFrame): DataFrame =
    events
      .withWatermark("ts", "2 hours")
      .groupBy(window(col("ts"), "1 hour"), col("event_type"))
      .agg(count(lit(1)).as("n"),
        sum(col("value").cast(DecimalType(12, 2))).cast("double").as("total"))
      .select(unix_micros(col("window.start")).as("window_start_us"),
        col("event_type"), col("n"), col("total"))

  /** Native session windows (30-min gap): the SAME declaration runs in
    * batch (q_session_window, oracle-checked) and under Structured
    * Streaming, where the watermark bounds per-key session state —
    * sessions merge across micro-batches and emit (append mode) once
    * the watermark passes their end. The declarative twin of the
    * imperative [[sessionizeGroup]]. */
  def sessionWindowAgg(events: DataFrame): DataFrame =
    events
      .withWatermark("ts", "2 hours")
      .groupBy(col("user_id"),
        session_window(col("ts"), "30 minutes").as("sw"))
      .agg(count(lit(1)).as("n_events"))
      .select(col("user_id"),
        unix_micros(col("sw.start")).as("start_us"),
        unix_micros(col("sw.end")).as("end_us"),
        col("n_events"))

  /** ST5: streaming keyed dedup with watermark-bounded state (the
    * reference's `Post.findOne({id})` existence probe, set-wise).
    * `dropDuplicatesWithinWatermark`, NOT plain `dropDuplicates`: with
    * the event-time column absent from the dedup subset, plain
    * dropDuplicates never evicts its per-id state — it grows one entry
    * per distinct id forever, the exact leak StreamingGate's
    * q_stream_dedup documents. Within-watermark dedup drops an id's
    * state once the watermark passes its event time; duplicates
    * arriving later than the watermark delay are no longer caught,
    * which is the standard bounded-state trade. */
  def dedupByKey(events: DataFrame): DataFrame =
    events.withWatermark("ts", "2 hours")
      .dropDuplicatesWithinWatermark("event_id")

  /** Session state for gap-based sessionization (mapGroupsWithState). */
  case class SessionState(sessionId: Long, lastTs: Long)
  case class SessionEvent(user_id: Long, ts_us: Long)
  case class SessionAssignment(user_id: Long, ts_us: Long, session_id: Long)

  /** Custom keyed state: assign a session id per (user, 30-min gap) —
    * arbitrary stateful processing via flatMapGroupsWithState
    * (SURVEY.md §2.9 generalization; the reference's only state is "the
    * database"). State survives micro-batches: a user's session numbering
    * continues where the previous batch left off. Within a batch, events
    * are processed in event-time order.
    *
    * ORDERING CONTRACT (cross-batch): a key's events must arrive in
    * event-time order ACROSS micro-batches — the imperative fold keeps
    * only (sessionId, lastTs), so a late event from an earlier batch
    * window joins the wrong session AND regresses lastTs, shifting
    * every later boundary. True for single-file replay (one batch) and
    * any source that emits a key's events monotonically; an
    * out-of-order backfill needs the watermark-based declarative twin
    * [[sessionWindowAgg]], which buffers and merges late events
    * instead of folding eagerly. (Equal-ts ties cannot split a session
    * — gap 0 <= 30 min — so no tiebreak is needed; the sort key is
    * ts alone, user_id being constant within the group.) */
  def sessionizeGroup(
      key: Long,
      events: Iterator[SessionEvent],
      state: org.apache.spark.sql.streaming.GroupState[SessionState])
      : Iterator[SessionAssignment] = {
    val GAP_US = 30L * 60 * 1000000
    var st = state.getOption.getOrElse(SessionState(0L, Long.MinValue))
    val out = events.toSeq.sortBy(_.ts_us).map { e =>
      val fresh = st.lastTs == Long.MinValue || e.ts_us - st.lastTs > GAP_US
      st = SessionState(if (fresh) st.sessionId + 1 else st.sessionId, e.ts_us)
      SessionAssignment(e.user_id, e.ts_us, st.sessionId)
    }
    state.update(st)
    out.iterator
  }

  /** Tagged event for streaming as-of enrichment (is_state = the side
    * that carries state, e.g. purchases; facts are enriched). */
  case class TaggedEvent(user_id: Long, ts_us: Long, is_state: Boolean)
  case class EnrichedFact(user_id: Long, ts_us: Long, state_ts_us: java.lang.Long)

  /** Streaming BACKWARD AS-OF: enrich each fact with the latest
    * state-row time at-or-before it — the streaming twin of the native
    * batch operator (graft.plans.AsOf). Both streams arrive unioned and
    * tagged on one key; per-key state is O(1) (the MAX state time seen),
    * carried across micro-batches by flatMapGroupsWithState. Within a
    * batch, events are processed in event-time order (ties: state
    * before fact, matching the batch operator's inclusive rt <= lt).
    * The carried state is monotone (max, not last-seen): a LATE state
    * row from an earlier batch window must not regress it — facts in
    * this batch are all at-or-after the watermark, so the true latest
    * state at-or-before them is the max. (A late state row between two
    * EARLIER facts is inherently unfixable in O(1) state — those facts
    * were already emitted; that is the streaming-vs-batch trade, not a
    * bug of this fold.) */
  def asOfEnrichGroup(
      key: Long,
      events: Iterator[TaggedEvent],
      state: org.apache.spark.sql.streaming.GroupState[Long])
      : Iterator[EnrichedFact] = {
    var lastState = state.getOption.getOrElse(Long.MinValue)
    val out = events.toSeq
      .sortBy(e => (e.ts_us, !e.is_state)) // state first at equal ts
      .flatMap { e =>
        if (e.is_state) { lastState = math.max(lastState, e.ts_us); None }
        else Some(EnrichedFact(e.user_id, e.ts_us,
          if (lastState == Long.MinValue) null else java.lang.Long.valueOf(lastState)))
      }
    state.update(lastState)
    out.iterator
  }

  /** Write `merged` to `target + "_tmp_<batchId>"` then swap it into
    * place — the shared sink tail of both merge variants (atomic-ish:
    * single-process test harness; a table format's transactional MERGE
    * replaces this at cluster scale). */
  private def swapIntoPlace(target: String, merged: DataFrame,
      batchId: Long): Unit = {
    val tmp = target + s"_tmp_$batchId"
    merged.write.mode("overwrite").parquet(tmp)
    val old = new java.io.File(target)
    if (old.exists()) graft.Fs.deleteRec(old)
    require(new java.io.File(tmp).renameTo(old), s"swap failed: $tmp -> $target")
  }

  /** K1 as a streaming sink: exactly-once MERGE upsert per micro-batch
    * into a parquet target (anti-join ∪ updates, then atomic swap). */
  def mergeIntoParquet(spark: SparkSession, target: String, key: String)(
      batch: DataFrame, batchId: Long): Unit = {
    val fs = new java.io.File(target)
    val merged =
      if (fs.exists())
        Relational.merge(graft.Tables.parquet(spark, target), batch, key)
      else batch
    swapIntoPlace(target, merged, batchId)
  }

  /** Latest-per-key MERGE: like [[mergeIntoParquet]] but CONDITIONAL —
    * target ∪ batch reduced to the max-(ts, tiebreak) row per key, so
    * the result is the true latest regardless of micro-batch ARRIVAL
    * order. A blind last-writer merge is only latest-per-key when
    * batches happen to arrive in event-time order (true for today's
    * single-file replay, false in general — a replayed backfill file
    * can carry older events than an already-merged one). */
  def mergeLatestIntoParquet(spark: SparkSession, target: String,
      key: String, ts: String, tiebreak: String)(
      batch: DataFrame, batchId: Long): Unit = {
    import org.apache.spark.sql.expressions.Window
    val fs = new java.io.File(target)
    val all =
      if (fs.exists()) graft.Tables.parquet(spark, target).unionByName(batch)
      else batch
    val w = Window.partitionBy(col(key))
      .orderBy(col(ts).desc, col(tiebreak).desc)
    val merged = all.withColumn("__rk", row_number().over(w))
      .filter(col("__rk") === 1).drop("__rk")
    swapIntoPlace(target, merged, batchId)
  }

  /** Latest-per-key MERGE with PARTITION-PRUNED rewrite — the 100 TB
    * form of [[mergeLatestIntoParquet]], whose full-target rewrite per
    * micro-batch is O(target) write amplification per trigger (fine for
    * a test-sized swap, a scale-killer against a 100 TB upsert target).
    *
    * Layout: the target is a parquet directory partitioned by
    * `__bucket = pmod(xxhash64(key), numBuckets)` — a STABLE hash of
    * the merge key, so every row of a given key lives in exactly one
    * bucket forever and a merge never needs to look outside the buckets
    * its batch touches. Per micro-batch:
    *
    *   1. bucket the batch and list its distinct buckets (bounded by
    *      numBuckets — a constant-sized driver fetch, never data-scaled);
    *   2. read ONLY those buckets of the target (an `isin` filter on
    *      the partition column → partition pruning skips every other
    *      bucket's files entirely);
    *   3. reduce (touched target slice ∪ batch) to the max-(ts,
    *      tiebreak) row per key;
    *   4. stage the result partitioned by `__bucket` and swap JUST the
    *      touched bucket directories into place. Untouched partitions
    *      are never read, never rewritten, byte-identical after the
    *      trigger (MergePruneSpec asserts mtime + inode stability).
    *
    * Cost per trigger is O(|batch| + touched_buckets × target/numBuckets)
    * instead of O(target); numBuckets is the scale knob (a 100 TB target
    * wants thousands of buckets or a date partition, same mechanism).
    * The staged-then-rename tail keeps the no-table-format contract of
    * [[swapIntoPlace]] (SURVEY §7.3); a transactional format's MERGE
    * with dynamic partition overwrite is the drop-in at cluster scale. */
  def mergeLatestIntoBucketedParquet(spark: SparkSession, target: String,
      key: String, ts: String, tiebreak: String, numBuckets: Int = 16)(
      batch: DataFrame, batchId: Long): Unit = {
    import org.apache.spark.sql.expressions.Window
    val bucketed = batch.withColumn("__bucket",
      pmod(xxhash64(col(key)), lit(numBuckets.toLong)).cast("int"))
    val touched = bucketed.select(col("__bucket")).distinct()
      .collect().map(_.getInt(0)).sorted // <= numBuckets values, by design
    if (touched.isEmpty) return
    val dir = new java.io.File(target)
    val existingTouched =
      if (dir.exists())
        spark.read.parquet(target)
          .filter(col("__bucket").isin(touched.map(Integer.valueOf): _*))
      else bucketed.limit(0)
    val w = Window.partitionBy(col(key))
      .orderBy(col(ts).desc, col(tiebreak).desc)
    val merged = existingTouched.unionByName(bucketed)
      .withColumn("__rk", row_number().over(w))
      .filter(col("__rk") === 1).drop("__rk")
    val tmp = new java.io.File(target + s"_tmp_$batchId")
    merged.write.mode("overwrite").partitionBy("__bucket").parquet(tmp.toString)
    dir.mkdirs()
    touched.foreach { b =>
      val src = new java.io.File(tmp, s"__bucket=$b")
      // a touched bucket holds >= 1 batch row and the merge keeps >= 1
      // row per key, so its staged directory must exist
      require(src.isDirectory, s"staged bucket missing: $src")
      val dst = new java.io.File(dir, s"__bucket=$b")
      if (dst.exists()) graft.Fs.deleteRec(dst)
      require(src.renameTo(dst), s"bucket swap failed: $src -> $dst")
    }
    graft.Fs.deleteRec(tmp)
  }
}
