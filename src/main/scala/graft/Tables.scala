package graft

import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.parquet.format.converter.ParquetMetadataConverter
import org.apache.parquet.hadoop.Footer
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.execution.datasources.parquet.{
  ParquetFileFormat, ParquetFooterReader, ParquetToSparkSchemaConverter}
import org.apache.spark.sql.types.StructType

/** Testdata loaders (see TESTDATA.md).
  *
  * Every query reads through here so scan behavior is uniform: plain
  * parquet scans that Catalyst can prune columns from and push filters
  * into (`PushedFilters` / `ReadSchema` in `.explain("formatted")`).
  *
  * At cluster scale these single files become partitioned/bucketed table
  * roots; nothing downstream assumes single-file inputs.
  */
object Tables {

  /** Deterministic hash repartition sized by the session's
    * defaultParallelism, for CPU-HEAVY narrow work whose input frame
    * arrives with fewer partitions than cores — a row-group-capped
    * small parquet scan, or an AQE-coalesced tiny-bytes exchange
    * (AQE sizes partitions by bytes; it cannot see that each row
    * carries an expensive fold/decode). Guide §2.5: "repartition
    * immediately after the read". The key must be high-cardinality
    * (≫ partitions) and the computation per-row, so results are
    * partition-invariant (DeterminismSpec's standing gate). At
    * cluster scale the input usually already has ≥ parallelism
    * partitions and this is one cheap narrow-row exchange before the
    * expensive per-row work — never a payload reshuffle. */
  def spread(df: DataFrame, key: org.apache.spark.sql.Column): DataFrame = {
    val out =
      df.repartition(df.sparkSession.sparkContext.defaultParallelism, key)
    // several spread sites sit directly behind an eager
    // localCheckpoint, so the REPARTITION_BY_NUM evidence never
    // reaches the consumer query's final plan; dump it here
    explain(s"spread plan [key=$key]", out)
    out
  }

  /** `-Dgraft.explain`: print `df`'s executed plan to stderr under
    * `== label ==`. The one plan-dump switch, read per call; it covers
    * the frames a query's own final plan cannot show — each
    * [[spread]] frame and each [[graft.operators.Iterate.cut]] frame
    * before its checkpoint truncates the lineage. Print only: no query
    * changes. */
  def explain(label: => String, df: DataFrame): Unit =
    if (sys.props.contains("graft.explain"))
      System.err.println(s"== $label ==\n" + df.queryExecution.executedPlan.toString)

  /** Run two INDEPENDENT eager build chains (collect/localCheckpoint-
    * bounded, no shared mutable state) concurrently on a 2-thread
    * pool — the q_ann_ivfpq_lloyd arm-pool device (guide §2.6
    * overlap-independent-jobs) generalized: one chain's driver-side
    * planning gaps and job tails back-fill the executors the other
    * leaves idle. Each chain stays serial inside itself; the frames /
    * models produced are identical to the sequential build, only the
    * materialization SCHEDULE overlaps. Callers must pass chains with
    * no order dependence: each builds only its own lineage and keeps
    * no state outside it (the tokenizer trainers share nothing). */
  def inParallel[A, B](fa: => A, fb: => B): (A, B) = {
    val Seq(a, b) = inParallelSeq(Seq(() => (fa: Any), () => (fb: Any)))
    (a.asInstanceOf[A], b.asInstanceOf[B])
  }

  /** N-ary [[inParallel]]: run every thunk on its own pool thread and
    * wait for all. Used for batches of INDEPENDENT small write/stage
    * jobs (state snapshots, staged replay files with pinned mtimes) —
    * each write targets its own directory, so only the schedule
    * changes, never the bytes. */
  def inParallelSeq[A](fs: Seq[() => A]): Seq[A] = {
    val pool =
      java.util.concurrent.Executors.newFixedThreadPool(math.max(fs.size, 1))
    implicit val ec: scala.concurrent.ExecutionContext =
      scala.concurrent.ExecutionContext.fromExecutorService(pool)
    try scala.concurrent.Await.result(
      scala.concurrent.Future.sequence(fs.map(f => scala.concurrent.Future(f()))),
      scala.concurrent.duration.Duration.Inf)
    finally pool.shutdown()
  }

  val names: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  def apply(spark: SparkSession, sfDir: String, name: String): DataFrame = {
    require(names.contains(name), s"unknown table: $name")
    if (name == "events") {
      // events.ts may be INT64 TIMESTAMP(NANOS), which Spark reads only
      // as a raw long under this conf; normalizeTs handles every shape
      spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
      normalizeTs(parquet(spark, s"$sfDir/$name.parquet"))
    } else parquet(spark, s"$sfDir/$name.parquet")
  }

  /** Normalize an events frame's `ts` to a session-TZ (UTC) TimestampType
    * so every downstream unix_micros/window expression sees one type,
    * matching DuckDB's TIMESTAMP read of the same file. events.ts has
    * shipped as parquet INT64 TIMESTAMP(NANOS) in some testdata
    * generations (read as a raw long under nanosAsLong) and as plain
    * TIMESTAMP(MICROS) [isAdjustedToUTC=false → TIMESTAMP_NTZ] in
    * others. Works on batch and streaming frames alike. */
  def normalizeTs(raw: DataFrame): DataFrame = {
    import org.apache.spark.sql.functions.{col, expr, timestamp_micros}
    import org.apache.spark.sql.types.{LongType, TimestampNTZType, TimestampType}
    raw.schema("ts").dataType match {
      case LongType => // raw nanos → truncate to micros (DuckDB ns→µs behavior)
        raw.withColumn("ts", timestamp_micros(expr("ts div 1000")))
      case TimestampNTZType => // exact under the UTC session timezone
        raw.withColumn("ts", col("ts").cast(TimestampType))
      case TimestampType => raw
      case other => sys.error(s"unexpected events.ts type: $other")
    }
  }

  /** `spark.read.parquet(path)` without the schema-inference job.
    *
    * A schema-less parquet read runs Spark's schema merge as a 1-task
    * job (~80 ms with its driver gaps) that opens ONE footer — the
    * first data file by path when schema merging is off. This reads
    * that same footer on the driver through Spark's own converter
    * (keeping the Spark row-metadata schema and the session's
    * nanosAsLong / NTZ / binary-as-string settings) and hands the
    * schema to the reader, which then starts no job. Files are listed
    * through the Hadoop FileSystem, so globs and cluster paths work.
    *
    * For flat layouts only: a path with `k=v` partition directories,
    * or with no data file at all, falls back to Spark's own inference
    * (and its partition discovery or its error). */
  def parquet(spark: SparkSession, path: String): DataFrame =
    footerSchema(spark, path) match {
      case Some(schema) => spark.read.schema(schema).parquet(path)
      case None => spark.read.parquet(path)
    }

  private def footerSchema(spark: SparkSession,
      path: String): Option[StructType] = {
    val conf = spark.sessionState.newHadoopConf()
    val root = new Path(path)
    val fs = root.getFileSystem(conf)
    // InMemoryFileIndex's rule: `_`/`.` names are metadata, not data
    def hidden(p: Path) = {
      val n = p.getName
      (n.startsWith("_") && !n.contains("=")) || n.startsWith(".")
    }
    def entries(st: FileStatus): Seq[FileStatus] =
      st +: (if (!st.isDirectory) Nil
        else fs.listStatus(st.getPath).toSeq
          .filterNot(f => hidden(f.getPath)).flatMap(entries))
    val (dirs, files) = Option(fs.globStatus(root)).map(_.toSeq)
      .getOrElse(Nil).flatMap(entries).partition(_.isDirectory)
    if (dirs.exists(_.getPath.getName.contains("="))) None // partitioned
    else files.minByOption(_.getPath.toString).map { first =>
      val meta = ParquetFooterReader.readFooter(
        HadoopInputFile.fromStatus(first, conf),
        ParquetMetadataConverter.SKIP_ROW_GROUPS)
      ParquetFileFormat.readSchemaFromFooter(new Footer(first.getPath, meta),
        new ParquetToSparkSchemaConverter(spark.sessionState.conf))
    }
  }
}
