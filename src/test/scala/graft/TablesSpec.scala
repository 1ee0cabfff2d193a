package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import java.nio.file.Files

/** The footer-schema read path (Tables.parquet): the schema it hands
  * the reader must be exactly the one Spark's own inference finds, and
  * a table read through it must start no Spark job. */
class TablesSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  /** Spark jobs started while `body` runs, counted under a fresh job
    * group. The status tracker is fed asynchronously by the listener
    * bus, so a marker job in its own group is run afterwards and
    * awaited: the bus is FIFO, so once the marker shows, every job
    * `body` started has been recorded too. */
  private def jobsDuring(body: => Any): Int = {
    val sc = spark.sparkContext
    val group = "tables-spec-" + java.util.UUID.randomUUID()
    sc.setJobGroup(group, group)
    try body finally sc.clearJobGroup()
    val marker = group + "-marker"
    sc.setJobGroup(marker, marker)
    try sc.parallelize(Seq(1), 1).count() finally sc.clearJobGroup()
    val deadline = System.nanoTime() + 30L * 1000000000L
    while (sc.statusTracker.getJobIdsForGroup(marker).isEmpty &&
        System.nanoTime() < deadline) Thread.sleep(10)
    assert(sc.statusTracker.getJobIdsForGroup(marker).nonEmpty)
    sc.statusTracker.getJobIdsForGroup(group).length
  }

  private def path(name: String) = s"${TestSpark.sf}/$name.parquet"

  /** An events file whose ts is INT64 TIMESTAMP(NANOS), the testdata
    * generation Spark reads only as a raw long under nanosAsLong. */
  private def nanosEventsDir(): String = {
    import org.apache.hadoop.fs.Path
    import org.apache.parquet.example.data.simple.SimpleGroupFactory
    import org.apache.parquet.hadoop.example.ExampleParquetWriter
    import org.apache.parquet.schema.MessageTypeParser
    val dir = Files.createTempDirectory("graft_tables_nanos").toString
    val schema = MessageTypeParser.parseMessageType(
      """message events {
        |  optional int64 event_id;
        |  optional int64 ts (TIMESTAMP(NANOS,true));
        |  optional int64 user_id;
        |  optional binary event_type (STRING);
        |  optional double value;
        |  optional binary props (STRING);
        |}""".stripMargin)
    val w = ExampleParquetWriter.builder(new Path(s"$dir/events.parquet"))
      .withType(schema).build()
    val rows = new SimpleGroupFactory(schema)
    try Seq((1L, 1700000000123456789L), (2L, 1700000001000000999L))
      .foreach { case (id, ns) =>
        w.write(rows.newGroup().append("event_id", id).append("ts", ns)
          .append("user_id", 7L).append("event_type", "view")
          .append("value", 1.5).append("props", "{}"))
      }
    finally w.close()
    dir
  }

  test("footer schema equals Spark's inferred schema for all 10 tables") {
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    Tables.names.foreach { name =>
      assert(Tables.parquet(spark, path(name)).schema ==
        spark.read.parquet(path(name)).schema, name)
    }
  }

  test("footer schema keeps nanosAsLong: a TIMESTAMP(NANOS) events file") {
    import org.apache.spark.sql.types.{LongType, TimestampType}
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val dir = nanosEventsDir()
    val raw = Tables.parquet(spark, s"$dir/events.parquet")
    assert(raw.schema == spark.read.parquet(s"$dir/events.parquet").schema)
    assert(raw.schema("ts").dataType == LongType)
    val ev = Tables(spark, dir, "events")
    assert(ev.schema("ts").dataType == TimestampType)
    // ns → µs truncation, as DuckDB reads the same file
    assert(ev.orderBy("event_id").select(unix_micros(col("ts")))
      .collect().map(_.getLong(0)).toSeq ==
      Seq(1700000000123456L, 1700000001000000L))
  }

  test("footer schema equals Spark's for Spark-written sink dirs and globs") {
    val root = Files.createTempDirectory("graft_tables_sink").toString
    // non-nullable columns: the Spark row-metadata schema is what the
    // footer carries, and the reader must still report them nullable
    val df = spark.range(0, 40, 1, 3)
      .select(col("id"), (col("id") % 4).as("k"), lit("x").as("s"))
    df.write.parquet(s"$root/flat")
    df.filter(col("k") === 0L).write.parquet(s"$root/b0")
    df.filter(col("k") =!= 0L).write.parquet(s"$root/b1")
    Seq(s"$root/flat", s"$root/b*").foreach { p =>
      assert(Tables.parquet(spark, p).schema == spark.read.parquet(p).schema, p)
      assert(Tables.parquet(spark, p).count() == spark.read.parquet(p).count(), p)
    }
    // a partitioned layout falls back to Spark's own discovery
    df.write.partitionBy("k").parquet(s"$root/parted")
    assert(Tables.parquet(spark, s"$root/parted").schema ==
      spark.read.parquet(s"$root/parted").schema)
  }

  test("a dir whose files sit only in plain subdirs fails as Spark's read does") {
    // Spark reads an unpartitioned root's own files only; a footer
    // borrowed from a subdir would turn its error into 0 rows
    val root = Files.createTempDirectory("graft_tables_nested").toString
    val df = spark.range(0, 10).toDF("id")
    df.write.parquet(s"$root/b0")
    df.write.parquet(s"$root/b1")
    val theirs = intercept[org.apache.spark.sql.AnalysisException](
      spark.read.parquet(root))
    val ours = intercept[org.apache.spark.sql.AnalysisException](
      Tables.parquet(spark, root))
    assert(ours.getCondition == "UNABLE_TO_INFER_SCHEMA")
    assert(ours.getMessage == theirs.getMessage)
    // the subdirs themselves read through the footer as before
    assert(Tables.parquet(spark, s"$root/b0").count() == 10)
  }

  test("Tables reads start no Spark job; a bare spark.read.parquet does") {
    Tables.names.foreach { name =>
      assert(jobsDuring(Tables(spark, TestSpark.sf, name)) == 0, name)
    }
    // the counter sees the schema-inference job the footer read avoids
    assert(jobsDuring(spark.read.parquet(path("region"))) >= 1)
  }
}
