package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.operators.{Analytic, Dedup}

/** The `graft.checkpoint.dir` knob (operators/Iterate.scala): unset →
  * localCheckpoint (executor blocks, local-mode default); set → a
  * RELIABLE checkpoint() into the configured fault-tolerant dir, the
  * lost-executor-safe posture for iterative kernels on a real
  * cluster. The contract under test: the knob is honored (files
  * actually land in the dir) and results are mode-invariant. A
  * source-level case also pins the set of `-Dgraft.*` JVM properties
  * that main source reads. */
class CheckpointModeSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  private def withCheckpointDir[A](dir: String)(f: => A): A = {
    spark.conf.set("graft.checkpoint.dir", dir)
    try f finally spark.conf.unset("graft.checkpoint.dir")
  }

  /** Runs `query` in local and in reliable mode: the rows must match
    * and checkpoint part files must land under the configured dir. */
  private def assertReliableMode(
      query: (org.apache.spark.sql.SparkSession, String) =>
        org.apache.spark.sql.DataFrame): Unit = {
    val base = query(spark, TestSpark.sf).collect().map(_.toSeq).toSet
    TestSpark.housekeeping()
    val dir = java.nio.file.Files.createTempDirectory("graft-ckpt").toFile
    try {
      val reliable = withCheckpointDir(dir.getAbsolutePath) {
        query(spark, TestSpark.sf).collect().map(_.toSeq).toSet
      }
      assert(reliable == base)
      // checkpoint() must have materialized RDDs under the dir
      def allFiles(f: java.io.File): Seq[java.io.File] =
        if (f.isDirectory) f.listFiles().toSeq.flatMap(allFiles) else Seq(f)
      val parts = allFiles(dir).filter(_.getName.startsWith("part-"))
      assert(parts.nonEmpty,
        s"no checkpoint part files under ${dir.getAbsolutePath}")
    } finally {
      TestSpark.housekeeping()
      Fs.deleteRec(dir)
    }
  }

  test("reliable mode writes into graft.checkpoint.dir and results are unchanged") {
    assertReliableMode(Dedup.queries("q_cc_stars"))
  }

  // label propagation's single final cut goes through Iterate.cut too,
  // so reliable mode covers it like every other iterative kernel
  test("reliable mode covers label propagation (q_modularity)") {
    assertReliableMode(Analytic.queries("q_modularity"))
  }

  test("clearCheckpoints reclaims accumulated reliable-checkpoint data between queries") {
    val dir = java.nio.file.Files.createTempDirectory("graft-ckpt-gc").toFile
    try {
      withCheckpointDir(dir.getAbsolutePath) {
        Dedup.queries("q_cc_stars")(spark, TestSpark.sf).collect()
        assert(dir.listFiles().nonEmpty, "no checkpoint data accumulated")
        // Spark never GCs non-streaming checkpoints on its own
        // (Iterate.scala scaladoc) — the housekeeping hook must
        graft.operators.Iterate.clearCheckpoints(spark)
        assert(dir.listFiles().isEmpty,
          "checkpoint contents must be reclaimed")
        assert(dir.isDirectory, "the configured dir itself must survive")
        // and the NEXT reliable-mode query still works after the sweep
        val again = Dedup.queries("q_cc_stars")(spark, TestSpark.sf).count()
        assert(again > 0)
      }
    } finally {
      TestSpark.housekeeping()
      Fs.deleteRec(dir)
    }
  }

  test("src/main reads exactly the four -Dgraft.* properties README lists") {
    // grep-level pin against knob creep: every JVM system property
    // read in main source must have a literal key, and the graft.*
    // keys must be the README's list (graft.checkpoint.dir above is a
    // session conf, not a JVM property)
    val read = """(?:sys\.props|System\.getProperty)\b(.{0,40})""".r
    val graftKey = """^(?:\.get|\.contains|\.getOrElse)?\(\s*"(graft\.[^"]+)"""".r
    def sources(f: java.io.File): Seq[java.io.File] =
      if (f.isDirectory) f.listFiles().toSeq.flatMap(sources)
      else if (f.getName.endsWith(".scala") || f.getName.endsWith(".java"))
        Seq(f)
      else Nil
    val calls = sources(new java.io.File("src/main")).flatMap { f =>
      val text = new String(java.nio.file.Files.readAllBytes(f.toPath),
        java.nio.charset.StandardCharsets.UTF_8)
      read.findAllMatchIn(text).map(m => f.getName -> m.group(1)).toSeq
    }
    assert(calls.nonEmpty, "the scan found no property reads at all")
    val keys = calls.flatMap { case (file, rest) =>
      graftKey.findFirstMatchIn(rest).map(_.group(1)).orElse {
        assert(rest.startsWith("(\"java."),
          s"$file reads a system property without a literal graft.* key: $rest")
        None
      }
    }.toSet
    assert(keys == Set("graft.explain", "graft.stopwords.files",
      "graft.unigram.keep", "graft.bpe.rounds"),
      s"-Dgraft.* properties read in src/main: ${keys.toSeq.sorted}")
  }

  test("iterative kernel still runs with the knob unset (local mode)") {
    assert(spark.conf.getOption("graft.checkpoint.dir").isEmpty)
    val rows = Dedup.queries("q_dedup_clusters")(spark, TestSpark.sf).count()
    TestSpark.housekeeping()
    assert(rows > 0)
  }
}
