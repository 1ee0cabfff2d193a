package graft.operators

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.functions.{count, lit}

/** Plan truncation for iterative kernels (connected components, label
  * propagation, PageRank/HITS, BFS/SSSP, k-core): each round's frame
  * must be materialized with its lineage CUT, or the logical plan
  * doubles per round and the driver dies planning round ~20. Kernels
  * whose round count depends on the data loop through [[fixpoint]],
  * which cuts every round and never unpersists a cut frame.
  *
  * Two materialization modes, chosen by the `graft.checkpoint.dir`
  * session conf:
  *
  *   - unset (default, and the right call on local[n]):
  *     `localCheckpoint(eager)` — blocks live on executor block
  *     managers, no filesystem round-trip. On a real cluster a lost
  *     executor loses its blocks AND the truncated lineage that could
  *     recompute them — the job dies. Fine single-JVM, wrong at scale.
  *
  *   - set to a (fault-tolerant) directory: reliable
  *     `checkpoint(eager)` — blocks are written to the directory, so
  *     a lost executor re-reads instead of failing the job. This is
  *     the 1000-executor posture; the dir should be on the cluster FS
  *     (HDFS/S3), never executor-local disk.
  *
  * The knob is read per call, so a session can flip modes between
  * queries; the SparkContext checkpoint dir is (re)set only when the
  * conf value changes. Both modes are eager — every kernel counts on
  * rounds materializing before the next round's self-reference.
  *
  * OPERATIONAL LIMITS of reliable mode (both inherent to Spark's
  * non-streaming `checkpoint()`, documented so a deployment plans for
  * them rather than discovering them from a full disk):
  *
  *   - GC: checkpoint data is NOT reclaimed by Spark unless
  *     `spark.cleaner.referenceTracking.cleanCheckpoints=true` is set
  *     at SparkContext construction (and even then only when the RDD
  *     is GC'd on the driver). A long-lived app that runs iterative
  *     kernels should either set that conf when building the session
  *     or periodically clear the dir between queries, as the harness
  *     mains do — every kernel's rounds otherwise accumulate for the
  *     app lifetime.
  *   - Scope: the checkpoint dir is per-SPARKCONTEXT, not per-session.
  *     All `SparkSession`s sharing one context share one dir; two
  *     sessions configuring DIFFERENT `graft.checkpoint.dir` values
  *     flip the one global dir back and forth (each cut lands in the
  *     most recently set dir, never interleaving within a cut). The
  *     `lastDir` cache below exists to skip redundant FS resolution,
  *     not to provide per-session isolation — there is none to have.
  */
object Iterate {

  // last dir actually pushed to the (context-global, see scaladoc)
  // SparkContext checkpoint location, to avoid re-resolving the path
  // every round (setCheckpointDir does FS calls)
  @volatile private var lastDir: String = null

  def cut(df: DataFrame): DataFrame = {
    // the consumer query's final plan shows only ExistingRDD scans of
    // the checkpointed rounds, so per-round plan shapes are dumped here
    graft.Tables.explain("cut plan", df)
    val s = df.sparkSession
    s.conf.getOption("graft.checkpoint.dir") match {
      case Some(dir) if dir.nonEmpty =>
        if (dir != lastDir) synchronized {
          if (dir != lastDir) {
            s.sparkContext.setCheckpointDir(dir)
            lastDir = dir
          }
        }
        df.checkpoint(eager = true)
      case _ => df.localCheckpoint(eager = true)
    }
  }

  /** The one round loop for kernels whose round count depends on the
    * data (k-core peeling, star contraction, hybrid CC). `init` is
    * probed once; each round then cuts `step(cur)` and runs ONE probe
    * job, `agg(count(*), probe: _*)`. The loop stops when the probe row
    * equals the previous round's (each caller's probe is a one-row
    * digest that repeats only at the fixpoint) or when the row count
    * is 0, without running `step` on an empty frame. Returns
    * (frame, rounds, converged); `converged` is false only when
    * `maxRounds` rounds ran without reaching either exit, and what that
    * means (fail loudly, fall back) is the caller's policy.
    *
    * Fixed-round kernels (PageRank, HITS, LPA, NN-Descent, the beam
    * walk, Lloyd) stay plain `for`/`foldLeft` loops: they stop on a
    * constant, so this loop would only wrap them.
    *
    * Cut frames are never unpersisted here: `Dataset.unpersist` only
    * drops `CacheManager` entries, and a (local)checkpointed frame has
    * none, so the call frees nothing. The round blocks stay until the
    * harness's between-query housekeeping unpersists every RDD. */
  def fixpoint(init: DataFrame, maxRounds: Int)(probe: Column*)(
      step: DataFrame => DataFrame): (DataFrame, Int, Boolean) = {
    def measure(df: DataFrame): Row = df.agg(count(lit(1)), probe: _*).head()
    @scala.annotation.tailrec
    def go(cur: DataFrame, mark: Row, rounds: Int): (DataFrame, Int, Boolean) =
      if (mark.getLong(0) == 0L) (cur, rounds, true)
      else if (rounds >= maxRounds) (cur, rounds, false)
      else {
        val next = cut(step(cur))
        val m = measure(next)
        if (m == mark) (next, rounds + 1, true) else go(next, m, rounds + 1)
      }
    go(init, measure(init), 0)
  }

  /** Drop accumulated reliable-checkpoint data (no-op when the knob is
    * unset). Safe ONLY between queries — after a query's result is
    * materialized, none of its checkpointed lineage is referenced.
    * Deletes the dir's CONTENTS, not the dir, so a configured path
    * (possibly a mount point) survives. The harness mains call this in
    * their inter-query housekeeping; a long-lived deployment should do
    * the same or set `spark.cleaner.referenceTracking.cleanCheckpoints`
    * at context construction. */
  def clearCheckpoints(s: org.apache.spark.sql.SparkSession): Unit =
    s.conf.getOption("graft.checkpoint.dir").filter(_.nonEmpty).foreach {
      dir =>
        val f = new java.io.File(dir)
        if (f.isDirectory)
          Option(f.listFiles()).foreach(_.foreach(graft.Fs.deleteRec))
    }

  /** `.cut()` chaining syntax so kernel code reads like the
    * `.localCheckpoint(true)` it replaces. */
  implicit class CutOps(private val df: DataFrame) extends AnyVal {
    def cut(): DataFrame = Iterate.cut(df)
  }
}
