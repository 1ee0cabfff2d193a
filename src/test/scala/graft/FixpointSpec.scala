package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.functions._
import graft.operators.{Analytic, Dedup, Iterate}

/** `Iterate.fixpoint`, the one round loop of the data-dependent graph
  * kernels (k-core, star contraction, hybrid CC): its exits, its round
  * cap and the callers' backstop messages, and the Spark job count of
  * the five kernel queries against the counts the hand-rolled loops
  * ran before `fixpoint` existed. */
class FixpointSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  test("an empty init converges after 0 rounds without running step") {
    var steps = 0
    val (out, rounds, converged) =
      Iterate.fixpoint(Seq.empty[Long].toDF("x"), 5)(sum(col("x"))) { cur =>
        steps += 1
        cur
      }
    assert((rounds, converged, steps) == (0, true, 0))
    assert(out.isEmpty)
  }

  test("an unchanged probe stops the loop; a count of 0 stops it too") {
    // x -> min(x, 2) is a fixpoint after one round, confirmed by a second
    val (fixed, r1, c1) =
      Iterate.fixpoint(Seq(1L, 5L, 9L).toDF("x"), 10)(sum(col("x"))) {
        _.select(least(col("x"), lit(2L)).as("x"))
      }
    assert((r1, c1) == (2, true))
    assert(fixed.as[Long].collect().sorted.toSeq == Seq(1L, 2L, 2L))
    // dropping the largest row empties a 3-row frame in 3 rounds
    val (empty, r2, c2) =
      Iterate.fixpoint(Seq(1L, 5L, 9L).toDF("x"), 10)() { cur =>
        cur.join(cur.agg(max(col("x")).as("m")), col("x") =!= col("m"))
          .select(col("x"))
      }
    assert((r2, c2) == (3, true))
    assert(empty.isEmpty)
  }

  test("a loop that never converges stops after exactly maxRounds rounds") {
    var steps = 0
    val (out, rounds, converged) =
      Iterate.fixpoint(Seq(1L).toDF("x"), 3)(sum(col("x"))) { cur =>
        steps += 1
        cur.select((col("x") + 1).as("x"))
      }
    assert((rounds, converged, steps) == (3, false, 3))
    assert(out.as[Long].collect().toSeq == Seq(4L))
  }

  test("the k-core and star-contraction backstops still fail loudly") {
    // a 9-clique (every degree 8 = K) plus a pendant edge: round 1
    // peels the pendant, so one round cannot confirm the fixpoint
    val clique = for (u <- 1L to 9L; v <- (u + 1) to 9L) yield (u, v)
    val g = (clique :+ ((9L, 100L))).toDF("u", "v")
    val k = intercept[IllegalArgumentException] {
      Analytic.kcore(g, maxRounds = 1).collect()
    }
    assert(k.getMessage.contains("q_kcore: peeling exceeded 1 rounds"))
    assert(Analytic.kcore(g).as[(Long, Long)].collect().toSet ==
      (1L to 9L).map(_ -> 8L).toSet)
    // a 64-node path needs several alternations
    val path = (1L until 64L).map(i => (i, i + 1)).toDF("src", "dst")
    val st = intercept[IllegalArgumentException] {
      Dedup.ccStarsWithRounds(path, maxRounds = 1)
    }
    assert(st.getMessage.contains(
      "ccStars: star contraction did not reach a fixpoint within 1 alternations"))
    TestSpark.housekeeping()
  }

  /** Spark jobs one query starts, building and collecting it, counted
    * by a `SparkListener` under a fresh job group. The listener bus is
    * asynchronous but FIFO, so a marker job in its own group is run
    * afterwards and awaited: once the marker shows, every job of the
    * query has been delivered too. */
  private def jobsOf(name: String): Int = {
    val sc = spark.sparkContext
    val group = s"fixpoint-spec-$name-" + java.util.UUID.randomUUID()
    val marker = group + "-marker"
    val seen = new java.util.concurrent.ConcurrentHashMap[String, Integer]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        Option(e.properties).flatMap(p =>
            Option(p.getProperty("spark.jobGroup.id")))
          .foreach(g => seen.merge(g, 1, (a, b) => a + b))
    }
    sc.addSparkListener(listener)
    try {
      sc.setJobGroup(group, group)
      try SparkEntry.queries(name)(spark, TestSpark.sf).collect()
      finally sc.clearJobGroup()
      sc.setJobGroup(marker, marker)
      try sc.parallelize(Seq(1), 1).count() finally sc.clearJobGroup()
      val deadline = System.nanoTime() + 30L * 1000000000L
      while (!seen.containsKey(marker) && System.nanoTime() < deadline)
        Thread.sleep(10)
      assert(seen.containsKey(marker), "listener never saw the marker job")
      Option(seen.get(group)).map(_.intValue).getOrElse(0)
    } finally {
      sc.removeSparkListener(listener)
      TestSpark.housekeeping()
    }
  }

  // jobs per query at sf0.001 under TestSpark (local[4], 4 shuffle
  // partitions) with the hand-rolled loops `fixpoint` replaced
  private val jobsBefore = Map(
    "q_kcore" -> 38,
    "q_bfs_distance" -> 29,
    "q_sssp" -> 74,
    "q_dedup_clusters" -> 18,
    "q_cc_stars" -> 32)

  test("the five kernel queries start no more Spark jobs than the hand-rolled loops") {
    jobsBefore.foreach { case (q, before) =>
      val now = jobsOf(q)
      assert(now <= before, s"$q: $now jobs, was $before")
    }
  }
}
