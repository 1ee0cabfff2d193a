package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions.{col, split}
import graft.operators.{Topics, TextAnalytics}

/** LDA invariants (SURVEY.md §5.3 — bit-exact match to the reference's
  * Gibbs sampler is impossible/not required; SURVEY.md §7.4). */
class TopicsSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  test("LDA top terms: shape, probability cut, stopword-free") {
    val rows = Topics.topTerms(spark, TestSpark.sf).collect()
    assert(rows.nonEmpty)
    val byTopic = rows.groupBy(_.getLong(0))
    assert(byTopic.keySet.subsetOf((0L until Topics.K.toLong).toSet))
    byTopic.values.foreach { terms =>
      assert(terms.length <= Topics.TOP_TERMS)
      // rk sequential from 1
      assert(terms.map(_.getLong(1)).sorted.toSeq == (1L to terms.length).toSeq)
    }
    rows.foreach { r =>
      val name = r.getString(2); val conf = r.getDouble(3)
      assert(conf > Topics.MIN_PROB * 100 - 1e-9 && conf <= 100.0)
      assert(!TextAnalytics.stopwords.contains(name))
      assert(name.length > 1 && !name.startsWith("http"))
    }
  }

  test("LDA is deterministic under fixed seed") {
    val a = Topics.topTerms(spark, TestSpark.sf).collect().map(_.toSeq).toSeq
    val b = Topics.topTerms(spark, TestSpark.sf).collect().map(_.toSeq).toSeq
    assert(a == b)
  }

  test("LDA determinism is PER LAYOUT: seeded reruns at a fixed width agree") {
    // Partitioning-invariance was tested and empirically REFUTED
    // (2026-08: hash-partitioning the corpus at widths 2 vs 8 under
    // seed 42 yields disjoint-ish topic-term sets) — inherent to
    // online variational LDA, whose minibatch subsampling draws
    // per-partition; the EM optimizer seeds per partition index too.
    // So the honest, testable contract — declared terminal in
    // SURVEY.md §8 — is: the seeded fit is a deterministic function of
    // (data, layout). Same width twice must agree exactly; the
    // cross-width comparison is intentionally absent.
    def sets(p: Int): Map[Long, Set[String]] =
      Topics.topTerms(spark, TestSpark.sf, Some(p)).collect()
        .groupBy(_.getLong(0))
        .map { case (t, rs) => t -> rs.map(_.getString(2)).toSet }
    assert(sets(2) == sets(2))
    assert(sets(8) == sets(8))
  }

  test("q_topics_per_doc: per-doc shape, 2% cut, smoothed-tf monotone in count") {
    val rows = Topics.queries("q_topics_per_doc")(spark, TestSpark.sf).collect()
    assert(rows.nonEmpty)
    rows.groupBy(_.getLong(0)).values.foreach { terms =>
      assert(terms.length <= Topics.TOP_TERMS)
      assert(terms.map(_.getLong(1)).sorted.toSeq == (1L to terms.length).toSeq)
      // confidence non-increasing in rank (φ is monotone in count)
      val byRk = terms.sortBy(_.getLong(1)).map(_.getDouble(3))
      assert(byRk.zip(byRk.tail).forall { case (a, b) => a >= b })
    }
    rows.foreach(r => assert(r.getDouble(3) >= 2.0 && r.getDouble(3) <= 100.0))
  }

  test("q_topics_per_doc equals an independent K=1 Gibbs-fixpoint computation") {
    // The reference runs its Gibbs sampler with numberOfTopics=1
    // (topics.js:30): every token can only be assigned to the single
    // topic, so the sampler's fixpoint is EXACT and deterministic —
    // φ(w) = (cnt(w) + β) / (N + V·β) (Spark ML's LDA rejects K=1,
    // which is fine: there is nothing iterative left to fit). This
    // re-derives that closed form in plain Scala over the raw text —
    // a fully independent code path from the query's Spark window/agg
    // plan — and asserts row-for-row equality on a sample of docs.
    val docs = Tables(spark, TestSpark.sf, "documents")
      .select(col("doc_id"), col("text"))
      .filter(col("doc_id") < 20).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    val stop = TextAnalytics.stopwords.toSet
    val expected = docs.toSeq.flatMap { case (id, text) =>
      val toks = text.toLowerCase(java.util.Locale.ROOT).split(" ", -1)
        .filter(t => t.length > 1 && !t.startsWith("http") && !stop(t))
      if (toks.isEmpty) Seq.empty
      else {
        val cnt = toks.groupBy(identity).map { case (w, xs) => w -> xs.length }
        val n = toks.length
        val v = cnt.size
        cnt.toSeq.sortBy { case (w, c) => (-c, w) }.zipWithIndex
          .take(Topics.TOP_TERMS)
          .map { case ((w, c), i) =>
            val conf = BigDecimal(
              100.0 * (c + Topics.BETA) / (n + v * Topics.BETA))
              .setScale(9, BigDecimal.RoundingMode.HALF_UP).toDouble
            (id, (i + 1).toLong, w, conf)
          }
          .filter(_._4 >= 2.0)
      }
    }.sortBy(t => (t._1, t._2))
    val actual = Topics.queries("q_topics_per_doc")(spark, TestSpark.sf)
      .filter(col("doc_id") < 20).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getString(2), r.getDouble(3))).toSeq
    assert(actual.nonEmpty)
    assert(actual == expected,
      s"first diff: ${actual.zip(expected).find { case (a, e) => a != e }}")
  }

  test("q_lda_topics content pin: (data, layout)-pinned hash cannot silently drift") {
    // The one rows-only query in SparkEntry (layout-invariance for K>1
    // online-variational LDA is refuted — see the PER LAYOUT test).
    // This pins the exact content for THE fixed (sf0.001, TestSpark
    // local[4]) pair so regressions the rows-only gate can't see
    // (vocab changes, seed drift, rank reorder) fail loudly here.
    // Recompute the pin by running with -Dgraft.pin.print=1.
    val rows = Topics.topTerms(spark, TestSpark.sf).collect()
      .map(r => s"${r.getLong(0)}|${r.getLong(1)}|${r.getString(2)}|" +
        BigDecimal(r.getDouble(3)).setScale(6, BigDecimal.RoundingMode.HALF_UP))
      .mkString("\n")
    val md = java.security.MessageDigest.getInstance("SHA-256")
    val hash = md.digest(rows.getBytes("UTF-8")).map("%02x".format(_)).mkString
    if (sys.props.get("graft.pin.print").contains("1")) info(s"PIN=$hash")
    assert(hash == PINNED_LDA_SF0001, s"content hash drifted: $hash\n$rows")
  }
  private val PINNED_LDA_SF0001 =
    "8c867781b94daf484da1618dbbf3aad30d73a7fcb4e0635c67491edccbee9b0f"

  test("degenerate-K oracle is impossible through the ML path: LDA rejects k=1") {
    // The r10 probe behind the q_lda_topics declaration (Topics.scala):
    // at K=1 the posterior collapses to the q_topics_per_doc closed
    // form, which would make a DuckDB oracle exact — but Spark ML
    // validates k > 1, so that upgrade path does not exist. If a
    // future Spark release lifts the restriction, this pin fails and
    // the rows-only declaration should be revisited.
    val e = intercept[IllegalArgumentException] {
      new org.apache.spark.ml.clustering.LDA().setK(1)
    }
    assert(e.getMessage.contains("invalid value"))
  }
}
