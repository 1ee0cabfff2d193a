package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.operators.TextAnalytics
import TestSpark.spark

/** q_unigram_lm — the Viterbi-EM unigram tokenizer trainer (VERDICT
  * r12 item 4; prune SCHEDULE r13 item 5). Pins the prune-round
  * invariants the DuckDB oracle can't see as *properties*:
  * required-character survival, vocab set algebra across every prune
  * round of the schedule, probability normalization, the exact
  * char-conservation law of a Viterbi segmentation (every char of
  * every word is covered by exactly one piece, so Σ cnt·len over the
  * piece table equals the corpus' weighted char total — an integer
  * identity, not an approximation), and the trainers' schedule and
  * round-count parameters at a second value.
  */
class UnigramLmSpec extends AnyFunSuite {

  // (rnd, piece, len, cnt, p, kept)
  private def trainRows(df: DataFrame)
      : Array[(Long, String, Long, Long, Double, Boolean)] =
    df.collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3),
        r.getDouble(4), r.getBoolean(5)))

  private lazy val rows =
    trainRows(TextAnalytics.queries("q_unigram_lm")(spark, TestSpark.sf))

  // default schedule 24 -> 16: prune rounds 1..2, final report round 3
  private val SCHED = Seq(24L, 16L)
  private val ROUNDS = (1L to (SCHED.length + 1L)).toSeq

  private lazy val weightedChars: Long = {
    val d = Tables(spark, TestSpark.sf, "documents")
      .select(explode(split(lower(col("text")), " ")).as("w"))
      .filter(length(col("w")) > 0)
      .agg(sum(length(col("w"))).as("n")).collect()(0)
    d.getLong(0)
  }

  test("required chars survive every prune; kept 2-grams respect the schedule widths") {
    SCHED.zipWithIndex.foreach { case (keep, i) =>
      val r = rows.filter(_._1 == i + 1L)
      assert(r.nonEmpty, s"round ${i + 1} empty")
      r.filter(_._3 == 1L).foreach { x =>
        assert(x._6, s"single-char piece '${x._2}' pruned in round ${i + 1}")
      }
      val keptGrams = r.count(x => x._3 == 2L && x._6)
      assert(keptGrams <= keep,
        s"round ${i + 1} kept $keptGrams 2-grams > schedule width $keep")
      // non-degenerate: each round had real 2-grams to prune
      assert(r.count(_._3 == 2L) > keptGrams,
        s"round ${i + 1} had nothing to drop - fixture too small")
    }
  }

  test("each round's vocabulary is exactly the previous round's kept set") {
    ROUNDS.sliding(2).foreach { case Seq(a, b) =>
      val keptA = rows.filter(r => r._1 == a && r._6).map(_._2).toSet
      val vocabB = rows.filter(_._1 == b).map(_._2).toSet
      assert(vocabB == keptA,
        s"round $a->$b: extra=${(vocabB -- keptA).take(5)} " +
          s"missing=${(keptA -- vocabB).take(5)}")
    }
    assert(rows.filter(_._1 == ROUNDS.last).forall(_._6),
      "final report round must be all-kept")
  }

  test("probabilities normalize per round (round-9 ulp tolerance)") {
    ROUNDS.foreach { rnd =>
      val rs = rows.filter(_._1 == rnd)
      val tot = rs.map(_._5).sum
      assert(math.abs(tot - 1.0) <= 5e-10 * rs.length + 1e-9,
        s"round $rnd probs sum to $tot")
    }
  }

  test("Viterbi char conservation: sum(cnt*len) per round equals the weighted corpus chars exactly") {
    ROUNDS.foreach { rnd =>
      val covered = rows.filter(_._1 == rnd).map(r => r._4 * r._3).sum
      assert(covered == weightedChars,
        s"round $rnd covers $covered of $weightedChars chars")
      val pieces = rows.filter(_._1 == rnd).map(_._4).sum
      assert(pieces >= (weightedChars + 1) / 2 && pieces <= weightedChars,
        s"round $rnd piece total $pieces outside [chars/2, chars]")
    }
    // pruning 2-grams can only lengthen segmentations: piece totals
    // must be non-decreasing down the schedule (measured property)
    val totals = ROUNDS.map(r => rows.filter(_._1 == r).map(_._4).sum)
    totals.sliding(2).foreach { case Seq(a, b) =>
      assert(b >= a, s"piece total shrank across a prune: $totals")
    }
    TestSpark.housekeeping()
  }

  test("encode = train: q_unigram_encode piece totals equal the final round's counts exactly") {
    val enc = TextAnalytics
      .queries("q_unigram_encode")(spark, TestSpark.sf)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(enc.nonEmpty)
    // both count the SAME best segmentations (one definition, two
    // grains): sum over docs of pieces == sum over pieces of the
    // final round's counts — an integer identity
    val encTotal = enc.map(_._3).sum
    val rFTotal = rows.filter(_._1 == ROUNDS.last).map(_._4).sum
    assert(encTotal == rFTotal,
      s"encode total $encTotal != final round count total $rFTotal")
    enc.filter(_._2 > 0).foreach { case (id, ws, np) =>
      assert(np >= ws, s"doc $id: fewer pieces than words")
    }
    TestSpark.housekeeping()
  }

  test("keep schedule [16]: a second schedule retrains in lockstep on both engines (VERDICT r13 item 5)") {
    val alt = trainRows(TextAnalytics.unigramLm(spark, TestSpark.sf, Seq(16)))
    // single-cut legacy schedule: rounds 1 (prune at 16) + 2 (final)
    assert(alt.map(_._1).distinct.sorted.toSeq == Seq(1L, 2L),
      s"rounds under schedule [16]: ${alt.map(_._1).distinct.toSeq}")
    assert(alt.count(r => r._1 == 1L && r._3 == 2L && r._6) <= 16)
    // the conservation law is schedule-independent
    Seq(1L, 2L).foreach { rnd =>
      val covered = alt.filter(_._1 == rnd).map(r => r._4 * r._3).sum
      assert(covered == weightedChars,
        s"schedule [16] round $rnd covers $covered of $weightedChars")
    }
    // and the generated oracle takes the same schedule: exactly one
    // prune round (ukept1, no ukept2) at width 16
    val sql = TextAnalytics.unigramLmOracle(Seq(16))
    assert(sql.contains("rk <= 16") && sql.contains("ukept1") &&
      !sql.contains("ukept2"), "oracle SQL not in lockstep with the schedule")
    assert(TextAnalytics.oracles("q_unigram_lm") ==
      TextAnalytics.unigramLmOracle(SCHED.map(_.toInt)))
    // invalid schedules fail loudly
    intercept[IllegalArgumentException] {
      TextAnalytics.unigramLm(spark, TestSpark.sf, Seq(16, 24))
    }
    TestSpark.housekeeping()
  }

  test("q_tokenizer_compare: bake-off totals are the encode identity; winner non-degenerate (r14)") {
    val cmp = TextAnalytics
      .queries("q_tokenizer_compare")(spark, TestSpark.sf)
      .collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getString(6))) // (source, ws, bpe, uni, winner)
    assert(cmp.nonEmpty)
    // the unigram column counts the SAME Viterbi segmentations as
    // q_unigram_encode — their corpus totals are an integer identity
    val encTotal = TextAnalytics
      .queries("q_unigram_encode")(spark, TestSpark.sf)
      .collect().map(_.getLong(2)).sum
    assert(cmp.map(_._4).sum == encTotal,
      s"bake-off unigram total ${cmp.map(_._4).sum} != encode total $encTotal")
    // fertility sanity: every family needs at least one piece per word
    cmp.foreach { case (src, ws, bpe, uni, _) =>
      assert(bpe >= ws && uni >= ws, s"$src: fewer pieces than words")
    }
    // measured on the fixture: the schedule-pruned unigram's optimal
    // Viterbi segmentation beats 3 greedy BPE merges on every source
    // (3.53 vs 4.14 pieces/word at sf0.1) — the decision column is
    // non-degenerate in a direction the fixture pins
    assert(cmp.forall(_._5 == "unigram"),
      s"winners: ${cmp.map(c => c._1 -> c._5).take(5)}")
    TestSpark.housekeeping()
  }

  test("6 BPE rounds: a deeper merge table trains in lockstep on both engines (VERDICT r14 item 3)") {
    def merges(rounds: Int): Array[(Long, String, String, Long)] =
      TextAnalytics.bpeMerges(spark, TestSpark.sf, rounds)
        .collect()
        .map(r => (r.getLong(0), r.getString(1), r.getString(2), r.getLong(3)))
    def bpeTotal(fertility: DataFrame): Long =
      fertility.collect().map(_.getLong(2)).sum
    // the registry's 3 merges
    val base = bpeTotal(
      TextAnalytics.queries("q_tokenizer_fertility")(spark, TestSpark.sf))
    val m = merges(6)
    assert(m.map(_._1).toSeq == (1L to 6L),
      s"rounds under 6 BPE rounds: ${m.map(_._1).toSeq}")
    m.foreach { case (_, pair, merged, _) =>
      assert(merged == pair.replace(" ", ""))
    }
    // max pair count is weakly non-increasing across merge rounds:
    // a new pair (x, lr) can only occur where (l r) just merged, so
    // its count is bounded by the merged pair's; old pairs only
    // lose occurrences
    m.map(_._4).toSeq.sliding(2).foreach { case Seq(a, b) =>
      assert(b <= a, s"pair counts increased: ${m.map(_._4).toSeq}")
    }
    // more merges can only shrink (or hold) the encoded token total
    assert(bpeTotal(TextAnalytics.tokenizerFertility(spark, TestSpark.sf, 6)) <= base,
      "6-merge encode produced more tokens than 3-merge")
    // the generated oracle takes the same count: 6 argmax CTEs, not 7
    val sql = TextAnalytics.bpeMergesOracle(6)
    assert(sql.contains("b6 ") && !sql.contains("b7"),
      "oracle SQL not in lockstep with the BPE round count")
    assert(TextAnalytics.oracles("q_bpe_merges") ==
      TextAnalytics.bpeMergesOracle(3))
    intercept[IllegalArgumentException] { merges(0) }
    TestSpark.housekeeping()
  }

  test("q_bpe_vocab_curve: char baseline at depth 0, non-increasing fertility, full depth = the fertility report total (r15)") {
    val curve = TextAnalytics
      .queries("q_bpe_vocab_curve")(spark, TestSpark.sf)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    assert(curve.map(_._1).toSeq == (0L to 3L), // default 3 merges
      s"depths: ${curve.map(_._1).toSeq}")
    // merge 0 = every char its own symbol: the token total IS the
    // weighted corpus char count — an integer identity
    assert(curve.head._2 == weightedChars,
      s"depth-0 total ${curve.head._2} != corpus chars $weightedChars")
    // a merge can only shrink (or hold) segmentations
    curve.map(_._2).toSeq.sliding(2).foreach { case Seq(a, b) =>
      assert(b <= a, s"token total grew with depth: ${curve.map(_._2).toSeq}")
    }
    // the full-depth point is exactly the fertility report's corpus
    // total (one encode kernel, two groupings)
    val fert = TextAnalytics
      .queries("q_tokenizer_fertility")(spark, TestSpark.sf)
      .collect().map(_.getLong(2)).sum
    assert(curve.last._2 == fert,
      s"curve full-depth ${curve.last._2} != fertility total $fert")
    TestSpark.housekeeping()
  }

  test("encode kernel refuses an untrained (empty) cost map") {
    // the model is threaded explicitly (no process-global handoff);
    // an empty map means the caller skipped training — fail loudly
    // instead of segmenting everything at the unknown-piece sentinel
    val docs = Tables(spark, TestSpark.sf, "documents")
      .select(col("doc_id"), col("text"))
    val e = intercept[IllegalArgumentException] {
      TextAnalytics.unigramEncodeFrame(Map.empty)(docs)
    }
    assert(e.getMessage.contains("trained cost map"))
  }
}
